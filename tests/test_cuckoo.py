"""Cuckoo-filter seen-set family (anycrawl_spark/cuckoo.py): no false
negatives, bounded false positives, saturation degrade, and
byte-identical crawl parity vs the Bloom family (north rule: "partitioned
Bloom/cuckoo filter")."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from anycrawl_spark import cuckoo
from anycrawl_spark.crawl import CrawlConfig, CrawlEngine
from anycrawl_spark.seen import filter_family


def hx(i: int) -> str:
    return hashlib.sha256(f"k{i}".encode()).hexdigest()


HASHES = [hx(i) for i in range(5000)]
FRESH = [hx(i) for i in range(5000, 10000)]


class TestCuckooCore:
    def test_no_false_negatives_and_fp_bound(self):
        seg = cuckoo.build_segments_driver(HASHES, num_buckets=8)
        def member(h):
            blob = seg.get(int(h[:8], 16) % 8)
            if blob is None:
                return False
            arr, sat = cuckoo._decode(blob)
            if sat:
                return True
            fp, i1 = cuckoo._fp_i1(h, cuckoo.DEFAULT_N_SLOTS)
            return cuckoo._contains(arr, fp, i1, cuckoo.DEFAULT_N_SLOTS)

        assert all(member(h) for h in HASHES)          # no false negatives
        fps = sum(member(h) for h in FRESH)
        # 16-bit fp, 4-way, 2 buckets probed: expected FP ~ 8/65536 = 0.012%
        assert fps / len(FRESH) < 0.005

    def test_build_is_deterministic(self):
        a = cuckoo.build_segments_driver(HASHES, num_buckets=4)
        b = cuckoo.build_segments_driver(list(reversed(HASHES)), num_buckets=4)
        assert a == b                                   # sorted insertion

    def test_n_slots_validation(self):
        for bad in (0, -4, 3, 48):
            with pytest.raises(ValueError, match="power of two"):
                cuckoo.check_n_slots(bad)

    def test_saturation_degrades_not_corrupts(self):
        # 8 slots x 4 = 32 entries per segment; 500 keys into 1 bucket
        seg = cuckoo.build_segments_driver(HASHES[:500], num_buckets=1,
                                           n_slots=8)
        arr, sat = cuckoo._decode(seg[0])
        assert sat                                     # flagged, not wrong

    def test_family_geometry_and_sizes(self):
        fam = filter_family("cuckoo", num_buckets=8, n_slots=1 << 10)
        assert fam.geometry == ["cuckoo", 8, 1024]
        with pytest.raises(ValueError):
            filter_family("vacuum")


class TestCuckooSpark:
    def test_distributed_build_matches_driver(self, spark):
        df = spark.createDataFrame([(h,) for h in HASHES[:800]],
                                   "url_hash string")
        seg_rows = {r["bucket"]: bytes(r["bitmap"])
                    for r in cuckoo.build_segments(df, num_buckets=4).collect()}
        assert seg_rows == cuckoo.build_segments_driver(HASHES[:800],
                                                        num_buckets=4)

    def test_filter_new_equals_exact_antijoin(self, spark):
        cand = spark.createDataFrame([(h,) for h in HASHES[:400]],
                                     "url_hash string")
        seen = spark.createDataFrame([(h,) for h in HASHES[:200]],
                                     "url_hash string")
        segments = cuckoo.build_segments(seen, num_buckets=4)
        got = sorted(r["url_hash"] for r in cuckoo.filter_new(
            cand, segments, seen, num_buckets=4).collect())
        assert got == sorted(HASHES[200:400])

    def test_filter_new_saturated_segment_still_exact(self, spark):
        cand = spark.createDataFrame([(h,) for h in HASHES[:400]],
                                     "url_hash string")
        seen = spark.createDataFrame([(h,) for h in HASHES[:200]],
                                     "url_hash string")
        segments = cuckoo.build_segments(seen, num_buckets=1, n_slots=8)
        assert cuckoo._decode(bytes(segments.collect()[0]["bitmap"]))[1]
        got = sorted(r["url_hash"] for r in cuckoo.filter_new(
            cand, segments, seen, num_buckets=1, n_slots=8).collect())
        assert got == sorted(HASHES[200:400])


SEED = "https://site000.test/p/0"


class TestCuckooCrawlParity:
    def test_crawl_results_identical_to_bloom(self, spark, small_corpus,
                                              tmp_root):
        runs = {}
        for fam_name in ("bloom", "cuckoo"):
            engine = CrawlEngine(
                spark, small_corpus,
                os.path.join(tmp_root, f"fam_{fam_name}"))
            # prefilter_min_seen=0 forces the probe path even at this
            # small seen size (the engine's default would take the plain
            # exact anti-join below 25k hashes) — the parity under test is
            # the families' PROBE routing, so keep it engaged
            engine.run(CrawlConfig(
                job_id=f"fam_{fam_name}", seed_url=SEED, strategy="all",
                max_depth=6, limit=60, respect_robots=False,
                seen_filter=fam_name, prefilter_min_seen=0))
            runs[fam_name] = (
                [(r["seq"], r["url"], r["status"])
                 for r in engine.visit_order().collect()],
                sorted(r["url_hash"] for r in
                       engine.catalog.read(spark, "seen").collect()),
            )
        assert runs["bloom"] == runs["cuckoo"]

    def test_cuckoo_checkpoint_resumes_under_bloom(self, spark, small_corpus,
                                                   tmp_root):
        """No filter is checkpointed, so a cuckoo crawl's checkpoint
        resumes under the Bloom family (probe forced) to the fresh cuckoo
        run's visits."""
        root = os.path.join(tmp_root, "fam_resume")
        engine = CrawlEngine(spark, small_corpus, root)
        kw = dict(seed_url=SEED, strategy="all", max_depth=6, limit=30,
                  respect_robots=False, prefilter_min_seen=0)
        # killed after 2 rounds (max_rounds=2 simulates the kill)
        engine.run(CrawlConfig(job_id="fr", max_rounds=2,
                               seen_filter="cuckoo", **kw))
        summary = engine.run(CrawlConfig(job_id="fr", seen_filter="bloom",
                                         **kw), resume=True)
        assert summary["done"] == 30
        fresh = CrawlEngine(spark, small_corpus,
                            os.path.join(tmp_root, "fam_fresh"))
        fresh.run(CrawlConfig(job_id="fr2", seen_filter="cuckoo", **kw))
        resumed = [(r["seq"], r["url"]) for r in engine.visit_order().collect()]
        direct = [(r["seq"], r["url"]) for r in fresh.visit_order().collect()]
        assert resumed == direct


class TestCuckooProperties:
    """Property test: the no-false-negative contract must survive
    arbitrary key sets at high load factors."""

    def test_membership_after_random_merge_plan(self):
        import random

        rng = random.Random(42)
        n_slots = 1 << 8   # small table -> high load factors
        for trial in range(20):
            keys = [hashlib.sha256(f"t{trial}-{i}".encode()).hexdigest()
                    for i in range(rng.randrange(1, 700))]
            built = cuckoo.build_segments_driver(keys, num_buckets=2,
                                                 n_slots=n_slots)
            for h in keys:   # NO false negatives, loaded or saturated
                blob = built[int(h[:8], 16) % 2]
                arr, sat = cuckoo._decode(blob)
                fp, i1 = cuckoo._fp_i1(h, n_slots)
                assert sat or cuckoo._contains(arr, fp, i1, n_slots), \
                    (trial, len(keys))
