"""The seen-filter hash-slice core (anycrawl_spark/seen.py): property tests
against the scalar references (``seen._positions``, ``cuckoo._fp_i1`` /
``cuckoo._contains``), byte-identical Bloom builds, parser rejection, and the
duplicate-tolerant seen side of every anti-join. The seen-filter
registry leaves run against their DuckDB oracles in
``tests/test_operators.py::test_leaf_matches_oracle``."""

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from anycrawl_spark import cuckoo, seen

HEX = "0123456789abcdef"

hash_lists = st.lists(st.binary(max_size=12), max_size=300).map(
    lambda keys: [hashlib.sha256(b).hexdigest() for b in keys])
num_buckets = st.integers(1, 40)
bloom_m_bits = st.integers(1, 512).map(lambda n: 8 * n)
bloom_k = st.integers(1, 6)
cuckoo_slots = st.sampled_from([1, 2, 4, 16, 64, 256])


def scalar_bucket(h: str, nb: int) -> int:
    return int(h[:8], 16) % nb


def scalar_bloom_build(hashes, nb, m_bits, k) -> dict[int, bytes]:
    out: dict[int, np.ndarray] = {}
    for h in hashes:
        bm = out.setdefault(scalar_bucket(h, nb),
                            np.zeros(m_bits // 8, dtype=np.uint8))
        for p in seen._positions(h, m_bits, k):
            bm[p >> 3] |= 1 << (p & 7)
    return {b: bm.tobytes() for b, bm in out.items()}


def scalar_bloom_member(h, segs, nb, m_bits, k) -> bool:
    blob = segs.get(scalar_bucket(h, nb))
    if blob is None:
        return False
    arr = np.frombuffer(blob, dtype=np.uint8)
    return all((arr[p >> 3] >> (p & 7)) & 1
               for p in seen._positions(h, m_bits, k))


def scalar_cuckoo_member(h, segs, nb, n_slots) -> bool:
    blob = segs.get(scalar_bucket(h, nb))
    if blob is None:
        return False
    arr, saturated = cuckoo._decode(blob)
    fp, i1 = cuckoo._fp_i1(h, n_slots)
    return saturated or cuckoo._contains(arr, fp, i1, n_slots)


def drop_buckets(segs: dict, data) -> dict:
    keep = data.draw(st.lists(st.booleans(), min_size=len(segs),
                              max_size=len(segs)))
    return {b: blob for (b, blob), kept in zip(sorted(segs.items()), keep)
            if kept}


class TestHashSliceCore:
    @given(hash_lists, num_buckets, bloom_m_bits, bloom_k, cuckoo_slots)
    @settings(max_examples=80, deadline=None)
    def test_slices_match_scalar(self, hashes, nb, m_bits, k, n_slots):
        nib = seen.hex_nibbles(hashes)
        assert seen.bucket_ids(nib, nb).tolist() == [
            scalar_bucket(h, nb) for h in hashes]
        assert seen.bloom_bits(nib, m_bits, k).tolist() == [
            seen._positions(h, m_bits, k) for h in hashes]
        fp, i1 = seen.cuckoo_fp_i1(nib, n_slots)
        assert list(zip(fp.tolist(), i1.tolist())) == [
            cuckoo._fp_i1(h, n_slots) for h in hashes]

    @given(hash_lists, num_buckets, bloom_m_bits, bloom_k)
    @settings(max_examples=80, deadline=None)
    def test_bloom_build_byte_identical(self, hashes, nb, m_bits, k):
        assert seen.build_segments_driver(hashes, nb, m_bits, k) == \
            scalar_bloom_build(hashes, nb, m_bits, k)

    @given(hash_lists, hash_lists, num_buckets, bloom_m_bits, bloom_k,
           st.data())
    @settings(max_examples=80, deadline=None)
    def test_bloom_probe_matches_scalar(self, members, fresh, nb, m_bits, k,
                                        data):
        segs = drop_buckets(
            seen.build_segments_driver(members, nb, m_bits, k), data)
        probes = members + fresh
        got = seen.bloom_probe(probes, segs, nb, m_bits, k)
        assert got.tolist() == [scalar_bloom_member(h, segs, nb, m_bits, k)
                                for h in probes]

    @given(hash_lists, hash_lists, st.integers(1, 8), cuckoo_slots,
           st.data())
    @settings(max_examples=80, deadline=None)
    def test_cuckoo_probe_matches_scalar(self, members, fresh, nb, n_slots,
                                         data):
        # small n_slots saturate: those segments must read all maybe-seen
        segs = drop_buckets(
            cuckoo.build_segments_driver(members, nb, n_slots), data)
        probes = members + fresh
        got = cuckoo.probe(probes, segs, nb, n_slots)
        assert got.tolist() == [scalar_cuckoo_member(h, segs, nb, n_slots)
                                for h in probes]

    def test_cuckoo_probe_covers_saturated_segments(self):
        hashes = [hashlib.sha256(str(i).encode()).hexdigest()
                  for i in range(200)]
        segs = cuckoo.build_segments_driver(hashes, 2, 4)
        assert all(cuckoo._decode(blob)[1] for blob in segs.values())
        fresh = [hashlib.sha256(f"f{i}".encode()).hexdigest()
                 for i in range(50)]
        assert cuckoo.probe(fresh, segs, 2, 4).all()

    @given(st.lists(st.sampled_from(HEX), min_size=64, max_size=64),
           st.integers(0, 63),
           st.characters(exclude_characters=HEX + HEX.upper(),
                         exclude_categories=("Cs",)))
    @settings(max_examples=100, deadline=None)
    def test_parser_rejects_non_hex(self, chars, at, bad):
        chars[at] = bad
        good = hashlib.sha256(b"ok").hexdigest()
        with pytest.raises(ValueError):
            seen.hex_nibbles([good, "".join(chars)])

    def test_parser_rejects_wrong_length(self):
        good = hashlib.sha256(b"ok").hexdigest()
        for bad in (good[:63], good + "0", ""):
            with pytest.raises(ValueError):
                seen.hex_nibbles([good, bad])
        assert seen.hex_nibbles([]).shape == (0, 64)


def sha(i: int) -> str:
    return hashlib.sha256(str(i).encode()).hexdigest()


class TestDuplicateSeenSide:
    """exact_antijoin and both families' filter_new skip distinct() on the
    seen side; a seen side holding duplicate rows must still give the
    exact answer."""

    def test_duplicate_seen_rows_give_exact_answer(self, spark):
        candidates = spark.range(0, 300).select(
            F.sha2(F.col("id").cast("string"), 256).alias("url_hash"))
        seen_ids = list(range(0, 150))
        seen_df = spark.createDataFrame(
            [(sha(i),) for i in seen_ids + seen_ids[::3]], "url_hash string")
        expect = {sha(i) for i in range(150, 300)}

        def hashes_of(df):
            rows = [r["url_hash"] for r in df.collect()]
            assert len(rows) == len(set(rows))
            return set(rows)

        assert hashes_of(seen.exact_antijoin(candidates, seen_df)) == expect
        seen_hashes = [sha(i) for i in seen_ids]
        for fam in (seen.filter_family("bloom", num_buckets=4,
                                       m_bits=1 << 12, k=3),
                    seen.filter_family("cuckoo", num_buckets=4,
                                       n_slots=1 << 8)):
            segs = fam.build_driver(seen_hashes)
            got = hashes_of(fam.filter_new(candidates, segs, seen_df))
            assert got == expect, fam.name
        # the registry's broadcast-join branch (segment DataFrame)
        bloom_segs = seen.build_segments(seen_df, num_buckets=4,
                                         m_bits=1 << 12, k=3)
        assert hashes_of(seen.filter_new(
            candidates, bloom_segs, seen_df, num_buckets=4,
            m_bits=1 << 12, k=3)) == expect
        cuckoo_segs = cuckoo.build_segments(seen_df, num_buckets=4,
                                            n_slots=1 << 8)
        assert hashes_of(cuckoo.filter_new(
            candidates, cuckoo_segs, seen_df, num_buckets=4,
            n_slots=1 << 8)) == expect
