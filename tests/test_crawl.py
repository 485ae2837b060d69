"""Crawl engine vs pure-Python simulator: visit order, seen membership,
limits, depth, strategies, globs, politeness budgets, robots, batch parity,
checkpoint resume (SURVEY.md §5.2 items 2-4)."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from anycrawl_spark.crawl import CrawlConfig, CrawlEngine
from simulator import corpus_to_dict, key_of, simulate_crawl

SEED = "https://site000.test/p/0"


@pytest.fixture(scope="module")
def corpus_dict(small_corpus):
    return corpus_to_dict([r.asDict() for r in small_corpus.select("url", "html").collect()])


@pytest.fixture(scope="module")
def robots_dict(robots_df):
    return {r["host"]: list(r["disallow"]) for r in robots_df.collect()}


def run_engine(spark, corpus, tmp_root, name, robots=None, **cfg_kwargs):
    engine = CrawlEngine(spark, corpus, os.path.join(tmp_root, name), robots=robots)
    cfg = CrawlConfig(job_id=name, **cfg_kwargs)
    summary = engine.run(cfg)
    visits = [
        (r["seq"], r["url"], r["depth"], r["status"])
        for r in engine.visit_order().collect()
    ]
    seen = {r["url_hash"] for r in engine.catalog.read(spark, "seen").collect()}
    return engine, summary, visits, seen


def assert_one_state_copy(catalog):
    """The exact seen set is the only checkpointed seen state and is
    checkpointed cumulatively: one committed round, no filter table on
    disk, and every table's on-disk round=* dirs are exactly its committed
    rounds (superseded copies and uncommitted writes are gone)."""
    assert len(catalog.committed_rounds("seen")) == 1
    assert not (catalog.root / "bloom").exists()
    for table_dir in catalog.root.iterdir():
        if table_dir.is_dir():
            on_disk = {int(p.name.split("=", 1)[1])
                       for p in table_dir.glob("round=*")}
            assert on_disk == set(catalog.committed_rounds(table_dir.name)), \
                table_dir.name


def sim_visits(sim):
    return [(v.seq, v.url, v.depth, v.status) for v in sorted(sim.visits, key=lambda v: v.seq)]


def assert_parity(spark, visits, seen, sim):
    assert visits == sim_visits(sim)
    # seen set: engine stores sha256 of canonical; recompute from simulator
    import hashlib

    sim_hashes = {hashlib.sha256(k.encode()).hexdigest() for k in sim.seen}
    assert seen == sim_hashes


class TestCrawlParity:
    def test_bfs_same_hostname(self, spark, small_corpus, corpus_dict, tmp_root):
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=5, limit=40,
                  respect_robots=False)
        _, summary, visits, seen = run_engine(spark, small_corpus, tmp_root, "bfs", **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="same-hostname",
                             max_depth=5, limit=40)
        assert_parity(spark, visits, seen, sim)
        assert summary["done"] == sim.done
        assert summary["enqueued"] == sim.enqueued

    def test_limit_enforced(self, spark, small_corpus, corpus_dict, tmp_root):
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=10, limit=12,
                  respect_robots=False)
        _, summary, visits, seen = run_engine(spark, small_corpus, tmp_root, "lim", **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="same-hostname",
                             max_depth=10, limit=12)
        assert_parity(spark, visits, seen, sim)
        assert summary["enqueued"] <= 12
        assert summary["done"] <= 12

    def test_depth_cap(self, spark, small_corpus, corpus_dict, tmp_root):
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=1, limit=100,
                  respect_robots=False)
        _, _, visits, seen = run_engine(spark, small_corpus, tmp_root, "depth", **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="same-hostname",
                             max_depth=1, limit=100)
        assert_parity(spark, visits, seen, sim)
        assert max(v[2] for v in visits) <= 1

    def test_include_exclude_globs(self, spark, small_corpus, corpus_dict, tmp_root):
        inc, exc = ["**/p/*"], ["**/blog/**"]
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=6, limit=60,
                  include_paths=inc, exclude_paths=exc, respect_robots=False)
        _, _, visits, seen = run_engine(spark, small_corpus, tmp_root, "glob", **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="same-hostname", max_depth=6,
                             limit=60, include_paths=inc, exclude_paths=exc)
        assert_parity(spark, visits, seen, sim)
        assert all("/blog/" not in v[1] for v in visits[1:])

    def test_same_domain_crosses_subdomain(self, spark, small_corpus, corpus_dict, tmp_root):
        seed = "https://site003.test/p/0"
        kw = dict(seed_url=seed, strategy="same-domain", max_depth=4, limit=50,
                  respect_robots=False)
        _, _, visits, seen = run_engine(spark, small_corpus, tmp_root, "dom", **kw)
        sim = simulate_crawl(corpus_dict, seed, strategy="same-domain",
                             max_depth=4, limit=50)
        assert_parity(spark, visits, seen, sim)
        hosts = {v[1].split("/")[2] for v in visits}
        # sub.site003.test is same-domain with site003.test
        assert any(h.startswith("sub.") for h in hosts) or len(hosts) == 1

    def test_all_strategy(self, spark, small_corpus, corpus_dict, tmp_root):
        kw = dict(seed_url=SEED, strategy="all", max_depth=3, limit=60,
                  respect_robots=False)
        _, _, visits, seen = run_engine(spark, small_corpus, tmp_root, "all", **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="all", max_depth=3, limit=60)
        assert_parity(spark, visits, seen, sim)

    def test_politeness_budget(self, spark, small_corpus, corpus_dict, tmp_root):
        kw = dict(seed_url=SEED, strategy="all", max_depth=4, limit=60,
                  politeness_budget=2, respect_robots=False)
        engine, _, visits, seen = run_engine(spark, small_corpus, tmp_root, "budget", **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="all", max_depth=4,
                             limit=60, politeness_budget=2)
        assert_parity(spark, visits, seen, sim)
        # invariant: per (round, host) fetch count ≤ budget
        per_round = (
            engine.visits().groupBy("round", "host").count().collect()
        )
        assert all(r["count"] <= 2 for r in per_round)

    def test_batch_size_coordinator_parity(self, spark, small_corpus, corpus_dict, tmp_root):
        # crawlCoordinator.ts:33-38 — batches of 5
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=5, limit=30,
                  batch_size=5, respect_robots=False)
        _, _, visits, seen = run_engine(spark, small_corpus, tmp_root, "batch", **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="same-hostname",
                             max_depth=5, limit=30, batch_size=5)
        assert_parity(spark, visits, seen, sim)

    def test_robots_enforced(self, spark, small_corpus, corpus_dict, robots_df,
                             robots_dict, tmp_root):
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=6, limit=60,
                  respect_robots=True)
        _, _, visits, seen = run_engine(spark, small_corpus, tmp_root, "robots",
                                        robots=robots_df, **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="same-hostname",
                             max_depth=6, limit=60, robots=robots_dict)
        assert_parity(spark, visits, seen, sim)
        # site000.test denies /private (k=0 → k%3==0)
        assert all("/private/" not in v[1] for v in visits)

    def test_scrape_paths_gate(self, spark, small_corpus, corpus_dict, tmp_root):
        # visits cover everything; persisted results only match scrape_paths
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=5, limit=40,
                  scrape_paths=["**/blog/**"], respect_robots=False)
        engine, _, visits, _ = run_engine(spark, small_corpus, tmp_root, "spaths", **kw)
        results = engine.results()
        urls = [r["url"] for r in results.select("url").collect()]
        assert urls, "expected at least one /blog/ page in results"
        assert all("/blog/" in u for u in urls)
        assert any("/blog/" not in v[1] for v in visits)


def _page(links: list[str]) -> str:
    anchors = "".join(f'<a href="{u}">link {i}</a> '
                      for i, u in enumerate(links))
    return (f"<html><head><title>t</title></head><body><main>"
            f"<p>A page of the enqueue-boundary corpus.</p>{anchors}"
            f"</main></body></html>")


# characters a page may put in an href that java.net.URI rejects
BAD_CHARS = [" ", '"', "%", "<", ">", "[", "\\", "]", "^", "`", "{", "|", "}"]


class TestBadHrefs:
    """One bad href must not abort a crawl: the seed links /ok and one href
    that a URI parser rejects, and the engine, in the default (ANSI) session,
    visits and sees what the simulator does."""

    SEED = "http://a.test/"

    @pytest.mark.parametrize("href", [
        *(f"/p{c}q" for c in BAD_CHARS),             # in the path
        *(f"/p?q={c}q" for c in BAD_CHARS),          # in the query
        *(f"/p#f{c}q" for c in BAD_CHARS),           # in the fragment
        "http://a.test:99999999999/x", "http://a.test:/x",
        "http://a.test:0080/x",
    ])
    def test_crawl_matches_simulator(self, spark, tmp_root, href):
        import datetime
        import html as html_lib

        from anycrawl_spark.corpus import PAGES_SCHEMA

        pages = {self.SEED: _page(["/ok", html_lib.escape(href)]),
                 "http://a.test/ok": _page([])}
        ts = datetime.datetime(2024, 1, 1)
        corpus = spark.createDataFrame(
            [(u, ts, h.encode(), "", "en") for u, h in pages.items()],
            schema=PAGES_SCHEMA)
        kw = dict(seed_url=self.SEED, strategy="all", max_depth=2, limit=10)
        name = f"badhref_{hashlib.sha256(href.encode()).hexdigest()[:12]}"
        _, _, visits, seen = run_engine(spark, corpus, tmp_root, name, **kw)
        sim = simulate_crawl(corpus_to_dict(
            [{"url": u, "html": h} for u, h in pages.items()]), **kw)
        assert_parity(spark, visits, seen, sim)
        assert len(visits) == 3


class TestEnqueueBoundary:
    """The enqueue cap cuts inside one parent's link list, in the round
    where two parents link the same new URL and a link is already seen:
    the top-k numbering must enqueue exactly the simulator's prefix."""

    A, B = "https://a.test", "https://b.test"
    LINKS = {
        # round 1: the seed enqueues p1, p2, p3 (seqs 1-3)
        f"{A}/p0": [f"{A}/p1", f"{A}/p2", f"{B}/p3"],
        # round 2: p1 links the seed (seen) and /shared, which p2 links
        # again; new links number x1=4, shared=5, x2=6, y1=7, y2=8, ...
        f"{A}/p1": [f"{A}/p0", f"{A}/x1", f"{A}/shared", f"{A}/x2"],
        f"{A}/p2": [f"{A}/shared", f"{A}/y1", f"{A}/y2", f"{A}/y3"],
        f"{B}/p3": [f"{A}/z1", f"{B}/z2"],
        f"{A}/x1": [f"{A}/p0"], f"{A}/shared": [f"{A}/x1"],
        f"{A}/x2": [], f"{A}/y1": [f"{A}/y9"], f"{A}/y2": [],
        f"{A}/z1": [], f"{B}/z2": [f"{A}/p2"],
    }

    @pytest.fixture(scope="class")
    def boundary_corpus(self, spark):
        import datetime

        from anycrawl_spark.corpus import PAGES_SCHEMA

        ts = datetime.datetime(2024, 1, 1)
        rows = [(url, ts, _page(links).encode(), "", "en")
                for url, links in self.LINKS.items()]
        return spark.createDataFrame(rows, schema=PAGES_SCHEMA)

    # limit 6 cuts inside p1's list after /shared; limit 8 cuts inside
    # p2's list after y1, past p2's duplicate of /shared
    @pytest.mark.parametrize("limit,last_in,first_out",
                             [(6, "shared", "x2"), (8, "y1", "y2")])
    @pytest.mark.parametrize("budget", [0, 2])
    def test_cap_inside_link_list_matches_simulator(
            self, spark, boundary_corpus, tmp_root, limit, last_in,
            first_out, budget):
        import hashlib

        corpus = corpus_to_dict([{"url": u, "html": _page(ls)}
                                 for u, ls in self.LINKS.items()])
        seed = f"{self.A}/p0"
        kw = dict(seed_url=seed, strategy="all", max_depth=5, limit=limit,
                  politeness_budget=budget)
        engine, summary, visits, seen = run_engine(
            spark, boundary_corpus, tmp_root, f"cap_{limit}_{budget}",
            respect_robots=False, **kw)
        sim = simulate_crawl(corpus, **kw)
        assert_parity(spark, visits, seen, sim)
        assert summary["enqueued"] == sim.enqueued == limit
        # the premise: round 2 fills the cap and the cut lands between
        # two links of one parent
        meta = engine.catalog.round_meta(2)
        assert meta["new"] == limit - 4
        h = lambda name: hashlib.sha256(  # noqa: E731
            key_of(f"{self.A}/{name}").encode()).hexdigest()
        assert h(last_in) in seen and h(first_out) not in seen


class TestResume:
    def test_kill_and_resume_exact(self, spark, small_corpus, tmp_root):
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=5, limit=40,
                  respect_robots=False)

        # uninterrupted run
        full_dir = os.path.join(tmp_root, "resume_full")
        engine_full = CrawlEngine(spark, small_corpus, full_dir)
        engine_full.run(CrawlConfig(job_id="resume", **kw))
        full_visits = [
            (r["seq"], r["url"], r["depth"], r["status"])
            for r in engine_full.visit_order().collect()
        ]

        # killed after 2 rounds (max_rounds=2 simulates the kill), then resume
        part_dir = os.path.join(tmp_root, "resume_part")
        engine_part = CrawlEngine(spark, small_corpus, part_dir)
        engine_part.run(CrawlConfig(job_id="resume", max_rounds=2, **kw))
        # leave an uncommitted junk round behind to prove manifest hygiene
        junk = os.path.join(part_dir, "results", "round=99")
        os.makedirs(junk, exist_ok=True)
        with open(os.path.join(junk, "part-junk.parquet"), "w") as f:
            f.write("junk")

        engine_resumed = CrawlEngine(spark, small_corpus, part_dir)
        engine_resumed.run(CrawlConfig(job_id="resume", **kw), resume=True)
        resumed_visits = [
            (r["seq"], r["url"], r["depth"], r["status"])
            for r in engine_resumed.visit_order().collect()
        ]
        assert resumed_visits == full_visits

        full_results = {
            (r["url"], r["markdown"], r["text"])
            for r in engine_full.results().select("url", "markdown", "text").collect()
        }
        resumed_results = {
            (r["url"], r["markdown"], r["text"])
            for r in engine_resumed.results().select("url", "markdown", "text").collect()
        }
        assert resumed_results == full_results

        # resume checks the loaded frontier against the prior meta: each
        # committed seed and crawl meta records the pending count
        for engine in (engine_full, engine_resumed):
            metas = [engine.catalog.round_meta(rr)
                     for rr in range(engine.catalog.last_round() + 1)]
            metas = [m for m in metas if m.get("phase") in ("seeded", "crawl")]
            assert metas and metas[0]["phase"] == "seeded"
            for m in metas:
                assert "pending_next" in m, m
            assert_one_state_copy(engine.catalog)


    KW = dict(seed_url=SEED, strategy="same-hostname", max_depth=5, limit=40,
              respect_robots=False)

    def _interrupted(self, spark, small_corpus, tmp_root, name):
        """A crawl stopped after round 2, and its pending round's path."""
        engine = CrawlEngine(spark, small_corpus, os.path.join(tmp_root, name))
        engine.run(CrawlConfig(job_id="resume", max_rounds=2, **self.KW))
        r = engine.catalog.last_round()
        assert engine.catalog.round_meta(r)["pending_next"] > 1
        return engine.catalog.root, engine.catalog.round_path("pending", r)

    def test_truncated_pending_rejects_resume(self, spark, small_corpus,
                                              tmp_root):
        """A committed pending file that lost a row does not resume as a
        shorter crawl: its row count is checked against the meta."""
        import shutil

        import pyarrow.parquet as pq

        root, path = self._interrupted(spark, small_corpus, tmp_root,
                                       "resume_truncated")
        table = pq.read_table(path)
        n = table.num_rows
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table.slice(1), os.path.join(path, "part-0.parquet"))
        engine = CrawlEngine(spark, small_corpus, root)
        with pytest.raises(ValueError,
                           match=rf"holds {n - 1} rows .*pending_next={n}"):
            engine.run(CrawlConfig(job_id="resume", **self.KW), resume=True)
        assert engine._writes is None

    def test_resume_from_spark_written_pending(self, spark, small_corpus,
                                               tmp_root):
        """A pending round laid out as Spark's writer leaves it (several
        part files, _SUCCESS and .crc side files) resumes to the
        uninterrupted crawl."""
        import shutil

        _, full_visits, full_seen = run_engine(
            spark, small_corpus, tmp_root, "resume_spark_full",
            **self.KW)[1:]
        root, path = self._interrupted(spark, small_corpus, tmp_root,
                                       "resume_spark_part")
        spark.read.parquet(path).repartition(3).write.parquet(path + ".tmp")
        shutil.rmtree(path)
        shutil.move(path + ".tmp", path)
        files = os.listdir(path)
        assert "_SUCCESS" in files
        assert sum(f.startswith("part-") for f in files) > 1

        engine = CrawlEngine(spark, small_corpus, root)
        engine.run(CrawlConfig(job_id="resume", **self.KW), resume=True)
        visits = [(r["seq"], r["url"], r["depth"], r["status"])
                  for r in engine.visit_order().collect()]
        seen = {r["url_hash"]
                for r in engine.catalog.read(spark, "seen").collect()}
        assert (visits, seen) == (full_visits, full_seen)

    def test_resume_over_spark_written_visits(self, spark, small_corpus,
                                              tmp_root):
        """Visits rounds written by Spark (an older engine wrote every
        visits round that way) and the driver's pyarrow-written rounds
        read back as one table: a budgeted crawl resumed over rewritten
        rounds keeps the uninterrupted visit order, and the driver writes
        depth/attempt/status/round as int32 and seq as int64, the types
        of Spark's write."""
        import shutil

        import pyarrow.parquet as pq

        kw = {**self.KW, "politeness_budget": 3}
        _, full_visits, _ = run_engine(spark, small_corpus, tmp_root,
                                       "visits_full", **kw)[1:]
        root = os.path.join(tmp_root, "visits_part")
        CrawlEngine(spark, small_corpus, root).run(
            CrawlConfig(job_id="visits_full", max_rounds=3, **kw))
        engine = CrawlEngine(spark, small_corpus, root)
        spark_rounds = engine.catalog.committed_rounds("visits")
        for rr in spark_rounds:
            path = engine.catalog.round_path("visits", rr)
            spark.read.parquet(path).repartition(2).write.parquet(
                path + ".tmp")
            shutil.rmtree(path)
            shutil.move(path + ".tmp", path)
        engine.run(CrawlConfig(job_id="visits_full", **kw), resume=True)
        visits = [(r["seq"], r["url"], r["depth"], r["status"])
                  for r in engine.visit_order().collect()]
        assert visits == full_visits
        driver_round = engine.catalog.committed_rounds("visits")[-1]
        assert driver_round not in spark_rounds
        schema = pq.read_schema(os.path.join(
            engine.catalog.round_path("visits", driver_round),
            "part-00000.parquet"))
        assert {c: str(schema.field(c).type) for c in
                ("depth", "seq", "attempt", "status", "round")} == {
            "depth": "int32", "seq": "int64", "attempt": "int32",
            "status": "int32", "round": "int32"}

    def test_stale_bloom_table_retired(self, spark, small_corpus, tmp_root):
        """A checkpoint from an engine that still committed a ``bloom``
        filter table loses that table at the first commit after resume:
        no manifest entry and no directory remain."""
        import pyarrow as pa

        from anycrawl_spark.catalog import Catalog

        root, _ = self._interrupted(spark, small_corpus, tmp_root,
                                    "resume_bloom")
        old = Catalog(root)
        r = old.last_round()
        old.append_round_local(pa.table({"bits": [b"\x00" * 8]}), "bloom", r)
        old.commit_round(r, ["bloom"])
        assert old.committed_rounds("bloom") == [r]

        engine = CrawlEngine(spark, small_corpus, root)
        engine.run(CrawlConfig(job_id="resume", **self.KW), resume=True)
        assert "bloom" not in engine.catalog._read_manifest()["tables"]
        assert_one_state_copy(engine.catalog)

    def test_retired_table_dir_removed_at_resume(self, tmp_path,
                                                  monkeypatch):
        """A crash after the commit that retires a table but before its
        directory is deleted leaves the directory unnamed by the manifest;
        resume hygiene removes it."""
        import shutil

        import pyarrow as pa

        from anycrawl_spark.catalog import Catalog

        old = Catalog(tmp_path)
        for table in ("bloom", "seen"):
            old.append_round_local(pa.table({"x": [1]}), table, 0)
        old.commit_round(0, ["bloom", "seen"])
        new = Catalog(tmp_path, tables=["seen"])
        with monkeypatch.context() as m:
            m.setattr(shutil, "rmtree", lambda *a, **k: None)
            new.commit_round(1, [])
        assert new.committed_rounds("bloom") == []
        assert (tmp_path / "bloom").exists()
        new.drop_uncommitted()
        assert not (tmp_path / "bloom").exists()
        assert new.committed_rounds("seen") == [0]


class TestSeenInvariant:
    def test_already_seen_hash_raises(self, spark, small_corpus, tmp_root,
                                      monkeypatch):
        """The exact anti-join's contract is asserted where the seen delta
        is produced: a round enqueueing an already-seen hash (a second
        visit) raises instead of committing."""
        import anycrawl_spark.crawl as crawl_mod

        monkeypatch.setattr(crawl_mod, "exact_antijoin",
                            lambda links, seen: links)
        engine = CrawlEngine(spark, small_corpus,
                             os.path.join(tmp_root, "seen_disjoint"))
        with pytest.raises(AssertionError, match="already-seen"):
            engine.run(CrawlConfig(job_id="sd", seed_url=SEED, limit=10,
                                   respect_robots=False))


class TestExtractionParity:
    def test_byte_identical_text_vs_corpus_golden(self, spark, small_corpus, tmp_root):
        """The per-row invariant (input_hint): extracted text byte-equals the
        corpus golden `text` column for every fetched url."""
        engine, _, _, _ = run_engine(
            spark, small_corpus, tmp_root, "golden",
            seed_url=SEED, strategy="same-hostname", max_depth=6, limit=40,
            respect_robots=False)
        results = engine.results().where(F.col("status") == 200)
        joined = results.alias("r").join(
            small_corpus.alias("c"), F.col("r.url") == F.col("c.url"), "inner")
        n = joined.count()
        assert n > 0
        mismatches = joined.where(F.col("r.text") != F.col("c.text")).count()
        assert mismatches == 0


class TestRetries:
    def test_failed_fetch_retried_max_attempts(self, spark, small_corpus, tmp_root):
        """S5 retry semantics (Queue.ts:84-89): a URL missing from the corpus
        is attempted max_attempts times across rounds, then counted failed
        exactly once; successful fetches are never retried."""
        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=2, limit=15,
                  max_attempts=3, respect_robots=False)
        engine = CrawlEngine(spark, small_corpus, os.path.join(tmp_root, "retry"))
        summary = engine.run(CrawlConfig(job_id="retry", **kw))
        visits = engine.visits().collect()
        by_url = {}
        for v in visits:
            by_url.setdefault(v["url"], []).append((v["attempt"], v["status"], v["round"]))
        # the "/" home link 404s → exactly 3 attempts, increasing rounds
        home = by_url.get("https://site000.test/")
        assert home is not None
        attempts = sorted(home)
        assert [a for a, _, _ in attempts] == [1, 2, 3]
        assert all(s == 404 for _, s, _ in attempts)
        rounds = [r for _, _, r in attempts]
        assert rounds == sorted(rounds) and len(set(rounds)) == 3
        # successes appear once
        ok_urls = [u for u, vs in by_url.items() if vs[0][1] == 200]
        assert all(len(by_url[u]) == 1 for u in ok_urls)
        # failure counted once in totals despite 3 visits
        n404_urls = len([u for u, vs in by_url.items() if all(s == 404 for _, s, _ in vs)])
        assert summary["failed"] == n404_urls


class TestCombinedSemantics:
    def test_all_features_together(self, spark, small_corpus, corpus_dict,
                                   robots_df, robots_dict, tmp_root):
        """The north-rule scenario in one job: robots + politeness budget +
        globs + depth + limit simultaneously, exact order/membership parity."""
        inc, exc = [], ["**/blog/**"]
        kw = dict(seed_url=SEED, strategy="same-domain", max_depth=5, limit=45,
                  include_paths=inc, exclude_paths=exc, politeness_budget=3,
                  respect_robots=True)
        _, summary, visits, seen = run_engine(
            spark, small_corpus, tmp_root, "combo", robots=robots_df, **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="same-domain",
                             max_depth=5, limit=45, include_paths=inc,
                             exclude_paths=exc, politeness_budget=3,
                             robots=robots_dict)
        assert_parity(spark, visits, seen, sim)
        assert all("/private/" not in v[1] and "/blog/" not in v[1]
                   for v in visits[1:])
        assert summary["done"] == sim.done and summary["enqueued"] == sim.enqueued

    def test_everything_at_once(self, spark, small_corpus, corpus_dict,
                                robots_df, robots_dict, tmp_root):
        """Capstone: robots + DOMAIN-scoped budget + batch_size +
        include globs + depth + limit in one job — exact order/membership
        parity with the simulator under the full feature matrix."""
        inc = ["**/p/*"]
        kw = dict(seed_url=SEED, strategy="same-domain", max_depth=6,
                  limit=50, include_paths=inc, politeness_budget=2,
                  budget_scope="domain", batch_size=7,
                  respect_robots=True)
        _, summary, visits, seen = run_engine(
            spark, small_corpus, tmp_root, "capstone", robots=robots_df, **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="same-domain",
                             max_depth=6, limit=50, include_paths=inc,
                             politeness_budget=2, budget_scope="domain",
                             batch_size=7, robots=robots_dict)
        assert_parity(spark, visits, seen, sim)
        assert summary["done"] == sim.done and summary["enqueued"] == sim.enqueued


class TestFailureClasses:
    def test_per_class_retry_paths(self, spark, small_corpus, tmp_root):
        """F11 (EngineConfigurator.ts:584-708): with simulate_fetch_errors,
        corpus misses draw one of the five failure classes; retryable classes
        (blocked-with-status-text, proxy_error) get max_attempts tries while
        timeout/cloudflare/http_error fail fast on attempt 1."""
        from pyspark.sql import functions as F

        kw = dict(seed_url=SEED, strategy="same-hostname", max_depth=3, limit=40,
                  max_attempts=3, respect_robots=False, simulate_fetch_errors=True)
        engine = CrawlEngine(spark, small_corpus, os.path.join(tmp_root, "fclass"))
        engine.run(CrawlConfig(job_id="fclass", **kw))
        results = engine.results()
        failures = results.where(F.col("status") != 200).select(
            "url", "attempt", "failure_reason", "error_message").collect()
        assert failures, "fixture must contain corpus misses"
        classes = {f["failure_reason"] for f in failures}
        assert classes <= {"cloudflare_challenge", "blocked", "proxy_error",
                           "timeout", "http_error"}
        visits = engine.visits().collect()
        attempts_by_url = {}
        for v in visits:
            attempts_by_url.setdefault(v["url"], []).append(v["attempt"])
        for f in failures:
            tries = sorted(attempts_by_url[f["url"]])
            if f["failure_reason"] in ("blocked", "proxy_error"):
                # retryable: exactly max_attempts tries
                assert tries == [1, 2, 3], (f["url"], f["failure_reason"], tries)
            else:
                # fail-fast classes: single attempt
                assert tries == [1], (f["url"], f["failure_reason"], tries)

    def test_classifier_precedence(self, spark):
        from anycrawl_spark.errors import failure_reason_col, should_retry_col

        def classify(cases, col_fn):
            df = spark.createDataFrame(cases, "msg string, name string")
            return [r[0] for r in df.select(
                col_fn(F.col("msg"), F.col("name"))).collect()]

        reasons = [
            ("cloudflare says no", None, "cloudflare_challenge"),
            ("saw CF_RAY header", None, "cloudflare_challenge"),
            # 403 inside a proxy/timeout message: blocked wins (precedence)
            ("proxy timeout after 403", None, "blocked"),
            ("ERR_NEED_TO_RETRY", None, "proxy_error"),
            ("lowercase proxy issue", None, "proxy_error"),
            ("Navigation TIMEOUT", None, "timeout"),
            ("boom", "TimeoutError", "timeout"),
            ("HTTP 500", None, "http_error"),
        ]
        assert classify([c[:2] for c in reasons], failure_reason_col) == \
            [c[2] for c in reasons]
        # retry table
        retries = [
            ("ANYCRAWL_PROXY_ACTION_ROTATE_PROXY", None, True),
            ("Received blocked status code: 403", None, True),
            ("request blocked by origin", None, False),  # plain blocked
            ("ERR_SOCKS_CONNECTION_FAILED", None, True),
            ("timeout of 30s", "TimeoutError", False),
            ("HTTP 500", None, False),
        ]
        assert classify([c[:2] for c in retries], should_retry_col) == \
            [c[2] for c in retries]


class TestCancellation:
    def test_cancel_between_rounds_then_resume(self, spark, small_corpus,
                                               corpus_dict, tmp_root):
        """Progress.cancel parity: a cancelled job finalizes immediately
        without admitting more rounds; clearing the flag and resuming
        completes the crawl identically to an uninterrupted run."""
        kw = dict(seed_url=SEED, strategy="all", max_depth=4, limit=60,
                  respect_robots=False)

        ref = CrawlEngine(spark, small_corpus, os.path.join(tmp_root, "cx_ref"))
        ref.run(CrawlConfig(job_id="cx", **kw))
        ref_visits = sorted((v["seq"], v["url"]) for v in ref.visits().collect())

        eng = CrawlEngine(spark, small_corpus, os.path.join(tmp_root, "cx"))
        # stop after two rounds mid-crawl, then cancel
        eng.run(CrawlConfig(job_id="cx", max_rounds=2, **kw))
        eng.cancel()
        summary = eng.run(CrawlConfig(job_id="cx", **kw), resume=True)
        assert summary["done"] < 60  # finalized early, nothing more admitted
        meta = eng.catalog.round_meta(summary["rounds"])
        assert meta.get("cancelled") and meta.get("finalized")
        # uncancel + resume completes and matches the uninterrupted run
        eng.uncancel()
        eng.run(CrawlConfig(job_id="cx", **kw), resume=True)
        got = sorted((v["seq"], v["url"]) for v in eng.visits().collect())
        assert got == ref_visits


class TestDomainBudget:
    def test_domain_budget_crawl_matches_simulator(self, spark, small_corpus,
                                                   corpus_dict, tmp_root):
        """North rule 'per-domain politeness budgets': subdomains share one
        budget (fixture hosts include sub.siteNNN.test); engine matches the
        simulator under the same scope."""
        kw = dict(seed_url=SEED, strategy="all", max_depth=4, limit=60,
                  politeness_budget=2, respect_robots=False,
                  budget_scope="domain")
        _, _, visits, seen = run_engine(spark, small_corpus, tmp_root,
                                        "dombudget", **kw)
        sim = simulate_crawl(corpus_dict, SEED, strategy="all", max_depth=4,
                             limit=60, politeness_budget=2,
                             budget_scope="domain")
        assert_parity(spark, visits, seen, sim)

    def test_subdomains_share_budget(self, spark):
        from pyspark.sql import functions as F

        from anycrawl_spark.politeness import apply_host_budget

        rows = [("https://a.site.test/%d" % i, "a.site.test", 0, i)
                for i in range(3)]
        rows += [("https://b.site.test/%d" % i, "b.site.test", 0, 10 + i)
                 for i in range(3)]
        rows += [("https://other.test/%d" % i, "other.test", 0, 20 + i)
                 for i in range(3)]
        df = spark.createDataFrame(
            rows, "url string, host string, depth int, seq long")
        adm_host, _ = apply_host_budget(df, 2, scope="host")
        assert adm_host.count() == 6  # 2 per hostname
        adm_dom, _ = apply_host_budget(df, 2, scope="domain")
        got = sorted(r["url"] for r in adm_dom.collect())
        # site.test domain: only the 2 lowest-seq rows across BOTH subdomains
        assert got == ["https://a.site.test/0", "https://a.site.test/1",
                       "https://other.test/0", "https://other.test/1"]


class TestDriverAdmission:
    """``politeness.admit_arrow`` is the crawl's admission; the distributed
    ``apply_host_budget`` (plus the coordinator's ``orderBy("seq")
    .limit(batch_size)``) is its specification."""

    HOSTS = ["a.test", "b.test", "sub.a.test", "x.co.uk", "y.x.co.uk",
             "z.y.x.co.uk", "co.uk", "localhost", None]

    @pytest.mark.parametrize("batched", [False, True])
    @pytest.mark.parametrize("scope", ["host", "domain"])
    def test_matches_apply_host_budget(self, spark, scope, batched):
        import random

        import pyarrow as pa
        from hypothesis import example, given, settings, strategies as st

        from anycrawl_spark.politeness import admit_arrow, apply_host_budget

        @settings(max_examples=20, deadline=None)
        @given(rows=st.lists(st.tuples(st.sampled_from(self.HOSTS),
                                       st.integers(0, 3)),
                             min_size=1, max_size=40),
               budget=st.integers(0 if batched else 1, 4),
               batch_size=st.integers(1, 12) if batched else st.just(0),
               rnd=st.randoms(use_true_random=False))
        # more null hosts than the budget: they share one key
        @example(rows=[(None, 1), (None, 0), (None, 0), ("x.co.uk", 0),
                       ("y.x.co.uk", 0), ("a.test", 1), ("sub.a.test", 0)],
                 budget=1, batch_size=12 if batched else 0,
                 rnd=random.Random(0))
        def check(rows, budget, batch_size, rnd):
            seqs = list(range(len(rows)))
            rnd.shuffle(seqs)
            frontier = pa.table({
                "url": [f"https://{h}/{i}" for i, (h, _) in enumerate(rows)],
                "host": pa.array([h for h, _ in rows], pa.string()),
                "depth": pa.array([d for _, d in rows], pa.int32()),
                "seq": pa.array(seqs, pa.int64()),
            })
            want, _ = apply_host_budget(
                spark.createDataFrame(frontier), budget,
                order_cols=("depth", "seq"), scope=scope)
            if batched:
                want = want.orderBy("seq").limit(batch_size)
            got = admit_arrow(frontier, budget, scope, batch_size)
            assert got.column("seq").to_pylist() == sorted(
                r["seq"] for r in want.collect())

        check()

    def test_base_domain_of_matches_column(self, spark):
        """The driver's budget key (base_domain_of) equals the window's
        (base_domain_col) on hosts with empty labels, a trailing dot and
        multi-label public suffixes."""
        from hypothesis import given, settings, strategies as st

        from anycrawl_spark.kernel.canonical import (base_domain_col,
                                                     base_domain_of)

        label = st.sampled_from(["", "a", "b", "www", "co", "uk", "com",
                                 "au", "org", "test", "localhost"])
        hosts: list[str] = []

        @settings(max_examples=300, deadline=None)
        @given(st.lists(label, min_size=1, max_size=5))
        def collect(labels):
            hosts.append(".".join(labels))

        collect()
        got = {r["host"]: r["key"] for r in spark.createDataFrame(
            [(h,) for h in hosts], "host string").select(
                "host", base_domain_col(F.col("host")).alias("key")).collect()}
        assert {h: base_domain_of(h) for h in hosts} == got


class TestSpecRobotsCrawl:
    def test_crawl_with_wildcard_robots(self, spark, small_corpus, tmp_root):
        """Engine accepts raw robots.txt with wildcard/Allow rules: the
        blog subtree is disallowed via '/blog*' but '/blog/p/3' is re-allowed
        by a longer Allow rule; visited set reflects both."""
        from anycrawl_spark.politeness import (compile_robots_rules,
                                               parse_robots_txt)

        txt = (
            "User-agent: anycrawl\n"
            "Disallow: /blog*\n"
            "Allow: /blog/p/3\n"
            "Disallow: /*.png$\n"
        )
        robots = compile_robots_rules(spark, {
            "site000.test": parse_robots_txt(txt, "anycrawl")["rules"]})
        engine = CrawlEngine(spark, small_corpus,
                             os.path.join(tmp_root, "specrb"), robots=robots)
        engine.run(CrawlConfig(job_id="specrb", seed_url=SEED,
                               strategy="same-hostname", max_depth=6,
                               limit=80, respect_robots=True))
        paths = {v["url"].split(".test", 1)[1] for v in engine.visits().collect()}
        blog_paths = {p for p in paths if p.startswith("/blog")}
        # Allow '/blog/p/3' is a PREFIX rule (RFC): /blog/p/3, /blog/p/38 and
        # the ?query variant are re-allowed; every other blog path is denied
        assert blog_paths and all(p.startswith("/blog/p/3") for p in blog_paths), blog_paths
        assert "/blog/p/10" not in paths  # reachable but robots-denied
        assert not any(p.endswith(".png") for p in paths)
        assert any(p.startswith("/p/") for p in paths)  # rest still crawled


class TestConfigBounds:
    def test_zod_schema_bounds(self):
        """CrawlConfig enforces the reference zod bounds
        (CrawlSchema.ts:31-47): max_depth [1,50], limit [1,50000], strategy
        enum — zod .parse() rejects out-of-range, so does the dataclass."""
        import pytest

        CrawlConfig(job_id="b", seed_url="https://x.test/",
                    max_depth=50, limit=50_000)  # boundary values accepted
        with pytest.raises(ValueError):
            CrawlConfig(job_id="b", seed_url="https://x.test/", max_depth=0)
        with pytest.raises(ValueError):
            CrawlConfig(job_id="b", seed_url="https://x.test/", max_depth=51)
        with pytest.raises(ValueError):
            CrawlConfig(job_id="b", seed_url="https://x.test/", limit=0)
        with pytest.raises(ValueError):
            CrawlConfig(job_id="b", seed_url="https://x.test/", limit=50_001)

    def test_seed_url_must_be_absolute_http(self):
        """z.string().url() rejects non-URL seeds; a scheme-less seed would
        canonicalize to a null-host junk row and 'complete' a crawl of
        nothing."""
        import pytest

        for bad in ("x.test/foo", "ftp://x.test/", "", "https://"):
            with pytest.raises(ValueError):
                CrawlConfig(job_id="b", seed_url=bad)
        with pytest.raises(ValueError):
            CrawlConfig(job_id="b", seed_url="https://x.test/", max_attempts=0)


class TestCorpusDedup:
    def test_duplicate_captures_do_not_fan_out(self, spark, small_corpus,
                                               tmp_root):
        """Two captures of the same URL in the corpus must not duplicate
        visits/results or corrupt the done/pending arithmetic — the latest
        warc_ts capture wins."""
        dup = small_corpus.limit(20).withColumn(
            "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 1 DAY"))
        doubled = small_corpus.unionByName(dup)

        base_dir = os.path.join(tmp_root, "dedup_base")
        base = CrawlEngine(spark, small_corpus, base_dir)
        s1 = base.run(CrawlConfig(job_id="d", seed_url=SEED,
                                  strategy="same-hostname", max_depth=4,
                                  limit=30, respect_robots=False))
        dbl_dir = os.path.join(tmp_root, "dedup_dbl")
        dbl = CrawlEngine(spark, doubled, dbl_dir)
        s2 = dbl.run(CrawlConfig(job_id="d", seed_url=SEED,
                                 strategy="same-hostname", max_depth=4,
                                 limit=30, respect_robots=False))
        assert (s1["done"], s1["fetched"], s1["enqueued"]) == \
               (s2["done"], s2["fetched"], s2["enqueued"])
        v1 = [(r["seq"], r["url"]) for r in base.visit_order().collect()]
        v2 = [(r["seq"], r["url"]) for r in dbl.visit_order().collect()]
        assert v1 == v2
        with pytest.raises(ValueError):
            CrawlConfig(job_id="b", seed_url="https://x.test/",
                        strategy="same-planet")
        with pytest.raises(ValueError):
            CrawlConfig(job_id="b", seed_url="https://x.test/",
                        budget_scope="continent")


class TestFetchInvariant:
    def test_duplicate_prepared_corpus_key_raises(self, spark, small_corpus,
                                                  tmp_root):
        """A prepared corpus is trusted to be unique on page_url_hash. One
        that is not fans the fetch join out, and the round raises where the
        fetch outcome meets the admitted rows instead of committing
        duplicate visits and done/failed counts."""
        from anycrawl_spark.crawl import prepare_corpus

        corpus = prepare_corpus(small_corpus, dedup=False)
        engine = CrawlEngine(spark, corpus.unionByName(corpus),
                             os.path.join(tmp_root, "fanout"), prepared=True)
        with pytest.raises(AssertionError, match="outcome seqs differ"):
            engine.run(CrawlConfig(job_id="fo", seed_url=SEED, limit=10,
                                   respect_robots=False))
        assert engine.catalog.committed_rounds("visits") == []


class TestPipelinedCheckpointing:
    """Regression tests for the round-4 write pipelining: deferred commits,
    a crash inside a deferred commit or with a round's writes in flight,
    and resume validation."""

    KW = dict(seed_url=SEED, strategy="same-hostname", max_depth=5,
              limit=40, respect_robots=False)

    def _crawl(self, spark, small_corpus, d, resume=False, **kw):
        engine = CrawlEngine(spark, small_corpus, d)
        engine.run(CrawlConfig(job_id="pc", **{**self.KW, **kw}),
                   resume=resume)
        return engine

    @staticmethod
    def _state(spark, engine):
        visits = [(r["seq"], r["url"], r["depth"], r["status"])
                  for r in engine.visit_order().collect()]
        results = {(r["url"], r["markdown"], r["text"]) for r in
                   engine.results().select("url", "markdown", "text")
                   .collect()}
        seen = {r["url_hash"] for r in
                engine.catalog.read(spark, "seen").collect()}
        return visits, results, seen

    @pytest.mark.parametrize("point", ["before_manifest", "after_manifest",
                                       "writes_in_flight"])
    def test_crash_inside_commit_resumes_exact(self, spark, small_corpus,
                                               tmp_root, monkeypatch, point):
        """A crash inside round 3's deferred commit — before its manifest
        write, or after it but before the superseded copies are deleted —
        or in round 3's state writes while its doc writes are in flight,
        resumes to the uninterrupted crawl with one seen copy."""
        from anycrawl_spark.catalog import Catalog

        full = self._crawl(spark, small_corpus,
                           os.path.join(tmp_root, f"pc_full_{point}"))
        # round 3 adds seen hashes: its commit retires the prior seen copy
        assert full.catalog.round_meta(3)["new"] > 0

        class Crash(Exception):
            pass

        write_manifest = Catalog._write_manifest

        def crashing(catalog, manifest):
            if "3" not in manifest["meta"]:
                return write_manifest(catalog, manifest)
            if point == "after_manifest":
                write_manifest(catalog, manifest)
            raise Crash(point)

        write_state = CrawlEngine._write_state

        def crashing_state(engine, r, *args):
            # round 3's results/visits/metrics writes were submitted
            # before its state writes and are still uncommitted
            tables = write_state(engine, r, *args)
            if r == 3:
                raise Crash(point)
            return tables

        d = os.path.join(tmp_root, f"pc_crash_{point}")
        with monkeypatch.context() as m:
            if point == "writes_in_flight":
                m.setattr(CrawlEngine, "_write_state", crashing_state)
            else:
                m.setattr(Catalog, "_write_manifest", crashing)
            with pytest.raises(Crash):
                self._crawl(spark, small_corpus, d)
        if point == "writes_in_flight":
            crashed = Catalog(d)
            assert crashed.last_round() == 2
            # the shut-down executor let the in-flight writes land
            assert os.path.isdir(crashed.round_path("results", 3))
        resumed = self._crawl(spark, small_corpus, d, resume=True)
        assert self._state(spark, resumed) == self._state(spark, full)
        assert_one_state_copy(resumed.catalog)

    def test_run_failure_releases_executor(self, spark, small_corpus, tmp_root):
        # resume-validation failure path: executor must not leak. A newest
        # meta without pending_next: resume rejects it instead of guessing
        # the round size
        import json

        d = os.path.join(tmp_root, "pc_pending_next")
        engine = CrawlEngine(spark, small_corpus, d)
        engine.run(CrawlConfig(job_id="pc", seed_url=SEED, limit=5,
                               respect_robots=False))
        mpath = os.path.join(d, "_manifest.json")
        with open(mpath) as f:
            manifest = json.load(f)
        newest = max(manifest["meta"], key=int)
        manifest["meta"][newest].pop("pending_next")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        resumed = CrawlEngine(spark, small_corpus, d)
        with pytest.raises(ValueError, match="pending_next"):
            resumed.run(CrawlConfig(job_id="pc", seed_url=SEED, limit=5,
                                    respect_robots=False), resume=True)
        assert resumed._writes is None


class TestRecrawlEviction:
    """TTL eviction → re-enqueue → recrawl round trip: a page-cache entry
    passes its TTL tier, the monitor evicts the URL from the seen set and
    re-enqueues it, and a resumed run fetches exactly those URLs again
    with dense visit numbering intact and every rediscovered link still
    deduped."""

    @pytest.mark.parametrize("fam_name", ["cuckoo", "bloom"])
    def test_cache_expiry_roundtrip(self, spark, small_corpus, tmp_root,
                                    fam_name):
        from anycrawl_spark.cache import cache_lookup

        kw = dict(seed_url=SEED, strategy="all", max_depth=4, limit=40,
                  respect_robots=False, seen_filter=fam_name)
        eng = CrawlEngine(spark, small_corpus,
                          os.path.join(tmp_root, f"recrawl_{fam_name}"))
        s1 = eng.run(CrawlConfig(job_id="rc", **kw))
        visits1 = eng.visits().collect()
        ok_urls = sorted(v["url"] for v in visits1 if v["status"] == 200)
        victims = ok_urls[1:4]          # 3 pages whose cache entries expire

        # --- cache-TTL wiring: victims scraped 3 days ago (page tier = 2d)
        cache = spark.createDataFrame(
            [(v["url_hash"], "h0", "md", "tx", "t",)
             for v in visits1 if v["status"] == 200],
            "url_hash string, options_hash string, markdown string, "
            "text string, title string",
        ).withColumn(
            "scraped_at",
            F.when(F.col("url_hash").isin(
                [v["url_hash"] for v in visits1 if v["url"] in victims]),
                F.expr("current_timestamp() - INTERVAL 3 DAY"))
            .otherwise(F.expr("current_timestamp()")))
        frontier = spark.createDataFrame(
            [(v["url"], v["url_hash"]) for v in visits1
             if v["status"] == 200], "url string, url_hash string")
        looked = cache_lookup(frontier, cache, "h0", tier="page")
        expired = sorted(r["url"] for r in looked
                         .where(~F.col("cache_hit")).collect())
        assert expired == sorted(victims)   # page-tier TTL flags exactly them

        # --- evict: seen state loses exactly the victim hashes. A never-
        # crawled URL in the batch is not counted as evicted. No filter is
        # checkpointed, so the eviction runs under the other filter family
        # and the round trip goes on under this one.
        cfg = CrawlConfig(job_id="rc", **kw)
        other = "bloom" if fam_name == "cuckoo" else "cuckoo"
        meta_e = eng.evict_urls(
            CrawlConfig(job_id="rc", **{**kw, "seen_filter": other}),
            expired + ["https://never-crawled.test/x"])
        assert meta_e["evicted"] == 3
        victim_hashes = {v["url_hash"] for v in visits1
                         if v["url"] in victims}
        seen_now = {r["url_hash"] for r in eng.catalog.read(
            spark, "seen").select("url_hash").collect()}
        assert victim_hashes.isdisjoint(seen_now)
        assert len(seen_now) == s1["enqueued"] - 3
        assert_one_state_copy(eng.catalog)
        # the filter built from the seen set + exact seen treat victims as
        # new again
        fam = cfg.filter_family()
        cand = eng._canonical_rows(cfg, expired)
        cand_df = spark.createDataFrame(cand)
        fresh = fam.filter_new(cand_df, fam.build_driver(sorted(seen_now)),
                               eng.catalog.read(spark, "seen"))
        assert {r["url_hash"] for r in fresh.collect()} == victim_hashes

        # --- re-enqueue + resumed run fetches exactly the victims again
        meta_q = eng.reenqueue_urls(cfg, expired)
        assert meta_q["pending_next"] == 3
        assert meta_q["enqueued"] == s1["enqueued"] + 3
        assert_one_state_copy(eng.catalog)
        s2 = eng.run(CrawlConfig(job_id="rc", **{**kw, "limit": 43}),
                     resume=True)
        assert s2["done"] == s1["done"] + 3
        # rediscovered links all dedupe: nothing new enqueued beyond the 3
        assert s2["enqueued"] == s1["enqueued"] + 3

        visits2 = eng.visits().collect()
        counts = {}
        for v in visits2:
            counts[v["url"]] = counts.get(v["url"], 0) + 1
        assert all(counts[u] == 2 for u in victims)
        assert all(n == 1 for u, n in counts.items() if u not in victims)
        seqs = sorted(v["seq"] for v in visits2)
        assert seqs == list(range(s2["done"]))   # dense numbering intact

        # seen state is whole again: victims re-marked at enqueue
        seen_after = {r["url_hash"] for r in eng.catalog.read(
            spark, "seen").select("url_hash").collect()}
        assert victim_hashes <= seen_after
        assert_one_state_copy(eng.catalog)

    FAULT_KW = dict(seed_url=SEED, strategy="all", max_depth=4, limit=40,
                    respect_robots=False)
    STEPS = (("evict", CrawlEngine.evict_urls),
             ("reenqueue", CrawlEngine.reenqueue_urls))

    @pytest.fixture(scope="class")
    def recrawl_reference(self, spark, small_corpus, tmp_root):
        """A finished crawl checkpoint, the URLs to recrawl, and the state
        after its uninterrupted evict → re-enqueue → resume round trip;
        shared by the crash cases."""
        import shutil

        base = os.path.join(tmp_root, "rf_base")
        eng = CrawlEngine(spark, small_corpus, base)
        cfg = CrawlConfig(job_id="rf", **self.FAULT_KW)
        eng.run(cfg)
        victims = sorted(v["url"] for v in eng.visits().collect()
                         if v["status"] == 200)[1:4]
        ref_dir = os.path.join(tmp_root, "rf_ref")
        shutil.copytree(base, ref_dir)
        ref = CrawlEngine(spark, small_corpus, ref_dir)
        for _, call in self.STEPS:
            call(ref, cfg, victims)
        ref.run(CrawlConfig(job_id="rf", **{**self.FAULT_KW, "limit": 43}),
                resume=True)
        assert_one_state_copy(ref.catalog)
        return base, victims, TestPipelinedCheckpointing._state(spark, ref)

    @pytest.mark.parametrize("point", ["before_manifest", "after_manifest"])
    @pytest.mark.parametrize("step", ["evict", "reenqueue"])
    def test_crash_inside_recrawl_commit_resumes_exact(
            self, spark, small_corpus, tmp_root, monkeypatch,
            recrawl_reference, step, point):
        """A crash inside the commit of evict_urls or reenqueue_urls —
        before its manifest write (the call is retried) or after it (the
        call is committed; the sequence goes on) — ends at the
        uninterrupted round trip's visits, results and seen set, with one
        seen copy."""
        import shutil

        from anycrawl_spark.catalog import Catalog

        base, victims, ref_state = recrawl_reference
        d = os.path.join(tmp_root, f"rf_{step}_{point}")
        shutil.copytree(base, d)
        cfg = CrawlConfig(job_id="rf", **self.FAULT_KW)
        phase = {"evict": "evicted", "reenqueue": "recrawl_enqueued"}[step]

        class Crash(Exception):
            pass

        write_manifest = Catalog._write_manifest

        def crashing(catalog, manifest):
            newest = manifest["meta"][max(manifest["meta"], key=int)]
            if newest.get("phase") != phase:
                return write_manifest(catalog, manifest)
            if point == "after_manifest":
                write_manifest(catalog, manifest)
            raise Crash(point)

        eng = CrawlEngine(spark, small_corpus, d)
        for name, call in self.STEPS:
            if name == step:
                with monkeypatch.context() as m:
                    m.setattr(Catalog, "_write_manifest", crashing)
                    with pytest.raises(Crash):
                        call(eng, cfg, victims)
                # a restarted process continues on the same checkpoint
                eng = CrawlEngine(spark, small_corpus, d)
                assert (eng._progress()["phase"] == phase) is \
                    (point == "after_manifest")
                if point == "after_manifest":
                    continue
            call(eng, cfg, victims)
        eng.run(CrawlConfig(job_id="rf", **{**self.FAULT_KW, "limit": 43}),
                resume=True)
        assert TestPipelinedCheckpointing._state(spark, eng) == ref_state
        assert_one_state_copy(eng.catalog)


class TestPrefilterGate:
    def test_gate_never_changes_results(self, spark, small_corpus, tmp_root):
        """prefilter_min_seen gates only the physical plan (probe vs plain
        exact anti-join) — visit order, statuses, and the seen set must be
        byte-identical on both sides of the threshold."""
        runs = {}
        for tag, threshold in (("probe", 0), ("exact", 1 << 30)):
            eng = CrawlEngine(spark, small_corpus,
                              os.path.join(tmp_root, f"pf_{tag}"))
            eng.run(CrawlConfig(job_id="pf", seed_url=SEED, strategy="all",
                                max_depth=6, limit=60, respect_robots=False,
                                prefilter_min_seen=threshold))
            runs[tag] = (
                [(r["seq"], r["url"], r["status"])
                 for r in eng.visit_order().collect()],
                sorted(r["url_hash"] for r in
                       eng.catalog.read(spark, "seen").collect()),
            )
        assert runs["probe"] == runs["exact"]


class TestResolvedProxyField:
    """Base.ts:1294-1295: every result document reports the resolved proxy
    mode name (getResolvedProxyModeName over the request's proxy option)."""

    def test_default_is_base(self, spark, small_corpus, tmp_root):
        engine, _, _, _ = run_engine(
            spark, small_corpus, tmp_root, "pxdef", seed_url=SEED,
            strategy="same-hostname", max_depth=2, limit=5,
            respect_robots=False)
        modes = {r["proxy"] for r in engine.results().select("proxy").collect()}
        assert modes == {"base"}

    def test_stealth_needs_pool_else_degrades(self, spark, small_corpus,
                                              tmp_root, monkeypatch):
        monkeypatch.delenv("ANYCRAWL_PROXY_STEALTH_URL", raising=False)
        engine, _, _, _ = run_engine(
            spark, small_corpus, tmp_root, "pxdeg", seed_url=SEED,
            strategy="same-hostname", max_depth=2, limit=5,
            respect_robots=False, proxy="stealth")
        modes = {r["proxy"] for r in engine.results().select("proxy").collect()}
        assert modes == {"base"}  # libs/proxy.ts:60-63 degradation

        monkeypatch.setenv("ANYCRAWL_PROXY_STEALTH_URL", "http://st:9090")
        engine2, _, _, _ = run_engine(
            spark, small_corpus, tmp_root, "pxst", seed_url=SEED,
            strategy="same-hostname", max_depth=2, limit=5,
            respect_robots=False, proxy="stealth")
        modes = {r["proxy"]
                 for r in engine2.results().select("proxy").collect()}
        assert modes == {"stealth"}

    def test_custom_url_and_auto(self, spark, small_corpus, tmp_root):
        engine, _, _, _ = run_engine(
            spark, small_corpus, tmp_root, "pxcust", seed_url=SEED,
            strategy="same-hostname", max_depth=2, limit=5,
            respect_robots=False, proxy="http://me:3128")
        modes = {r["proxy"] for r in engine.results().select("proxy").collect()}
        assert modes == {"custom"}
        engine2, _, _, _ = run_engine(
            spark, small_corpus, tmp_root, "pxauto", seed_url=SEED,
            strategy="same-hostname", max_depth=2, limit=5,
            respect_robots=False, proxy="auto")
        modes = {r["proxy"]
                 for r in engine2.results().select("proxy").collect()}
        assert modes == {"base"}  # auto charges/reports base initially


class TestPageCacheE2E:
    """Crawl results -> write-side gate + key derivation -> page-cache
    upsert -> read-side lookup: the full S8 story (Worker save step ->
    cache/index.ts -> managers/Cache.ts) composed over a real engine
    run."""

    def test_results_to_cache_roundtrip(self, spark, small_corpus, tmp_root):
        from anycrawl_spark.cache import (build_page_cache, cache_lookup,
                                          compute_cache_key,
                                          normalize_cache_url)

        engine, summary, _, _ = run_engine(
            spark, small_corpus, tmp_root, "cache_e2e", seed_url=SEED,
            strategy="same-hostname", max_depth=5, limit=30,
            respect_robots=False)
        results = engine.results()
        # inject one title-only result the gate must refuse, and one
        # failed fetch it must never consider
        extra = spark.createDataFrame(
            [("cache_e2e", "https://site000.test/only-title", 200,
              "Only Title", "Only Title", None, None, "base"),
             ("cache_e2e", "https://site000.test/failed", 503,
              "x", "body", None, None, "base")],
            "job_id string, url string, status int, markdown string, "
            "title string, text string, html_clean string, proxy string")
        results = results.unionByName(extra, allowMissingColumns=True)

        cache = build_page_cache(
            results, engine="cheerio", formats=("markdown",),
            proxy="auto",   # the job's ORIGINAL requested proxy, not the
                            # per-row resolved mode (Base.ts:1206)
            scraped_at_expr="timestamp'2026-01-02 03:04:05'")
        rows = {r["url"]: r for r in cache.collect()}

        ok = [r for r in results.where("status = 200").collect()
              if r["url"] != "https://site000.test/only-title"]
        assert len(ok) > 0
        # the gate admits every real page, refuses the title-only and the
        # failed fetch
        assert set(rows) == {r["url"] for r in ok}
        # keys match the exact-parity Python computeCacheKey
        probe = ok[0]
        uh, oh = compute_cache_key({
            "url": probe["url"], "engine": "cheerio",
            "formats": ["markdown"], "proxy": "auto"})
        got = rows[probe["url"]]
        assert (got["url_hash"], got["options_hash"]) == (uh, oh)
        assert got["markdown"] == probe["markdown"]

        # read-side roundtrip: a frontier keyed by the cache's own url
        # hash finds every stored page fresh
        frontier = (results.where("status = 200")
                    .select("url").distinct()
                    .withColumn("url_hash", F.sha2(
                        F.udf(normalize_cache_url, "string")("url"), 256)))
        hits = cache_lookup(
            frontier, cache, oh,
            now_expr="timestamp'2026-01-02 04:00:00'")
        hit_map = {r["url"]: r for r in hits.collect()}
        assert all(hit_map[r["url"]]["cache_hit"] for r in ok)
        assert not hit_map["https://site000.test/only-title"]["cache_hit"] \
            if "https://site000.test/only-title" in hit_map else True
        # and an upsert of a re-scrape wins over the stale entry
        rescrape = results.where(F.col("url") == probe["url"]).withColumn(
            "markdown", F.lit("# fresher"))
        cache2 = build_page_cache(
            rescrape, engine="cheerio", formats=("markdown",),
            proxy="auto",
            scraped_at_expr="timestamp'2026-01-03 00:00:00'",
            existing=cache)
        newest = cache2.where(F.col("url") == probe["url"]).collect()
        assert len(newest) == 1 and newest[0]["markdown"] == "# fresher"
