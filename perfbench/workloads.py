"""The workloads, each driven the same way by run.py: ``prepare`` (input
load) and ``warmup`` (one discarded job), both inside setup_s; ``job``
(timed, in a closed loop with one client; returns the items it processed);
``check`` (correctness, untimed); and in the traced run ``layers``
(per-layer figures).
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import time

import numpy as np

import inputs
import probes


class Ctx:
    """What a workload sees: the session, the program's source root, its
    directories and the seed."""

    def __init__(self, spark, src: str, cache: str, work: str, seed: int,
                 cores: int, tracer=None) -> None:
        self.spark, self.src, self.cache, self.work = spark, src, cache, work
        self.seed, self.cores, self.tracer = seed, cores, tracer
        self.gen_s = 0.0              # corpus/table generation this run

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)


class BulkScrape:
    """Full-corpus scrape: canonicalize + hash every frontier URL, fetch-join
    against the corpus, run the extraction UDF, write parquet."""

    name = "bulk_scrape"

    def prepare(self, ctx: Ctx) -> None:
        corpus, gen_s = inputs.ensure_corpus(ctx.spark, ctx.cache, "mixed")
        ctx.gen_s += gen_s
        self.corpus_dir = self.gen_dir = corpus
        self.pages_path = inputs.corpus_pages_path(corpus)
        self.frontier_path = inputs.scrape_frontier(corpus, ctx.work, ctx.seed)
        self.n_pages = inputs.CORPORA["mixed"][0]
        self.outputs: list[str] = []

    def _frames(self, spark):
        """(fetch-join output, full result) of the scrape job's plan."""
        from pyspark.sql import functions as F

        from anycrawl_spark.crawl import _canonical_cols, prepare_corpus
        from anycrawl_spark.udfs import make_extract_udf

        corpus = prepare_corpus(spark.read.parquet(self.pages_path), dedup=False)
        frontier = _canonical_cols(spark.read.parquet(self.frontier_path), "url")
        extract = make_extract_udf(formats=("markdown", "text", "links"))
        joined = frontier.join(
            corpus, frontier["url_hash"] == corpus["page_url_hash"], "left")
        result = (
            joined.withColumn("status", F.when(F.col("html").isNotNull(), 200)
                              .otherwise(404))
            .withColumn("doc", extract(F.col("url"), F.col("html")))
            .select("url", "url_hash", "host", "status",
                    F.col("doc.title").alias("title"),
                    F.col("doc.markdown").alias("markdown"),
                    F.col("doc.text").alias("text"),
                    F.size("doc.links").alias("n_links")))
        return joined, result

    def _run(self, ctx: Ctx, out_dir: str) -> int:
        self._frames(ctx.spark)[1].write.mode("overwrite").parquet(out_dir)
        return self.n_pages

    def warmup(self, ctx: Ctx) -> None:
        out = os.path.join(ctx.work, "scrape_warm")
        self._run(ctx, out)
        shutil.rmtree(out)

    def job(self, ctx: Ctx, i: int) -> int:
        out = os.path.join(ctx.work, f"scrape_out_{i}")
        self.outputs.append(out)
        return self._run(ctx, out)

    def after_job(self, ctx: Ctx) -> None:
        while len(self.outputs) > 1:          # keep the last for the check
            shutil.rmtree(self.outputs.pop(0))

    def check(self, ctx: Ctx):
        import pyarrow.parquet as pq

        from checks import check_scrape, expected_scrape_row

        out = pq.read_table(self.outputs[-1])
        expected = {u: expected_scrape_row(u, h)
                    for u, h in inputs.sample_pages(self.corpus_dir, ctx.seed,
                                                    salt=1)}
        got = {r["url"]: r for r in out.filter(
            pq.filters_to_expression([("url", "in", list(expected))])
        ).to_pylist()}
        attempted, failed, note = check_scrape(got, expected)
        # plus one check that every frontier URL produced exactly one row
        rows_ok = (out.num_rows == self.n_pages
                   and len(set(out["url"].to_pylist())) == self.n_pages)
        if not rows_ok:
            note = note or f"{out.num_rows} rows for {self.n_pages} URLs"
        return attempted + 1, failed + (not rows_ok), note

    def layers(self, ctx: Ctx, job_s: float) -> dict:
        with ctx.span("probe scrape_prefixes"):
            pre = probes.scrape_prefixes(
                *self._frames(ctx.spark), os.path.join(ctx.work, "scrape_probe"))
        n = self.n_pages
        with ctx.span("probe kernel"):
            kernel_ms = probes.extract_cpu_ms_per_page(
                inputs.sample_pages(self.corpus_dir, ctx.seed, salt=2))
        return {
            "crawl.fetch_join_s": pre["join_s"],
            "udfs.arrow_boundary_ms_per_page":
                (pre["identity_s"] - pre["join_s"]) / n * 1e3,
            "udfs.extract_udf_ms_per_page":
                (pre["extract_s"] - pre["identity_s"]) / n * 1e3,
            "catalog.parquet_write_s": pre["full_s"] - pre["extract_s"],
            "kernel.extract_cpu_ms_per_page": kernel_ms,
            # the parts add up to the full pipeline as the probe timed it,
            # which falls short of job_s by whatever the cuts miss
            "trace.span_coverage_share": pre["full_s"] / job_s,
        }


class CrawlBudgetedHot:
    """``CrawlEngine.run``: BFS over the hot-host corpus with a binding
    per-host budget, on a persisted, prepared corpus. The probe threshold is
    lowered from its 25,000 default so the seen-filter probe runs inside a
    job of this size (discovery ends once `limit` URLs are enqueued)."""

    name = "crawl_budgeted_hot"
    corpus = "hot"
    crawl_cfg = {"strategy": "all", "max_depth": 20, "limit": 400,
                 "politeness_budget": 80, "prefilter_min_seen": 50}
    WARMUP_LIMIT = 100

    def config(self, ctx: Ctx):
        from anycrawl_spark.crawl import CrawlConfig

        return CrawlConfig(job_id=self.name, respect_robots=False,
                           seed_url=inputs.crawl_seed_url(self.corpus, ctx.seed),
                           **self.crawl_cfg)

    def prepare(self, ctx: Ctx) -> None:
        from pyspark.storagelevel import StorageLevel

        from anycrawl_spark.crawl import prepare_corpus

        corpus_dir, gen_s = inputs.ensure_corpus(ctx.spark, ctx.cache,
                                                 self.corpus)
        ctx.gen_s += gen_s
        self.corpus_dir = self.gen_dir = corpus_dir
        self.prepared = prepare_corpus(ctx.spark.read.parquet(
            inputs.corpus_pages_path(corpus_dir))).persist(
                StorageLevel.MEMORY_AND_DISK)
        self.prepared.count()
        self.cfg = self.config(ctx)
        self.engines: list = []

    def warmup(self, ctx: Ctx) -> None:
        """A shorter crawl (6 rounds) through every stage the job runs: the
        budget window, the fetch join, extraction, and the seen probe."""
        from anycrawl_spark.crawl import CrawlEngine

        engine = CrawlEngine(ctx.spark, self.prepared,
                             os.path.join(ctx.work, "ckpt_warm"), prepared=True)
        engine.run(dataclasses.replace(self.cfg, limit=self.WARMUP_LIMIT))
        engine.catalog.destroy()

    def job(self, ctx: Ctx, i: int) -> int:
        from anycrawl_spark.crawl import CrawlEngine

        engine = CrawlEngine(ctx.spark, self.prepared,
                             os.path.join(ctx.work, f"ckpt_{i}"), prepared=True)
        summary = engine.run(self.cfg)
        self.engines.append((engine, summary))
        return summary["done"]

    def after_job(self, ctx: Ctx) -> None:
        while len(self.engines) > 1:          # keep the last for the check
            self.engines.pop(0)[0].catalog.destroy()

    def check(self, ctx: Ctx):
        from checks import check_crawl

        engine, _ = self.engines[-1]
        visits = [(r["seq"], r["url"], r["depth"], r["status"])
                  for r in engine.visit_order().collect()]
        seen = {r["url_hash"]
                for r in engine.catalog.read(ctx.spark, "seen").collect()}
        c = self.cfg
        ref = inputs.crawl_reference(self.corpus_dir, {
            "seed_url": c.seed_url, "strategy": c.strategy,
            "max_depth": c.max_depth, "limit": c.limit,
            "politeness_budget": c.politeness_budget}, ctx.src)
        return check_crawl(visits, seen, ref)

    def metas(self) -> list[dict]:
        engine, summary = self.engines[-1]
        return [engine.catalog.round_meta(r)
                for r in range(summary["rounds"] + 1)]

    def layers(self, ctx: Ctx, job_s: float) -> dict:
        engine, summary = self.engines[-1]
        metas = self.metas()
        st = probes.round_stats(metas, self.cfg.limit)
        c = self.cfg
        out = {
            "crawl.rounds": st["rounds"],
            "crawl.round_compute_s_p50": st["compute_p50"],
            "crawl.round_plan_s_p50": st["plan_p50"],
            "crawl.round_disc_s_p50": st["disc_p50"],
            "crawl.round_counts_s_p50": st["counts_p50"],
            "crawl.round_state_writes_s_p50": st["state_writes_p50"],
            "crawl.fixed_s_per_round": st["fixed_s"],
            "crawl.marginal_ms_per_page": st["marginal_ms"],
            "crawl.tail_s": job_s - sum(st["round_s"]),
            "trace.span_coverage_share": sum(st["round_s"]) / job_s,
            "politeness.deferred_share": st["deferred_share"],
            "seen.probe_rounds": probes.probe_rounds(
                metas, c.limit, c.prefilter_min_seen),
            "catalog.checkpoint_bytes_per_page":
                probes.dir_bytes(engine.catalog.root) / summary["done"],
        }
        with ctx.span("probe kernel"):
            out["kernel.extract_cpu_ms_per_page"] = probes.extract_cpu_ms_per_page(
                inputs.sample_pages(self.corpus_dir, ctx.seed, salt=2))
        with ctx.span("probe budget_window"):
            out["politeness.budget_window_s"] = probes.budget_window_s(
                ctx.spark, engine.catalog, c.politeness_budget)
        hashes = [r["url_hash"] for r in
                  engine.catalog.read(ctx.spark, "seen").collect()]
        fams = {name: dataclasses.replace(c, seen_filter=name).filter_family()
                for name in ("bloom", "cuckoo")}
        with ctx.span("probe seen_filter"):
            sp = probes.seen_filter_probes(ctx.spark, hashes, 50_000, fams)
        out.update({"seen.probe_ns": sp["bloom_probe_ns"],
                    "cuckoo.probe_ns": sp["cuckoo_probe_ns"],
                    "seen.antijoin_s": sp["antijoin_s"],
                    "seen.maybe_seen_fp_ratio": sp["fp_ratio"]})
        return out

    def round_spans(self, tracer, job_span: dict) -> None:
        """Child spans of a traced job, one per round, laid end to end from
        each round's recorded compute + state-write seconds."""
        t = job_span["start"]
        for m in self.metas():
            if m.get("phase") != "crawl":
                continue
            d = m["timings"]["compute"] + m["timings"]["state_writes"]
            tracer.add(f"round {m['round']}", t, t + d, job_span["id"],
                       admitted=m["admitted"], new=m["new"])
            t += d


# The nine load_wide leaves that regressed in the round-7 control, then the
# leaves whose wins must hold and the near-duplicate family.
LEAVES = [
    "jaccard_over_candidates", "incremental_dedup", "span_dedup",
    "winnow_fingerprints", "domain_mix_weights", "template_render",
    "cache_store_gate", "dedup_clusters", "sessionize_events",
    "request_validate", "auto_engine_decision", "semantic_dedup",
    "simhash_near_pairs", "ngram_jaccard_pairs", "ann_ivf_real",
]
LEAF_TABLE = {"sessionize_events": "events", "request_validate": "events",
              "semantic_dedup": "embeddings", "ann_ivf_real": "embeddings"}


class RegistryDedup:
    """A fixed list of registry leaves, each written to a noop sink."""

    name = "registry_dedup"

    def prepare(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq

        self.dir = inputs.REGISTRY_DIR
        self.gen_dir = None                   # nothing generated
        rows = {t: pq.read_metadata(os.path.join(self.dir, f"{t}.parquet")).num_rows
                for t in ("documents", "events", "embeddings")}
        self.items = sum(rows[LEAF_TABLE.get(leaf, "documents")]
                         for leaf in LEAVES)
        order = np.random.default_rng(ctx.seed).permutation(len(LEAVES))
        self.order = [LEAVES[i] for i in order]
        self.leaf_s: dict[str, list[float]] = {leaf: [] for leaf in LEAVES}

    def warmup(self, ctx: Ctx) -> None:
        """One pass that collects every leaf, ``cores`` leaves at a time;
        the collected output is what ``check`` compares with the oracle."""
        from concurrent.futures import ThreadPoolExecutor

        from anycrawl_spark.operators.queries import REGISTRY

        with ThreadPoolExecutor(ctx.cores) as pool:
            frozen = pool.map(
                lambda leaf: _Frozen(REGISTRY[leaf].fn(ctx.spark, self.dir)),
                self.order)
            self.frozen = dict(zip(self.order, frozen))

    def job(self, ctx: Ctx, i: int) -> int:
        from anycrawl_spark.operators.queries import REGISTRY

        for leaf in self.order:
            t0 = time.perf_counter()
            with ctx.span(leaf):
                probes.noop(REGISTRY[leaf].fn(ctx.spark, self.dir))
            if ctx.tracer is not None:        # per-leaf times of traced jobs
                self.leaf_s[leaf].append(time.perf_counter() - t0)
        return self.items

    def after_job(self, ctx: Ctx) -> None:
        pass

    def check(self, ctx: Ctx):
        from types import SimpleNamespace

        from anycrawl_spark.operators.queries import REGISTRY
        from checks import check_leaves
        from validate_oracle import compare_query, open_duckdb

        con = open_duckdb(self.dir)
        results = {}
        for leaf, frozen in self.frozen.items():
            spec = SimpleNamespace(fn=lambda *_, f=frozen: f,
                                   oracle=REGISTRY[leaf].oracle)
            results[leaf] = compare_query(ctx.spark, con, spec, self.dir)
        con.close()
        return check_leaves(results)

    def layers(self, ctx: Ctx, job_s: float) -> dict:
        med = {leaf: float(np.median(v)) for leaf, v in self.leaf_s.items()}
        out = {f"operators.{leaf}_s": s for leaf, s in med.items()}
        out["trace.span_coverage_share"] = sum(med.values()) / job_s
        return out


class _Frozen:
    """A collected DataFrame: the columns, schema and rows compare_query reads."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self.schema = df.schema
        self._rows = df.collect()

    def collect(self):
        return self._rows


WORKLOADS = {w.name: w for w in (BulkScrape, CrawlBudgetedHot, RegistryDedup)}
