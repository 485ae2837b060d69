"""The crawl engine: frontier + fetch-join + extraction rounds on Spark
(SURVEY.md §3.2 — the flagship path, re-expressed as batch micro-iterations).

Each round r is one Spark batch over immutable checkpointed state:

    pending_r  →  per-host budget and FIFO batch, ranked on the driver;
                  Spark gets only the admitted rows, as a local relation
               →  fetch = left equi-join against the pages corpus on
                  url_hash, the corpus side semi-reduced first by a
                  broadcast of the admitted key set
               →  vectorized extraction UDF (T1-T20)
               →  results_r append (scrape_paths-gated persistence)
               →  posexplode(links) → canonicalize (JVM expr) → strategy /
                  path / depth / robots filters → in-batch dedup
               →  Bloom pre-filter (built from the seen set, once it is
                  large) + exact anti-join vs seen set
               →  enqueue-cap top-k: one bounded Arrow collect in
                  (parent_seq, link_pos) order
               →  on the driver: seq assignment, pending_{r+1} = unadmitted
                  + retried + new rows, written with pyarrow beside the full
                  seen set and the round's visits (admitted rows + fetch
                  outcome); progress, per-partition lineage appended;
                  manifest commit (atomic) → resumable

The frontier and the seen set are driver-resident: both are bounded by the
zod ``limit`` (≤ 50,000 URLs enqueued per job), so the round admits from,
numbers and persists them without a Spark job.

Dedup semantics follow the reference's queue path (crawlee uniqueKey dedup at
enqueue time, ``Base.ts:464-493``): the seen set is "everything ever
enqueued", and ``limit`` caps total enqueued URLs (coordinator admission
``completed+failed+pending >= limit``, ``crawlCoordinator.ts:106-113``).
Visit order is the coordinator's FIFO-BFS: children are appended in
(parent seq, link position) order, reproduced by the dense ``seq``
assignment (SURVEY.md §7.4 hard-part 2/3).

INTENTIONAL DIVERGENCE from ``crawlCoordinator.ts``: the coordinator dedups
on RAW link strings in a fetch-time ``visited`` set (lines 42/109) and counts
still-pending duplicates against the limit (line 110), so two spellings that
normalize to one canonical key (sorted query, stripped utm params, fragment)
or a URL discovered by two parents before being fetched consume extra limit
capacity there. This engine instead dedups at enqueue time on normalized
uniqueKeys — crawlee's production behavior and the right call at frontier
scale (a fetch-time raw-string set cannot be a distributed Bloom filter key).
Visit sets can therefore differ from the coordinator's whenever duplicate
spellings occur near the limit boundary; the in-repo simulator and golden
files encode THESE semantics, which is what parity tests check.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .catalog import Catalog
from .errors import failure_reason_col, should_retry_col
from .politeness import (
    admit_arrow,
    path_filter_cond,
    robots_allowed,
    strategy_cond,
)
from .seen import exact_antijoin
from .udfs import make_extract_udf

FRONTIER_COLS = ["job_id", "url", "url_hash", "host", "origin", "path",
                 "depth", "seq", "round_added", "attempt"]
FRONTIER_SCHEMA = ("job_id string, url string, url_hash string, host string, "
                   "origin string, path string, depth int, seq long, "
                   "round_added int, attempt int")
SEEN_SCHEMA = "url_hash string"
# every table the engine writes; a commit retires any other (Catalog)
TABLES = ["results", "visits", "metrics", "pending", "seen"]
# tables whose every checkpoint round is the full cumulative state: a
# commit naming one retires its previous copy
CUMULATIVE_TABLES = ["seen"]
# FRONTIER_SCHEMA for the driver-resident frontier and its pyarrow writes
FRONTIER_ARROW_SCHEMA = pa.schema([
    ("job_id", pa.string()), ("url", pa.string()),
    ("url_hash", pa.string()), ("host", pa.string()),
    ("origin", pa.string()), ("path", pa.string()),
    ("depth", pa.int32()), ("seq", pa.int64()),
    ("round_added", pa.int32()), ("attempt", pa.int32()),
])

@dataclass
class CrawlConfig:
    """Mirror of the reference's crawl_options zod schema with identical
    defaults (CrawlSchema.ts:6-49: max_depth default 10, strategy
    'same-domain', limit default 100... coordinator uses limit||10)."""

    job_id: str
    seed_url: str
    strategy: str = "same-domain"
    max_depth: int = 10
    limit: int = 100
    include_paths: list[str] = field(default_factory=list)
    exclude_paths: list[str] = field(default_factory=list)
    scrape_paths: list[str] = field(default_factory=list)
    politeness_budget: int = 0           # fetches per budget key per round; 0 = unlimited
    budget_scope: str = "host"           # 'host' or 'domain' (registrable) —
                                         # north rule: per-DOMAIN politeness
    max_attempts: int = 1                # fetch retries (Queue.ts:84-89 attempts=3)
    batch_size: int = 0                  # rows fetched per round; 0 = whole round
    respect_robots: bool = True          # --anycrawl-compat off ⇒ True (north rule)
    formats: tuple[str, ...] = ("markdown", "text", "links", "html")
    only_main_content: bool = True
    seen_filter: str = "bloom"           # 'bloom' | 'cuckoo' (north rule:
                                         # "partitioned Bloom/cuckoo filter");
                                         # results are byte-identical — the
                                         # filter only pre-routes candidates
                                         # ahead of the exact anti-join
    max_rounds: int = 1000
    simulate_fetch_errors: bool = False  # F11: draw all five failure classes
                                         # from corpus misses (tests/fixtures)
    proxy: str | None = None             # request proxy option (mode keyword
                                         # or custom URL); results carry the
                                         # RESOLVED mode name like Base.ts:1295
                                         # ('base' when unset / auto)
    prefilter_min_seen: int = 25_000     # engage the bloom/cuckoo PROBE only
                                         # once the seen set exceeds this many
                                         # hashes; below it the exact anti-join
                                         # alone is measurably cheaper than the
                                         # filter build + segment broadcast +
                                         # Arrow probe stage (BENCH.md r6).
                                         # The filter is built only in rounds
                                         # that probe — this gates the
                                         # physical plan only, never membership

    def __post_init__(self) -> None:
        # zod schema bounds (CrawlSchema.ts:31-47) — parse() rejects, so do we
        if not 1 <= self.max_depth <= 50:
            raise ValueError(f"max_depth must be in [1, 50], got {self.max_depth}")
        if not 1 <= self.limit <= 50_000:
            raise ValueError(f"limit must be in [1, 50000], got {self.limit}")
        if self.strategy not in ("all", "same-domain", "same-hostname",
                                 "same-origin"):
            raise ValueError(f"unknown strategy {self.strategy!r}")
        if self.budget_scope not in ("host", "domain"):
            raise ValueError(f"unknown budget_scope {self.budget_scope!r}")
        from urllib.parse import urlsplit
        parts = urlsplit(self.seed_url or "")
        if parts.scheme not in ("http", "https") or not parts.hostname:
            # CrawlSchema's z.string().url() rejects non-URL seeds; a
            # scheme-less seed would otherwise canonicalize to an empty-host
            # junk row and 'complete' a one-page crawl of nothing
            raise ValueError(f"seed_url must be an absolute http(s) URL, "
                             f"got {self.seed_url!r}")
        if self.politeness_budget < 0 or self.batch_size < 0:
            raise ValueError("politeness_budget/batch_size must be >= 0")
        if self.max_attempts < 1:
            raise ValueError("max_attempts must be >= 1")
        if self.seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown seen_filter {self.seen_filter!r}")

    def filter_family(self):
        """The configured seen-filter family at its module-default
        geometry."""
        from anycrawl_spark.seen import filter_family

        return filter_family(self.seen_filter)


# Canonical-column expression cache: the Column trees are the same for every
# caller with one url column name and cost a py4j round trip per node to
# build, which the crawl would pay every round. Keyed by applicationId, so a
# restarted session rebuilds instead of reusing stale JVM references.
_CANON_EXPR_CACHE: dict[tuple[str, str], tuple] = {}


def _canonical_cols(df: DataFrame, url_col: str) -> DataFrame:
    """Attach (url_hash, host, origin, path) from one split of the url: the
    hash of its fragment-stripped canonical URL (the crawlee uniqueKey
    scope), its host, origin and canonical path. The split's shared parts
    are projected once per layer; all JVM expressions."""
    from .kernel.canonical import UrlSplit

    app_id = df.sparkSession.sparkContext.applicationId
    key = (app_id, url_col)
    cached = _CANON_EXPR_CACHE.get(key)
    if cached is None:
        layers: list[list] = []

        def stage(cols: dict) -> dict:
            names = {n: f"__split{len(layers)}_{n}" for n in cols}
            layers.append([c.alias(names[n]) for n, c in cols.items()])
            return {n: F.col(names[n]) for n in cols}

        split = UrlSplit(F.col(url_col), stage)
        cached = layers, [
            F.sha2(split.key, 256).alias("url_hash"),
            split.host.alias("host"),
            split.origin.alias("origin"),
            split.path.alias("path"),
        ]
        if len(_CANON_EXPR_CACHE) > 8:   # sessions come and go in tests
            _CANON_EXPR_CACHE.clear()
        _CANON_EXPR_CACHE[key] = cached
    layers, derived = cached
    # withColumn-replacement semantics for any colliding names (none of the
    # engine's callers collide; keeps the contract for external callers)
    base = [F.col(c) for c in df.columns
            if c not in ("url_hash", "host", "origin", "path")]
    for cols in layers:
        df = df.select("*", *cols)
    return df.select(*base, *derived)


def prepare_corpus(pages: DataFrame, dedup: bool = True) -> DataFrame:
    """Corpus keyed by url_hash for the fetch join. At deployment scale the
    Iceberg pages table is bucketed by this hash so the join prunes
    partitions; html stays unread until after the join (column pruning).

    ``dedup`` keeps the LATEST capture per canonical-url hash — Common-Crawl
    style tables carry one row per (url, crawl), and a non-unique join key
    would fan out every downstream count (done/failed/pending arithmetic)
    and duplicate seq values in the visit log. One shuffle, paid once per
    engine (the corpus cache materializes the deduped frame); callers with
    an already-unique corpus can pass dedup=False."""
    corpus = _canonical_cols(pages, "url").select(
        F.col("url_hash").alias("page_url_hash"),
        F.col("url").alias("page_url"),
        "warc_ts", "html", "lang",
    )
    if dedup:
        w = Window.partitionBy("page_url_hash").orderBy(
            F.desc("warc_ts"), F.desc("page_url"))
        corpus = (corpus.withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") == 1).drop("__rn"))
    return corpus


class CrawlEngine:
    def __init__(self, spark: SparkSession, corpus: DataFrame,
                 checkpoint_dir: str, robots: DataFrame | None = None,
                 cache_corpus: bool = True, prepared: bool = False) -> None:
        """``prepared=True``: the caller already ran prepare_corpus (and
        typically persisted the result) — the corpus is shared across crawl
        jobs, as an Iceberg pages table would be at deployment."""
        self.spark = spark
        self.corpus = corpus if prepared else prepare_corpus(corpus)
        if cache_corpus and not prepared:
            # local/bench convenience: avoid re-scanning + re-canonicalizing
            # the corpus every round. At deployment scale the corpus is an
            # Iceberg table bucketed by url_hash instead (no cache needed —
            # the join prunes buckets).
            from pyspark.storagelevel import StorageLevel

            self.corpus = self.corpus.persist(StorageLevel.MEMORY_AND_DISK)
        # Truncate the corpus lineage to a LogicalRDD (lazy localCheckpoint —
        # materialized by the first round's full corpus scan): every round
        # builds ~30 DataFrame ops whose eager analysis re-walks the whole
        # plan, and every per-round job re-optimizes it; carrying the
        # prepare_corpus subtree (scan → canonicalize → dedup window) in
        # each of them cost ~10 ms per op on the driver. Content-identical;
        # blocks are released by the ContextCleaner when the engine goes
        # out of scope.
        if cache_corpus or prepared:
            self.corpus = self.corpus.localCheckpoint(eager=False)
        self.catalog = Catalog(checkpoint_dir, tables=TABLES)
        self.robots = robots
        # driver-resident seen state, cumulative through the newest round
        # this run wrote (or, on resume, loaded by _load_seen): the exact
        # set and the frame over the one file holding it (the anti-join's
        # seen side). run() resets it.
        self._seen: set[str] | None = None
        self._seen_df: DataFrame | None = None
        # driver-resident frontier: the next round's pending rows, built by
        # the previous round (or, on a run's first round, loaded by
        # _load_pending). Its file is written synchronously ahead of the
        # round's deferred commit, like the seen state above.
        self._pending: pa.Table | None = None
        # -- write pipelining (see _finalize_prev) --------------------------
        # The slow per-round parquet writes (results/metrics) overlap
        # the NEXT round's compute jobs: round r submits them async and
        # round r+1 finalizes (await -> commit -> release docs) right
        # before its own state writes.
        self._prev_inflight: dict | None = None
        self._writes: ThreadPoolExecutor | None = None

    # -- state helpers ------------------------------------------------------
    def _progress(self) -> dict:
        last = self.catalog.last_round()
        if last is None:
            return {"round": -1, "done": 0, "failed": 0, "enqueued": 0, "finalized": False}
        return self.catalog.round_meta(last) or {}

    def _load_seen(self, up_to_round: int) -> None:
        """Load the committed seen state through ``up_to_round`` onto the
        driver: the exact set (pyarrow reads, no Spark job) and the frame
        over its files.
        This engine commits one full-set seen round; a per-round delta
        chain written by an older engine loads as the union of its rounds,
        and the next seen write replaces it with one full copy."""
        import pyarrow.parquet as pq

        paths = [self.catalog.round_path("seen", rr)
                 for rr in self.catalog.committed_rounds("seen")
                 if rr <= up_to_round]
        self._seen = set()
        for path in paths:
            self._seen.update(pq.read_table(path).column("url_hash")
                              .to_pylist())
        self._seen_df = (self.spark.read.schema(SEEN_SCHEMA).parquet(*paths)
                         if paths else None)

    def _load_pending(self, round_no: int, expected: int) -> None:
        """Load the committed pending round ``round_no`` onto the driver
        (a pyarrow read of whatever parquet parts the round directory
        holds, no Spark job). Its row count must equal the round meta's
        ``pending_next``: a lost or truncated frontier file would otherwise
        resume as a silently shorter crawl."""
        import pyarrow.parquet as pq

        table = pq.read_table(self.catalog.round_path("pending", round_no))
        table = table.select(FRONTIER_COLS).cast(FRONTIER_ARROW_SCHEMA)
        if table.num_rows != expected:
            raise ValueError(
                f"pending round {round_no} holds {table.num_rows} rows but "
                f"its meta records pending_next={expected}")
        self._pending = table

    def _finalize_prev(self) -> None:
        """Complete the previous round's deferred tail: await its parquet
        writes, commit its manifest entry, then release its cached docs
        frame (only those writes read it)."""
        prev = self._prev_inflight
        self._prev_inflight = None
        if prev is None:
            return
        try:
            for fut in prev["futures"]:
                fut.result()
            self.catalog.commit_round(prev["round"], prev["tables"],
                                      prev["meta"], replace=CUMULATIVE_TABLES)
        finally:
            prev["docs"].unpersist()

    # -- cancellation (Progress.ts:434-448) ---------------------------------
    # A marker file in the checkpoint root, so any process holding the
    # checkpoint path (an operator CLI, another driver) can cancel a running
    # job; the loop checks it between rounds — the batch analogue of the
    # reference's Redis `cancelled` flag checked in the per-request limit
    # hook. Survives resume: a cancelled checkpoint stays cancelled until
    # uncancel() clears it.

    def cancel(self) -> None:
        (self.catalog.root / "_cancelled").touch()

    def uncancel(self) -> None:
        marker = self.catalog.root / "_cancelled"
        if marker.exists():
            marker.unlink()

    def is_cancelled(self) -> bool:
        return (self.catalog.root / "_cancelled").exists()

    def _seed_frontier(self, cfg: CrawlConfig) -> DataFrame:
        # range(1) + literals instead of createDataFrame(local rows): a
        # local-Python-rows source is a pickled RDD whose scan needs Python
        # workers (measured ~1 s of worker spin-up per crawl job just to
        # collect the one seed row); a range source stays JVM-only.
        seed = self.spark.range(1).select(
            F.lit(cfg.job_id).alias("job_id"),
            F.lit(cfg.seed_url).alias("url"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(0).cast("long").alias("seq"),
            F.lit(0).cast("int").alias("round_added"),
            F.lit(1).cast("int").alias("attempt"),
        )
        return _canonical_cols(seed, "url").select(*FRONTIER_COLS)

    # -- TTL eviction / monitor recrawl --------------------------------------
    # Deployment story: when a page-cache entry passes its TTL tier
    # (cache.py — page 2d / sitemap 7d), the monitor evicts the URL from
    # the URL-seen structures and re-enqueues it, so the next
    # `run(cfg, resume=True)` fetches a fresh copy. Both steps are atomic
    # manifest commits between runs.

    def _canonical_rows(self, cfg: CrawlConfig, urls: list[str]) -> list:
        frontier = _canonical_cols(
            self.spark.createDataFrame([(cfg.job_id, u) for u in urls],
                                       schema="job_id string, url string"),
            "url")
        rows, seen_h = [], set()
        for row in frontier.collect():           # a monitor batch is small
            if row["url_hash"] not in seen_h:
                seen_h.add(row["url_hash"])
                rows.append(row)
        return rows

    def _write_seen_state(self, round_no: int) -> None:
        """Checkpoint the driver-resident seen set as ``round_no``: the
        FULL exact set, sorted — the only checkpointed seen state (the
        filter is derived from it where it is probed). One pyarrow write,
        no Spark job. The caller commits it with replace=CUMULATIVE_TABLES;
        until that (deferred) commit lands, the next round's anti-join
        reads this file."""
        self.catalog.append_round_local(
            pa.table({"url_hash": pa.array(sorted(self._seen),
                                           type=pa.string())}),
            "seen", round_no)
        self._seen_df = self.spark.read.schema(SEEN_SCHEMA).parquet(
            self.catalog.round_path("seen", round_no))

    def evict_urls(self, cfg: CrawlConfig, urls: list[str]) -> dict:
        """Remove URLs from the committed seen state (TTL expiry): the
        exact seen set loses the evicted hashes. ``evicted`` counts only
        requested hashes that were members. One commit, replace=['seen']."""
        progress = self._progress()
        if progress["round"] < 0:
            raise ValueError("no committed crawl state to evict from")
        if not progress.get("finalized"):
            # resume reads only the newest round's pending table — an
            # eviction round on an unfinished job would orphan its frontier
            raise ValueError("evict_urls runs between jobs — resume the "
                             "crawl to completion first")
        r = progress["round"] + 1
        self._load_seen(progress["round"])
        if self._seen_df is None:
            raise ValueError("no seen state committed yet")
        evicted = self._seen & {row["url_hash"]
                                for row in self._canonical_rows(cfg, urls)}
        self._seen -= evicted
        self._write_seen_state(r)

        meta = {**progress, "round": r, "finalized": True,
                "pending_next": 0, "phase": "evicted",
                "evicted": len(evicted)}
        self.catalog.commit_round(r, CUMULATIVE_TABLES, meta,
                                  replace=CUMULATIVE_TABLES)
        return meta

    def reenqueue_urls(self, cfg: CrawlConfig, urls: list[str]) -> dict:
        """Enqueue URLs as a fresh pending round (the monitor re-check):
        frontier rows at depth 0 with enqueue seqs continuing the job's
        dense numbering and hashes re-marked seen — the other half of the
        evict round trip.
        `run(cfg, resume=True)` then fetches them (the admission limit
        still applies: pass a limit above the job's done count)."""
        progress = self._progress()
        if progress["round"] < 0:
            raise ValueError("no committed crawl state to enqueue into")
        if not progress.get("finalized"):
            raise ValueError("reenqueue_urls runs between jobs — resume "
                             "the crawl to completion first")
        r = progress["round"] + 1
        rows = self._canonical_rows(cfg, urls)
        base = progress["enqueued"]
        cols = {
            "job_id": [row["job_id"] for row in rows],
            "url": [row["url"] for row in rows],
            "url_hash": [row["url_hash"] for row in rows],
            "host": [row["host"] for row in rows],
            "origin": [row["origin"] for row in rows],
            "path": [row["path"] for row in rows],
            "depth": [0] * len(rows),
            "seq": [base + i for i in range(len(rows))],
            "round_added": [r] * len(rows),
            "attempt": [1] * len(rows),
        }
        self.catalog.append_round_local(
            pa.table(cols, schema=FRONTIER_ARROW_SCHEMA), "pending", r)
        self._load_seen(progress["round"])
        self._seen |= set(cols["url_hash"])
        self._write_seen_state(r)

        meta = {**progress, "round": r, "finalized": False,
                "enqueued": base + len(rows), "pending_next": len(rows),
                "phase": "recrawl_enqueued"}
        self.catalog.commit_round(r, ["pending"] + CUMULATIVE_TABLES, meta,
                                  replace=CUMULATIVE_TABLES)
        return meta

    # -- the round loop -----------------------------------------------------
    def _static_exprs(self, cfg: CrawlConfig, extract_udf) -> dict:
        """Round-invariant Column expression trees, built ONCE per run.

        Profiling a 10k-limit crawl showed ~9.4 s of a 25 s run spent in
        driver-side py4j round-trips, most of it re-building identical
        Column objects every round (the docs select list, the failure
        classifier tree, the link filters). Column objects are immutable
        and reusable across DataFrames, so the loop now builds them here
        and re-uses them; only genuinely per-round literals (the round
        number) are constructed inside _run_round."""
        ex: dict = {}
        ex["keys_sel"] = F.col("url_hash").alias("page_url_hash")
        if cfg.simulate_fetch_errors:
            sim = F.pmod(
                F.conv(F.substring("url_hash", 1, 4), 16, 10).cast("long"),
                F.lit(5))
            miss_msg = (
                F.when(sim == 0, "cloudflare challenge detected CF_CHALLENGE")
                .when(sim == 1, "Received blocked status code: 403")
                .when(sim == 2, "ERR_PROXY_CONNECTION_FAILED while fetching")
                .when(sim == 3, "Navigation timeout of 30000 ms exceeded")
                .otherwise("Received 404 status code")
            )
        else:
            miss_msg = F.lit("Received 404 status code")
        # status, error_message, and doc are all keyed on the same corpus
        # hit (status == 200 ⇔ html IS NOT NULL by construction), so one
        # select derives all three — fewer eagerly-analyzed plan steps per
        # round than the old status → error → doc chain, same values
        hit = F.col("html").isNotNull()
        ex["fetch_derived"] = [
            F.when(hit, 200).otherwise(404).alias("status"),
            F.when(hit, F.lit(None).cast("string"))
            .otherwise(miss_msg).alias("error_message"),
            F.when(hit, extract_udf(F.col("url"), F.col("html")))
            .alias("doc"),
        ]
        ex["docs_fields"] = [
            F.col(c) for c in ("job_id", "url", "url_hash", "host", "depth",
                               "seq", "attempt", "status")
        ] + [
            # F11 error classification (EngineConfigurator.ts:599-613):
            # five-class mapToFailureReason over the fetch error message
            F.when(F.col("status") == 200, F.lit(None).cast("string"))
            .otherwise(failure_reason_col(F.col("error_message")))
            .alias("failure_reason"),
            F.col("error_message"),
            F.col("doc.title").alias("title"),
            F.col("doc.metadata").alias("metadata"),
            F.col("doc.html").alias("html_clean"),
            F.col("doc.markdown").alias("markdown"),
            F.col("doc.text").alias("text"),
            F.col("doc.links").alias("links"),
            F.length("html").alias("bytes"),
        ]
        # Base.ts:1294-1295: every result document carries the resolved
        # proxy mode name ('base' when no proxy option is set)
        ex["proxy"] = F.lit(self._resolved_proxy_mode(cfg)).alias("proxy")
        ex["should_scrape"] = (
            path_filter_cond(F.col("url"), cfg.scrape_paths, [])
            if cfg.scrape_paths else F.lit(True)).alias("should_scrape")
        final_attempt = ((F.col("status") == 200)
                         | (F.col("attempt") >= cfg.max_attempts))
        if cfg.simulate_fetch_errors:
            # per-class retry decision (errorHandler): non-retryable classes
            # fail on their first attempt regardless of max_attempts
            final_attempt = final_attempt | ~should_retry_col(
                F.col("error_message"))
        ex["outcome_key"] = final_attempt.alias("final")
        ex["metrics_key"] = F.spark_partition_id().alias("partition_id")
        ex["metrics_aggs"] = [
            F.count("*").alias("urls"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
            .alias("fetched"),
            F.sum(F.coalesce(F.col("bytes"), F.lit(0))).alias("bytes")]
        ex["job_id"] = F.lit(cfg.job_id).alias("job_id")
        ex["links_pre"] = [
            F.col("job_id"),
            F.col("depth").alias("parent_depth"),
            F.col("seq").alias("parent_seq"),
            F.posexplode_outer("links").alias("link_pos", "url"),
        ]
        ex["status_200"] = F.col("status") == 200
        ex["links_precond"] = (
            F.col("url").isNotNull()
            & (F.col("parent_depth") < cfg.max_depth)              # F6
            & F.col("url").startswith("http"))
        ex["links_cond"] = (
            strategy_cond(F.col("host"), F.col("origin"), cfg.seed_url,
                          cfg.strategy)
            & path_filter_cond(F.col("url"), cfg.include_paths,
                               cfg.exclude_paths))
        link_cols = ["job_id", "parent_depth", "parent_seq", "link_pos",
                     "url", "host", "origin", "path"]
        ex["dedup_agg"] = F.min_by(
            F.struct(*[F.col(c) for c in link_cols]),
            F.struct(F.col("parent_seq"), F.col("link_pos"))).alias("__first")
        ex["dedup_sel"] = [F.col("url_hash")] + [
            F.col(f"__first.{c}").alias(c) for c in link_cols]
        return ex

    @staticmethod
    def _resolved_proxy_mode(cfg: CrawlConfig) -> str:
        """libs/proxy.ts:54-71 via Base.ts:1294-1295: the mode name the
        result document reports — 'base' for unset/base/auto, 'stealth'
        only when a stealth pool is actually configured, 'custom' for a
        URL.  Reads the reference's own env names so a deployment that
        sets ANYCRAWL_PROXY_STEALTH_URL reports identically."""
        from anycrawl_spark.proxy import (get_resolved_proxy_mode,
                                          parse_proxy_urls)

        return get_resolved_proxy_mode(
            cfg.proxy,
            parse_proxy_urls(os.environ.get("ANYCRAWL_PROXY_STEALTH_URL")))

    def run(self, cfg: CrawlConfig, resume: bool = False) -> dict:
        t0 = time.time()
        # reset pipelining and seen state: run() may be called again on one
        # engine (resume/cancel tests); in-memory state from a prior run is
        # stale
        self._prev_inflight = None
        self._pending = None
        self._seen = self._seen_df = None
        self._writes = ThreadPoolExecutor(max_workers=8)
        try:
            return self._run_loop(cfg, resume, t0)
        finally:
            # flush the deferred tail even when resume validation / seeding
            # throws: the last round's writes + commit; always release the
            # executor (a leaked pool accumulates 8 threads per failed call)
            try:
                self._finalize_prev()
            finally:
                self._pending = None
                self._writes.shutdown(wait=True)
                self._writes = None

    def _run_loop(self, cfg: CrawlConfig, resume: bool, t0: float) -> dict:
        if resume:
            self.catalog.drop_uncommitted()
            progress = self._progress()
            round_no = progress["round"] + 1
            # the loaded frontier is checked against the prior meta's
            # pending count, so resume needs it
            if round_no > 0 and "pending_next" not in progress:
                raise ValueError(
                    f"checkpoint round {progress['round']} meta lacks "
                    f"pending_next; it was written by an older engine — "
                    f"restart the crawl without resume")
            if round_no > 0 and not progress.get("finalized"):
                self._load_pending(progress["round"],
                                   progress["pending_next"])
        else:
            self.catalog.destroy()
            self.catalog = Catalog(self.catalog.root, tables=TABLES)
            progress = {"round": -1, "done": 0, "failed": 0, "enqueued": 0, "finalized": False}
            round_no = 0

        if round_no == 0:
            frontier = self._seed_frontier(cfg)
            if self.robots is not None and cfg.respect_robots:
                frontier = robots_allowed(frontier, self.robots)
            # driver-local seed round: the frontier is one seed row
            # (already driver-built) — one collect replaces four Spark jobs
            # (count + pending/seen/bloom writes), shaving ~2 s of fixed
            # startup from every crawl job.
            rows = frontier.collect()
            n_seed = len(rows)
            self._pending = pa.table(
                {c: [r[c] for r in rows] for c in FRONTIER_COLS},
                schema=FRONTIER_ARROW_SCHEMA)
            self.catalog.append_round_local(self._pending, "pending", 0)
            self._seen = {r["url_hash"] for r in rows}
            self._write_seen_state(0)
            progress = {"round": 0, "done": 0, "failed": 0, "enqueued": n_seed,
                        "finalized": n_seed == 0, "phase": "seeded",
                        "pending_next": n_seed}
            self.catalog.commit_round(0, ["pending"] + CUMULATIVE_TABLES,
                                      progress, replace=CUMULATIVE_TABLES)
            round_no = 1

        extract_udf = make_extract_udf(
            formats=cfg.formats, only_main_content=cfg.only_main_content)
        ex = self._static_exprs(cfg, extract_udf)

        while round_no <= cfg.max_rounds and not progress.get("finalized"):
            if self.is_cancelled():
                # Progress.cancel (Progress.ts:434-448): mark finalized
                # immediately; the limit hook skips admission when
                # cancelled (EngineConfigurator.ts:84-99). Between-rounds
                # is the batch equivalent of between-requests.
                self._finalize_prev()
                progress = {**progress, "round": round_no,
                            "finalized": True, "cancelled": True,
                            "phase": "cancelled"}
                self.catalog.commit_round(round_no, [], progress)
                break
            progress = self._run_round(cfg, round_no, progress, ex)
            round_no += 1

        fetched_total = progress["done"] - progress["failed"]
        return {
            "job_id": cfg.job_id,
            "rounds": progress["round"],
            "done": progress["done"],
            "fetched": fetched_total,
            "failed": progress["failed"],
            "enqueued": progress["enqueued"],
            "seconds": time.time() - t0,
        }

    def _run_round(self, cfg: CrawlConfig, r: int, progress: dict,
                   ex: dict) -> dict:
        """One round as named stages over the driver-resident frontier
        ``self._pending``, admitted on the driver. The submission order is
        load-bearing: the discovery collect, the outcome job and the docs
        writes evaluate the cached docs frame concurrently, and all three
        overlap the previous round's writes, which _finalize_prev awaits
        only before this round's state writes. The driver then builds the
        visits and the next pending from the two collects. The time stamps
        delimit the meta ``timings`` phases."""
        t0 = time.time()
        n_pending = self._pending.num_rows
        if n_pending == 0:
            self._finalize_prev()
            meta = {**progress, "round": r, "finalized": True,
                    "phase": "drained"}
            self.catalog.commit_round(r, [], meta)
            return meta
        # consumers of the round's docs run at ~1k rows per task
        n_view = self._width(n_pending, 1000)
        admitted, admitted_rows = self._admit(cfg, r)
        docs, docs_view = self._fetch_extract(r, admitted, n_pending, n_view,
                                              ex)
        disc_fut = None
        if progress["enqueued"] < cfg.limit:
            disc_fut = self._submit_discovery(cfg, r, progress, docs, ex)
        t_plan = time.time()
        outcome_fut, doc_writes = self._submit_doc_writes(r, docs, docs_view,
                                                          ex)
        new_rows = FRONTIER_ARROW_SCHEMA.empty_table()
        t_disc = t_plan
        if disc_fut is not None:
            disc = disc_fut.result()
            t_disc = time.time()
            new_rows = self._enqueue(r, progress["enqueued"], disc)
        t_enqueue = time.time()
        # Finalize the PREVIOUS round here (await its writes — they had this
        # whole round's compute to overlap with — and commit its manifest)
        # before this round's state writes.
        self._finalize_prev()
        outcome = outcome_fut.result()
        state_tables = self._write_state(r, progress["enqueued"],
                                         admitted_rows, outcome, new_rows)
        meta = self._round_meta(
            cfg, r, progress, outcome, new_rows.num_rows,
            self._pending.num_rows,
            (t0, t_plan, t_disc, t_enqueue, time.time()))
        # Deferred commit (write pipelining): the manifest entry lands in
        # _finalize_prev() during the NEXT round, after the writes complete.
        # A crash before that resumes from the last committed round with
        # this round's directories dropped — exact-resume is unchanged.
        self._prev_inflight = {
            "round": r, "futures": doc_writes,
            "tables": ["results", "metrics"] + state_tables,
            "meta": meta, "docs": docs,
        }
        return meta

    def _width(self, n_rows: int, rows_per_task: int) -> int:
        """Partitions holding ~``rows_per_task`` rows each, capped at one
        task per core."""
        return max(1, min(self.spark.sparkContext.defaultParallelism,
                          (n_rows + rows_per_task - 1) // rows_per_task))

    def _admit(self, cfg: CrawlConfig, r: int) -> tuple[DataFrame, pa.Table]:
        """The round's admitted rows, as the fetch join's frame and as the
        driver table the visits are built from. An unbudgeted round admits
        its whole pending file. Otherwise the driver ranks the frontier the
        ``limit`` keeps small (politeness.admit_arrow: per-host budget, then
        the coordinator's FIFO batch, crawlCoordinator.ts:33-38) and Spark
        gets only the admitted rows. The rest stay in the driver's
        frontier (_write_state)."""
        if not cfg.politeness_budget and not cfg.batch_size:
            return (self.spark.read.schema(FRONTIER_SCHEMA).parquet(
                self.catalog.round_path("pending", r - 1)), self._pending)
        rows = admit_arrow(self._pending, cfg.politeness_budget,
                           cfg.budget_scope, cfg.batch_size)
        return self.spark.createDataFrame(rows), rows

    def _fetch_extract(self, r: int, admitted: DataFrame, n_pending: int,
                       n_view: int, ex: dict) -> tuple[DataFrame, DataFrame]:
        """Fetch (left equi-join against the corpus) and vectorized
        extraction: the cached docs frame and its consumer view."""
        # The join shuffle hash-partitions on url_hash; AQE parallelismFirst
        # keeps >= defaultParallelism partitions, so the extraction UDF runs
        # at full width without an extra shuffle of the html payload (an
        # explicit repartition here measured 3.6x slower in the bulk path).
        #
        # A BFS round's frontier is orders of magnitude smaller than the
        # standing corpus, and a left join can't broadcast its left side —
        # so the plain plan re-EXCHANGES the full corpus (html payloads
        # included) every round, which measured as ~3.5 s/round of pure
        # fixed cost at sf0.1 regardless of round size. Semi-reducing the
        # corpus with a broadcast of the admitted key set first means the
        # join shuffles only the matched pages (≤ admitted rows).
        # Identity-preserving: reducing the right side of a left join by
        # the left side's keys changes nothing. The zod limit cap (50k
        # URLs enqueued per job) bounds every round's key set, so the
        # broadcast stays small whatever the corpus size.
        keys = admitted.select(ex["keys_sel"])
        corpus_side = self.corpus.join(F.broadcast(keys), "page_url_hash",
                                       "left_semi")
        # F11: a corpus miss carries an error message like a fetch error
        # would (ex["fetch_derived"]; simulate_fetch_errors draws all five
        # failure classes deterministically from the url hash).
        fetched = (
            admitted.join(corpus_side,
                          admitted["url_hash"] == corpus_side["page_url_hash"],
                          "left")
            .drop("page_url_hash")
        )
        # Extraction width scaled to the round (guide §2.2): the fetch-join
        # shuffle leaves 2×cores partitions, so a 100-row round still paid
        # ~64 task launches plus 64 Arrow round-trips in the docs
        # materialization — ~0.4 s of fixed cost per round. For small
        # rounds, re-exchange the matched rows (tiny at that size) down to
        # ~64 pages/task before the UDF projection; a coalesce would
        # instead merge the whole narrow chain — measured pulling the full
        # corpus-side scan into the shrunken stage (8 s/round single-task).
        # Width capped at defaultParallelism so the re-exchanged stage is
        # one task per core: the per-task fixed cost (Arrow round-trip +
        # scheduling) dominates 64-row batches, and 50 tasks on 32 cores
        # measured slower than 32×100-row tasks on identical rows (0.78 s
        # vs 0.65 s for 3200 pages — tools/kernel_bench-style A/B).
        # Deterministic in the round size; big rounds keep full width.
        if n_pending <= 4096:
            fetched = fetched.repartition(self._width(n_pending, 64),
                                          "url_hash")
        docs = (
            fetched.select("*", *ex["fetch_derived"])
            .select(*ex["docs_fields"], F.lit(r).alias("round"),
                    ex["proxy"], ex["should_scrape"])
            .cache()
        )
        # Scale-adaptive consumer view (guide §2.2/§6): the cached docs
        # frame keeps the fetch-join's full shuffle width so the extraction
        # UDF materializes at full parallelism (the cache also pins that
        # width — canChangeCachedPlanOutputPartitioning is off, so AQE
        # cannot byte-coalesce the compute-dense extract stage). But every
        # CONSUMER job (results/visits writes, outcome collect) then paid 64
        # task launches and wrote 64 splinter files per round regardless of
        # round size — for a 100-row round that is pure scheduling overhead
        # (measured ~0.55 s per job). Consumers therefore read a coalesced
        # view sized from the round size (~1k rows/task); coalesce over the
        # cached scan is a narrow op reading the same blocks, so the
        # extraction work is not re-partitioned. The metrics aggregation
        # stays on the full-width frame — its rows record
        # spark_partition_id() lineage, which the view would renumber.
        return docs, docs.coalesce(n_view)

    def _submit_discovery(self, cfg: CrawlConfig, r: int, progress: dict,
                          docs: DataFrame, ex: dict):
        """Links → canonicalize → strategy/path/depth/robots filters →
        first-discovery-wins dedup → seen filter, then the enqueue-cap
        top-k collected to the driver as Arrow, submitted async. Returns
        the collect's future."""
        links = (
            docs.where(ex["status_200"])
            .select(*ex["links_pre"])
            .where(ex["links_precond"])
        )
        links = _canonical_cols(links, "url").where(ex["links_cond"])
        if self.robots is not None and cfg.respect_robots:
            links = robots_allowed(links, self.robots)

        # in-batch dedup: first discovery wins (FIFO order). min_by over
        # the (parent_seq, link_pos) struct ⇔ row_number()==1 over that
        # order — (parent_seq, link_pos) is unique per discovered link,
        # so no tie ambiguity — but as a hash aggregation it partially
        # aggregates map-side, shuffling one row per distinct url per
        # map partition instead of every duplicate discovery, and needs
        # no sort (guide §2.3: aggregate before you shuffle; BFS fanout
        # makes duplicate links the common case)
        links = (
            links.groupBy("url_hash")
            .agg(ex["dedup_agg"])
            .select(*ex["dedup_sel"])
        )

        # seen filter: Bloom/cuckoo pre-filter + exact anti-join against
        # the driver-resident seen state — loaded from the checkpoint in a
        # resumed run's first discovery round, then kept current by
        # _write_state. The anti-join's seen side is the one full-set file
        # the last seen-writing round wrote synchronously.
        if self._seen is None:
            self._load_seen(r - 1)
        # The probabilistic pre-filter earns its keep only once the
        # seen set is large: below prefilter_min_seen hashes the exact
        # anti-join alone is measurably cheaper per round than the
        # segment broadcast + Arrow probe stage it would precede
        # (BENCH.md r6 probe: 0.57s vs 1.09s at 5k seen hashes), so
        # small standing frontiers skip the probe, and its filter is
        # built only here, in rounds that probe. This gates only the
        # physical plan, never membership results.
        if progress["enqueued"] > cfg.prefilter_min_seen:
            # the filter is derived state: built in numpy from the exact
            # set and handed straight to the probe as a driver dict
            # (broadcast once per executor) — nothing about it persists
            fam = cfg.filter_family()
            links = fam.filter_new(links, fam.build_driver(sorted(self._seen)),
                                   self._seen_df)
        elif self._seen_df is not None:
            links = exact_antijoin(links, self._seen_df)
        # Submitted BEFORE the outcome job so its one materialization runs
        # CONCURRENTLY with the outcome collect: both evaluate the cached
        # docs frame (block locks serialize per-partition compute), so
        # wall time is ~max of the two jobs instead of their sum. The
        # enqueue cap is a top-k in FIFO order — (parent_seq, link_pos) is
        # unique per deduped link, so the k-th row's rank is its enqueue
        # number — which Spark plans as one TakeOrderedAndProject: no
        # global sort, and at most the remaining limit crosses to the
        # driver.
        capacity = cfg.limit - progress["enqueued"]
        return self._writes.submit(
            lambda: links.orderBy("parent_seq", "link_pos").limit(capacity)
            .toArrow())

    def _submit_doc_writes(self, r: int, docs: DataFrame,
                           docs_view: DataFrame, ex: dict):
        """The outcome job and the results / metrics writes, all submitted
        async. Returns (the outcome future, the write futures)."""
        # One job: one (seq, status, final) row per admitted URL, from
        # which the driver derives the progress counts, the retries and
        # the visits (_write_state). Nothing in the round needs it
        # before the state writes — capacity uses the driver-known
        # `enqueued` — so it runs concurrently with the discovery collect
        # and the doc writes (block-level cache locks make the shared docs
        # materialization single-compute).
        outcome_fut = self._writes.submit(
            lambda: docs_view.select("seq", "status", ex["outcome_key"])
            .toArrow())
        # results: persistence gated by scrape_paths (F5) — links still
        # flow. The docs-derived writes are independent reads of the
        # cached docs → submitted concurrently (each write targets its own
        # round directory). None of them is awaited in this round:
        # _finalize_prev() awaits + commits them while the NEXT round's
        # compute jobs run (write pipelining).
        append = self.catalog.append_round
        futures = [
            self._writes.submit(
                append, docs_view.where(F.col("should_scrape"))
                .drop("links", "should_scrape"), "results", r),
        ]
        # per-partition lineage/metrics (north rule)
        metrics = (
            docs.groupBy(ex["metrics_key"], "host")
            .agg(*ex["metrics_aggs"])
            .select("*", F.lit(r).alias("round"), ex["job_id"])
        )
        futures.append(self._writes.submit(append, metrics, "metrics", r))
        return outcome_fut, futures

    @staticmethod
    def _enqueue(r: int, enqueued: int, disc: pa.Table) -> pa.Table:
        """The discovery collect (at most the remaining limit's worth of
        deduped links, in (parent_seq, link_pos) order) → the densely
        numbered new frontier rows: seq = enqueued + rank."""
        n = disc.num_rows
        return pa.table({
            **{c: disc.column(c) for c in ("job_id", "url", "url_hash",
                                           "host", "origin", "path")},
            "depth": pc.add(disc.column("parent_depth"), 1),
            "seq": pa.array(range(enqueued, enqueued + n)),
            "round_added": pa.array([r] * n),
            "attempt": pa.array([1] * n),
        }, schema=FRONTIER_ARROW_SCHEMA)

    def _write_state(self, r: int, enqueued: int, admitted: pa.Table,
                     outcome: pa.Table, new_rows: pa.Table) -> list[str]:
        """Round r's visits — the admitted rows beside their fetch
        outcome — and next pending — the unadmitted rows, the retries
        (attempt + 1, every other column kept) and the new rows — written
        with pyarrow, the latter kept as the driver's frontier, then the
        seen state grown by the new hashes and checkpointed as round r
        (every write runs on the driver — no Spark job). Returns the
        tables written."""
        admitted, outcome = admitted.sort_by("seq"), outcome.sort_by("seq")
        # one outcome row per admitted row: a non-unique corpus key would
        # fan out the visits and the done/failed counts
        if not outcome.column("seq").equals(admitted.column("seq")):
            raise AssertionError(
                f"round {r} fetch outcome seqs differ from its admitted seqs")
        self.catalog.append_round_local(pa.table({
            **{c: admitted.column(c) for c in ("job_id", "url", "url_hash",
                                               "host", "depth", "seq",
                                               "attempt")},
            "status": outcome.column("status").cast(pa.int32()),
            "round": pa.array([r] * admitted.num_rows, pa.int32()),
        }), "visits", r)
        pending, seq = self._pending, self._pending.column("seq")
        not_final = outcome.filter(pc.invert(outcome.column("final")))
        retries = pending.filter(pc.is_in(
            seq, value_set=not_final.column("seq").combine_chunks()))
        retries = retries.set_column(
            FRONTIER_COLS.index("attempt"), "attempt",
            pc.add(retries.column("attempt"), 1).cast(pa.int32()))
        unadmitted = pending.filter(pc.invert(pc.is_in(
            seq, value_set=admitted.column("seq").combine_chunks())))
        nxt = pa.concat_tables([unadmitted, retries, new_rows])
        # a seq names one frontier row from enqueue to its final attempt,
        # and the new rows continue the job's dense enqueue numbering
        if pc.count_distinct(nxt.column("seq")).as_py() != nxt.num_rows:
            raise AssertionError(f"round {r} next pending repeats a seq")
        if new_rows.column("seq").to_pylist() != list(
                range(enqueued, enqueued + new_rows.num_rows)):
            raise AssertionError(
                f"round {r} new rows are not numbered from {enqueued}")
        self.catalog.append_round_local(nxt, "pending", r)
        self._pending = nxt
        if new_rows.num_rows == 0:
            return ["visits", "pending"]
        hashes = new_rows.column("url_hash").to_pylist()
        new = set(hashes)
        # both invariants keep every URL to one visit: in-batch dedup
        # yields each new hash once, and the exact anti-join drops every
        # hash already seen
        if len(new) != len(hashes):
            raise AssertionError(
                f"round {r} seen delta holds duplicate url hashes")
        if not new.isdisjoint(self._seen):
            raise AssertionError(
                f"round {r} seen delta holds already-seen url hashes")
        self._seen |= new
        self._write_seen_state(r)
        return ["visits", "pending"] + CUMULATIVE_TABLES

    @staticmethod
    def _round_meta(cfg: CrawlConfig, r: int, progress: dict,
                    outcome: pa.Table, n_new: int, n_pending_next: int,
                    stamps: tuple) -> dict:
        """The round's committed meta, counted from the outcome collect —
        no re-read of the just-written files."""
        rows = zip(outcome.column("status").to_pylist(),
                   outcome.column("final").to_pylist())
        n_fetched = n_failed = 0
        for status, final in rows:
            n_fetched += status == 200
            n_failed += status != 200 and final
        done = progress["done"] + n_fetched + n_failed
        t0, t_plan, t_disc, t_enqueue, t_writes = stamps
        return {
            "round": r, "done": done, "failed": progress["failed"] + n_failed,
            "enqueued": progress["enqueued"] + n_new,
            "finalized": n_pending_next == 0 or done >= cfg.limit,
            "admitted": n_fetched + n_failed, "new": n_new,
            "pending_next": n_pending_next, "phase": "crawl",
            # per-phase wall seconds (lineage/metrics; negligible cost).
            # Since the round-4 pipelining the outcome (fetch/extract) job
            # and the discovery collect run CONCURRENTLY, so they share
            # one "compute" phase — attributing the old fetch_extract /
            # discover_enqueue split would misread plan-build time as work.
            "timings": {
                "compute": round(t_enqueue - t0, 3),
                "state_writes": round(t_writes - t_enqueue, 3),
                # compute sub-phases: plan = driver-side build + submits,
                # disc = the discovery collect (docs materialize), counts =
                # the driver-side build of the new rows; both 0 in a round
                # without discovery
                "plan": round(t_plan - t0, 3),
                "disc": round(t_disc - t_plan, 3),
                "counts": round(t_enqueue - t_disc, 3),
            },
        }

    # -- reads for callers --------------------------------------------------
    def results(self) -> DataFrame | None:
        return self.catalog.read(self.spark, "results")

    def visits(self) -> DataFrame | None:
        return self.catalog.read(self.spark, "visits")

    def visit_order(self) -> DataFrame | None:
        v = self.visits()
        if v is None:
            return None
        # retry attempts reuse the original seq; the attempt tiebreak keeps
        # the order deterministic when max_attempts > 1
        return (v.select("round", "seq", "url", "depth", "status", "attempt")
                .orderBy("seq", "attempt").drop("attempt"))
