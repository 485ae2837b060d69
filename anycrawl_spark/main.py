"""spark-submit entrypoint (north rule: "ships via spark-submit --py-files").

Subcommands mirror the reference's four job types (SURVEY.md §3):

    spark-submit --py-files anycrawl_spark.zip -m anycrawl_spark.main \\
        crawl  --corpus <pages.parquet> --seed <url> --checkpoint <dir> \\
               [--strategy same-domain] [--limit 100] [--max-depth 10]
               [--budget N] [--robots <robots.parquet>] [--resume]
        scrape --corpus <pages.parquet> --urls <url> [<url> ...] --out <dir>
        search --serp <serp.parquet> --limit 20 --out <dir>
        map    --corpus <pages.parquet> --robots <robots.parquet>
               --host <host> --out <dir>
        validate --requests <log.jsonl|parquet> --kind crawl --out <dir>
        prep   --docs <dir with documents.parquet> --out <dir>

Packaging: ``python tools/package_pyfiles.py`` builds anycrawl_spark.zip.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def build_session(app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8000")
        # local-CLI default; spark-submit --driver-memory overrides. The
        # engine keeps up to two rounds of cached extraction output alive
        # (write pipelining), which outgrows the 1g JVM default.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .getOrCreate()
    )


def cmd_crawl(args) -> None:
    from anycrawl_spark.crawl import CrawlConfig, CrawlEngine

    spark = build_session("anycrawl-crawl")
    corpus = spark.read.parquet(args.corpus)
    robots = spark.read.parquet(args.robots) if args.robots else None
    engine = CrawlEngine(spark, corpus, args.checkpoint, robots=robots)
    cfg = CrawlConfig(
        job_id=args.job_id, seed_url=args.seed, strategy=args.strategy,
        max_depth=args.max_depth, limit=args.limit,
        include_paths=args.include or [], exclude_paths=args.exclude or [],
        scrape_paths=args.scrape_paths or [],
        politeness_budget=args.budget, budget_scope=args.budget_scope,
        respect_robots=args.robots is not None,
        seen_filter=args.seen_filter,
        proxy=args.proxy,
    )
    summary = engine.run(cfg, resume=args.resume)
    if args.page_cache:
        # the reference worker's save step (shouldCache gate ->
        # computeCacheKey -> upsert), composed over this job's results
        from anycrawl_spark.cache import build_page_cache

        results = engine.results()
        existing = None
        if os.path.exists(os.path.join(args.page_cache, "_SUCCESS")):
            existing = spark.read.parquet(args.page_cache)
        cache = build_page_cache(results, proxy=args.proxy,
                                  existing=existing)
        staging = args.page_cache.rstrip("/") + ".staging"
        cache.write.mode("overwrite").parquet(staging)
        final = spark.read.parquet(staging)
        final.write.mode("overwrite").parquet(args.page_cache)
        summary["page_cache_rows"] = \
            spark.read.parquet(args.page_cache).count()
        shutil.rmtree(staging, ignore_errors=True)
    print(json.dumps(summary))


def cmd_scrape(args) -> None:
    from pyspark.sql import functions as F

    from anycrawl_spark.crawl import _canonical_cols, prepare_corpus
    from anycrawl_spark.udfs import make_extract_udf

    spark = build_session("anycrawl-scrape")
    corpus = prepare_corpus(spark.read.parquet(args.corpus))
    seeds = spark.createDataFrame([(u,) for u in args.urls], schema="url string")
    frontier = _canonical_cols(seeds, "url")
    extract = make_extract_udf()
    result = (
        frontier.join(corpus, frontier["url_hash"] == corpus["page_url_hash"], "left")
        .withColumn("status", F.when(F.col("html").isNotNull(), 200).otherwise(404))
        .withColumn("doc", extract(F.col("url"), F.col("html")))
        .select("url", "status", "doc.title", "doc.metadata", "doc.html",
                "doc.markdown", "doc.text", "doc.links")
    )
    result.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"urls": len(args.urls), "out": args.out}))


def cmd_search(args) -> None:
    from anycrawl_spark.serp import (
        RESPONSE_PARSERS,
        parse_serp_pages,
        plan_and_limit,
    )

    spark = build_session("anycrawl-search")
    serp = spark.read.parquet(args.serp)
    if args.engine in RESPONSE_PARSERS:
        # JSON-response engines (searxng / ac-engine): rows of
        # (query, page, body) — from_json passthrough, then page-plan
        from pyspark.sql import Window, functions as F

        parsed = RESPONSE_PARSERS[args.engine](serp)
        w = Window.partitionBy("query").orderBy("page", "position")
        parsed = (parsed.withColumn("__rank", F.row_number().over(w))
                  .where(F.col("__rank") <= args.limit).drop("__rank"))
    else:
        parsed = plan_and_limit(
            parse_serp_pages(serp, engine=args.engine), args.limit)
    parsed.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out}))


def cmd_validate(args) -> None:
    """Replay the zod intake gate over a request log (one JSON request
    per line or a parquet table with rid/request_json columns)."""
    from pyspark.sql import functions as F

    from anycrawl_spark.schemas import validate_requests

    spark = build_session("anycrawl-validate")
    if args.requests.endswith(".parquet") or args.requests.endswith("/"):
        df = spark.read.parquet(args.requests)
    else:
        df = (spark.read.text(args.requests)
              .withColumn("rid", F.monotonically_increasing_id())
              .withColumnRenamed("value", "request_json"))
    out = validate_requests(df, args.kind)
    out.write.mode("overwrite").parquet(args.out)
    counts = {r["success"]: r["n"] for r in
              out.groupBy("success").agg(F.count("*").alias("n")).collect()}
    print(json.dumps({"kind": args.kind,
                      "accepted": counts.get(True, 0),
                      "rejected": counts.get(False, 0)}))


def cmd_prep(args) -> None:
    """Run the training-data prep chain (quality floor -> exact dedup ->
    benchmark decontamination -> stratified sample -> 512-token sequence
    packing) over a documents table and write the packed placements."""
    from pyspark.sql import functions as F

    from anycrawl_spark.operators.queries import REGISTRY

    spark = build_session("anycrawl-prep")
    out = REGISTRY["pretrain_data_pipeline"].fn(spark, args.docs)
    out.write.mode("overwrite").parquet(args.out)
    written = spark.read.parquet(args.out)
    stats = written.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.countDistinct("shard").alias("shards")).collect()[0]
    print(json.dumps({
        "docs": stats["docs"],
        "tokens": int(stats["tokens"] or 0),
        "shards": stats["shards"],
        "sequences": int((written.groupBy("shard")
                          .agg(F.max(F.col("start_offset")
                                     + F.col("n_tokens")).alias("t"))
                          .agg(F.sum(F.expr("(t + 511) DIV 512")))
                          .collect()[0][0]) or 0),
    }))


def cmd_map(args) -> None:
    from pyspark.sql import functions as F

    from anycrawl_spark.mapper import domain_filter, expand_sitemaps, union_dedup

    spark = build_session("anycrawl-map")
    pages = spark.read.parquet(args.corpus)
    robots = spark.read.parquet(args.robots)
    sitemap_src = expand_sitemaps(robots, pages).drop("host")
    crawl_src = pages.select(
        "url", F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("description"))
    # reference order of operations (MapService.ts:148-153): merge, filter
    # by domain, THEN slice to the limit — limiting first would let
    # off-domain urls consume the budget
    merged = union_dedup({"sitemap": sitemap_src, "crawl": crawl_src},
                         limit=None)
    out = domain_filter(merged, args.host,
                        include_subdomains=args.include_subdomains)
    if args.search:
        # rank BEFORE the limit — limiting first would slice an arbitrary
        # (source_rank, url)-ordered prefix and discard relevant pages
        from anycrawl_spark.mapper import rank_by_search

        out = rank_by_search(out, args.search)
    out = out.limit(args.limit)
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out}))


def cmd_recrawl(args) -> None:
    """TTL eviction + monitor re-enqueue against a finished crawl
    checkpoint: evict the given URLs from the seen set, enqueue them as a
    fresh pending round, and — unless --no-run — resume the crawl to fetch
    them again. The limit is raised automatically to cover the re-enqueued
    URLs."""
    from anycrawl_spark.catalog import Catalog
    from anycrawl_spark.crawl import CrawlConfig, CrawlEngine

    spark = build_session("anycrawl-recrawl")
    corpus = spark.read.parquet(args.corpus)
    engine = CrawlEngine(spark, corpus, args.checkpoint)
    cat = Catalog(args.checkpoint)
    done = (cat.round_meta(cat.last_round()) or {}).get("done", 0)
    cfg = CrawlConfig(job_id=args.job_id, seed_url=args.urls[0],
                      strategy="all",
                      limit=min(50_000, done + len(args.urls)),
                      respect_robots=False)
    evicted = engine.evict_urls(cfg, args.urls)
    enqueued = engine.reenqueue_urls(cfg, args.urls)
    summary = {"evicted": evicted["evicted"],
               "reenqueued": enqueued["pending_next"]}
    if not args.no_run:
        summary["run"] = engine.run(cfg, resume=True)
    print(json.dumps(summary))


def cmd_cancel(args) -> None:
    """Cancel (or un-cancel) a running/resumable crawl by its checkpoint —
    the batch analogue of ProgressManager.cancel (Progress.ts:434-448).
    Pure filesystem marker; no Spark session needed."""
    from pathlib import Path

    marker = Path(args.checkpoint) / "_cancelled"
    if args.clear:
        if marker.exists():
            marker.unlink()
    else:
        marker.parent.mkdir(parents=True, exist_ok=True)
        marker.touch()
    print(json.dumps({"checkpoint": args.checkpoint,
                      "cancelled": marker.exists()}))


def main(argv=None) -> None:
    parser = argparse.ArgumentParser(prog="anycrawl-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("crawl")
    p.add_argument("--corpus", required=True)
    p.add_argument("--seed", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--job-id", default="job")
    p.add_argument("--strategy", default="same-domain",
                   choices=["all", "same-domain", "same-hostname", "same-origin"])
    p.add_argument("--limit", type=int, default=100)
    p.add_argument("--max-depth", type=int, default=10)
    p.add_argument("--budget", type=int, default=0)
    p.add_argument("--budget-scope", default="host", choices=["host", "domain"])
    p.add_argument("--include", nargs="*")
    p.add_argument("--exclude", nargs="*")
    p.add_argument("--scrape-paths", nargs="*")
    p.add_argument("--robots")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--seen-filter", default="bloom",
                   choices=["bloom", "cuckoo"],
                   help="URL-seen pre-filter family (north rule "
                        "'Bloom/cuckoo'); results are identical")
    p.add_argument("--page-cache", default=None,
                   help="directory of a page-cache table to upsert this "
                        "job's admissible results into (the reference "
                        "worker's shouldCache -> computeCacheKey -> "
                        "MERGE save step)")
    p.add_argument("--proxy",
                   help="proxy option (auto|base|stealth or a custom URL); "
                        "results carry the resolved mode name "
                        "(Base.ts:1295 parity)")
    p.set_defaults(fn=cmd_crawl)

    p = sub.add_parser("recrawl")
    p.add_argument("--corpus", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--urls", nargs="+", required=True,
                   help="TTL-expired URLs to evict from seen and refetch")
    p.add_argument("--job-id", default="job")
    p.add_argument("--no-run", action="store_true",
                   help="evict + enqueue only; fetch on the next --resume")
    p.set_defaults(fn=cmd_recrawl)

    p = sub.add_parser("cancel")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--clear", action="store_true",
                   help="clear a previous cancellation instead of setting one")
    p.set_defaults(fn=cmd_cancel)

    p = sub.add_parser("scrape")
    p.add_argument("--corpus", required=True)
    p.add_argument("--urls", nargs="+", required=True)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_scrape)

    p = sub.add_parser("search")
    p.add_argument("--serp", required=True)
    p.add_argument("--engine", default="google")
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_search)

    p = sub.add_parser("map")
    p.add_argument("--corpus", required=True)
    p.add_argument("--robots", required=True)
    p.add_argument("--host", required=True)
    p.add_argument("--search", help="rank results by search-term relevance")
    p.add_argument("--include-subdomains", action="store_true",
                   help="same base-domain instead of exact hostname "
                        "(reference default: off)")
    p.add_argument("--limit", type=int, default=5000)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_map)

    p = sub.add_parser("prep")
    p.add_argument("--docs", required=True,
                   help="dir containing documents.parquet")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_prep)

    p = sub.add_parser("validate")
    p.add_argument("--requests", required=True,
                   help="request log: parquet (rid, request_json) or a "
                        "text file with one JSON request per line")
    p.add_argument("--kind", default="crawl",
                   choices=["crawl", "scrape", "search", "map"])
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_validate)

    args = parser.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
