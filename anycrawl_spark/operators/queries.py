"""Driver-contract query suite: every relational operator from SURVEY.md §2
as a (Spark DataFrame fn, DuckDB oracle SQL) pair, plus the training-data
pipeline operators (dedup family, similarity search, text analysis,
multimodal metadata).

Each Spark query is idiomatic DataFrame code (JVM-side functions only — the
extraction/crawl UDF paths have their own rows-only entries); each oracle is
an independently written ANSI-SQL formulation for DuckDB over the same
parquet tables. Column names/types are aligned pairwise because the driver
hashes values with columns sorted by name.

Float discipline: every double aggregate is rounded (2-6 dp) so bit-level
summation-order differences between engines cannot flip the value hash;
counts are cast to bigint on the Spark side to match DuckDB's BIGINT len().
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load + repartition to full parallelism — the driver's parquet tables
    are single files, which would serialize expensive per-row transforms
    (shingling, hashing) onto one task. Content-identical to load()."""
    return load(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism)


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]           # DuckDB SQL, or None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def wrap(fn):
        REGISTRY[name] = QuerySpec(fn, oracle, doc)
        return fn
    return wrap


# ===========================================================================
# Crawl-engine relational operators (SURVEY.md §2.2/§2.5/§2.6)
# ===========================================================================

@register(
    "seen_antijoin",
    """SELECT o_orderkey FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""",
    "F2/A9: URL-seen dedup = left anti-join (frontier candidates vs seen set)",
)
def q_seen_antijoin(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"], "left_anti"
    ).select("o_orderkey")


@register(
    "perhost_topk",
    """SELECT c_nationkey, c_custkey, c_acctbal, host_rank FROM (
         SELECT c_nationkey, c_custkey, c_acctbal,
                ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey) AS host_rank
         FROM customer) WHERE host_rank <= 3""",
    "F7/A8: per-host politeness budget = row_number window top-k per key",
)
def q_perhost_topk(spark, sf_dir):
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        customer.withColumn("host_rank", F.row_number().over(w).cast("long"))
        .where(F.col("host_rank") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "host_rank")
    )


@register(
    "cache_newest",
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
       FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                    ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             FROM orders) WHERE rn = 1""",
    "A6/L5: page-cache lookup = newest-first row_number()==1 per key",
)
def q_cache_newest(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_ts"),
        )
    )


@register(
    "cache_ttl_tiers",
    """WITH ref AS (SELECT max(o_orderdate) AS now_ts FROM orders)
       SELECT o.o_orderkey,
              CASE WHEN o.o_orderkey % 2 = 0 THEN 'page' ELSE 'sitemap' END AS tier
       FROM orders o, ref
       WHERE (o.o_orderkey % 2 = 0
              AND epoch(o.o_orderdate) > epoch(ref.now_ts) - 172800)
          OR (o.o_orderkey % 2 = 1
              AND epoch(o.o_orderdate) > epoch(ref.now_ts) - 604800)""",
    "S8/A6 TTL tiers (config.ts:186-191): page-cache entries expire after "
    "2 days, map/sitemap entries after 7 — rows = cache entries still fresh "
    "relative to the newest timestamp, per tier. Exercises the TTL_TIERS "
    "constants routed through cache.ttl_for_tier.",
)
def q_cache_ttl_tiers(spark, sf_dir):
    from anycrawl_spark.cache import ttl_for_tier

    orders = load(spark, sf_dir, "orders")
    now_ts = orders.agg(F.max("o_orderdate").alias("now_ts"))
    tier = F.when(F.col("o_orderkey") % 2 == 0, "page").otherwise("sitemap")
    ttl = F.when(F.col("tier") == "page",
                 ttl_for_tier("page")).otherwise(ttl_for_tier("sitemap"))
    return (
        orders.withColumn("tier", tier)
        .crossJoin(F.broadcast(now_ts))
        # strictly greater — the reference's gt(scrapedAt, minScrapedAt)
        .where(F.col("o_orderdate").cast("timestamp").cast("long")
               > F.col("now_ts").cast("timestamp").cast("long") - ttl)
        .select("o_orderkey", "tier")
    )


@register(
    "limit_admission",
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
       FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 100""",
    "F7/L6: global crawl admission = deterministic ordered top-k",
)
def q_limit_admission(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_ts"),
        )
    )


@register(
    "progress_agg",
    """SELECT o_orderstatus, COUNT(*) AS jobs, ROUND(SUM(o_totalprice), 2) AS total_price
       FROM orders GROUP BY o_orderstatus""",
    "A1/A3: crawl progress counters = groupBy + count/sum per status",
)
def q_progress_agg(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("jobs"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "status_classify",
    """SELECT event_type,
              CASE WHEN value >= 0.9 THEN 'high'
                   WHEN value >= 0.5 THEN 'mid'
                   WHEN value >= 0.0 THEN 'low'
                   ELSE 'negative' END AS category,
              COUNT(*) AS n
       FROM events GROUP BY event_type, category""",
    "F10/F11: HTTP status / error classification = CASE WHEN predicate chain",
)
def q_status_classify(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    category = (
        F.when(F.col("value") >= 0.9, "high")
        .when(F.col("value") >= 0.5, "mid")
        .when(F.col("value") >= 0.0, "low")
        .otherwise("negative")
    )
    return (
        events.withColumn("category", category)
        .groupBy("event_type", "category")
        .agg(F.count("*").cast("long").alias("n"))
    )


@register(
    "bandwidth_rollup",
    """SELECT l_orderkey, ROUND(SUM(l_extendedprice), 2) AS bytes_total,
              COUNT(*) AS requests
       FROM lineitem GROUP BY l_orderkey""",
    "A7: per-job bandwidth rollup = groupBy sum",
)
def q_bandwidth_rollup(spark, sf_dir):
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_orderkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("bytes_total"),
        F.count("*").cast("long").alias("requests"),
    )


@register(
    "serp_scrape_merge",
    """SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
       FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",
    "G6/A5: SERP↔scrape merge = left join on url (keys here: custkey)",
)
def q_serp_scrape_merge(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return orders.join(customer, orders["o_custkey"] == customer["c_custkey"], "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "link_explode",
    """SELECT word, COUNT(*) AS occurrences FROM (
         SELECT unnest(regexp_extract_all(text, '\\w+')) AS word FROM documents)
       GROUP BY word""",
    "T15: link extraction fan-out = explode(array) + aggregate",
)
def q_link_explode(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    return (
        documents.select(
            F.explode(F.regexp_extract_all("text", F.lit(r"\w+"), 0)).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("occurrences"))
    )


@register(
    "map_union_dedup",
    """WITH src_sitemap AS (
         SELECT 'https://docs.test/d/' || doc_id::VARCHAR AS url,
                source AS title, CAST(NULL AS VARCHAR) AS description
         FROM documents WHERE doc_id % 2 = 0),
       src_crawl AS (
         SELECT 'https://docs.test/d/' || doc_id::VARCHAR AS url,
                CAST(NULL AS VARCHAR) AS title, 'desc-' || lang AS description
         FROM documents),
       unioned AS (
         SELECT url, title, description, 0 AS source_rank FROM src_sitemap
         UNION ALL
         SELECT url, title, description, 2 AS source_rank FROM src_crawl)
       SELECT url,
              MIN(CASE WHEN title IS NOT NULL THEN title END) AS title,
              MIN(CASE WHEN description IS NOT NULL THEN description END) AS description
       FROM unioned GROUP BY url""",
    "A4: map multi-source union + first-wins field merge per url",
)
def q_map_union_dedup(spark, sf_dir):
    from anycrawl_spark.mapper import union_dedup

    documents = load(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://docs.test/d/"), F.col("doc_id").cast("string"))
    src_sitemap = (
        documents.where(F.col("doc_id") % 2 == 0)
        .select(url.alias("url"), F.col("source").alias("title"),
                F.lit(None).cast("string").alias("description"))
    )
    src_crawl = documents.select(
        url.alias("url"), F.lit(None).cast("string").alias("title"),
        F.concat(F.lit("desc-"), F.col("lang")).alias("description"),
    )
    return union_dedup({"sitemap": src_sitemap, "crawl": src_crawl}, limit=100000)


@register(
    "canonicalize",
    """SELECT doc_id,
              'https://site' || (doc_id % 7)::VARCHAR || '.test/p/' || doc_id::VARCHAR
              || CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2' ELSE '' END AS canonical_url
       FROM documents""",
    "F1: URL canonicalization (lowercase host, strip trailing slash, drop "
    "utm params, sort query) — oracle states the expected output directly",
)
def q_canonicalize(spark, sf_dir):
    from anycrawl_spark.kernel.canonical import canonical_url_col

    documents = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("https://SITE"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".Test/p/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=news&b=2&a=1&utm_campaign=x"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit("")),
    )
    return (
        documents.select("doc_id", messy.alias("messy_url"))
        .select("doc_id", canonical_url_col("messy_url").alias("canonical_url"))
    )


@register(
    "url_hash",
    """SELECT doc_id,
              sha256('https://site' || (doc_id % 7)::VARCHAR || '.test/p/'
                     || doc_id::VARCHAR) AS url_sha
       FROM documents""",
    "F2: seen-filter key = sha256(canonical url)",
)
def q_url_hash(spark, sf_dir):
    from anycrawl_spark.kernel.canonical import canonical_url_col

    documents = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("https://Site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".TEST/p/"), F.col("doc_id").cast("string"),
    )
    return (
        documents.select("doc_id", messy.alias("messy_url"))
        .select("doc_id", F.sha2(canonical_url_col("messy_url"), 256).alias("url_sha"))
    )


@register(
    "base_domain",
    """SELECT doc_id,
              'site' || (doc_id % 7)::VARCHAR || '.test' AS base_domain
       FROM documents""",
    "F9: base-domain (last-2-label) extraction for map domain filter",
)
def q_base_domain(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("sub"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".site"), (F.col("doc_id") % 7).cast("string"), F.lit(".test"),
    )
    from anycrawl_spark.kernel.canonical import map_base_domain_col

    return documents.select(
        "doc_id", map_base_domain_col(host).alias("base_domain"))


@register(
    "robots_filter",
    """SELECT doc_id, path FROM (
         SELECT doc_id,
                CASE WHEN doc_id % 13 = 7 THEN '/private/p/' || doc_id::VARCHAR
                     ELSE '/p/' || doc_id::VARCHAR END AS path,
                doc_id % 7 AS host_k
         FROM documents)
       WHERE NOT (host_k % 3 = 0 AND path LIKE '/private%')""",
    "Robots enforcement: disallow-prefix filter per host (north-rule delta 1)",
)
def q_robots_filter(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    path = F.when(
        F.col("doc_id") % 13 == 7,
        F.concat(F.lit("/private/p/"), F.col("doc_id").cast("string")),
    ).otherwise(F.concat(F.lit("/p/"), F.col("doc_id").cast("string")))
    df = documents.select(
        "doc_id", path.alias("path"), (F.col("doc_id") % 7).alias("host_k"))
    denied = (F.col("host_k") % 3 == 0) & F.col("path").startswith("/private")
    return df.where(~denied).select("doc_id", "path")


@register(
    "frontier_order",
    """SELECT user_id, event_id, seq FROM (
         SELECT user_id, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
         FROM events) WHERE seq <= 5""",
    "Frontier (depth, seq) ordering: deterministic per-job sequence numbers",
)
def q_frontier_order(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("seq", F.row_number().over(w).cast("long"))
        .where(F.col("seq") <= 5)
        .select("user_id", "event_id", "seq")
    )


@register(
    "windowed_events",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
              event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS value_sum
       FROM events GROUP BY 1, 2""",
    "Streaming rollup shape: event-time tumbling window aggregation",
)
def q_windowed_events(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").cast("long").alias("n"),
             F.round(F.sum("value"), 4).alias("value_sum"))
    )


@register(
    "supplier_region_rollup",
    """SELECT r.r_name AS region, n.n_name AS nation,
              COUNT(*) AS n_suppliers,
              ROUND(AVG(s.s_acctbal), 2) AS avg_acctbal,
              ROUND(MAX(s.s_acctbal), 2) AS max_acctbal
       FROM supplier s
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY 1, 2""",
    "Supplier rollup through the nation/region dim chain (both dims "
    "broadcast — no shuffle of the fact side before the aggregation)",
)
def q_supplier_region_rollup(spark, sf_dir):
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        supplier
        .join(F.broadcast(nation),
              supplier["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region),
              nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"),
                 F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_suppliers"),
             F.round(F.avg("s_acctbal"), 2).alias("avg_acctbal"),
             F.round(F.max("s_acctbal"), 2).alias("max_acctbal"))
    )


@register(
    "part_brand_stats",
    """SELECT p_brand,
              COUNT(*) AS n_parts,
              COUNT(DISTINCT p_type) AS n_types,
              ROUND(AVG(p_retailprice), 2) AS avg_price,
              CAST(SUM(p_size) AS BIGINT) AS total_size
       FROM part GROUP BY p_brand""",
    "Part catalog rollup: per-brand counts, distinct types, price/size "
    "aggregates (partial map-side aggregation + one shuffle by brand)",
)
def q_part_brand_stats(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"),
             F.countDistinct("p_type").alias("n_types"),
             F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
             F.sum("p_size").cast("long").alias("total_size"))
    )


@register(
    "hypertable_rollup",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
              COUNT(*) AS n, ROUND(SUM(value), 4) AS value_sum,
              ROUND(MIN(value), 4) AS value_min,
              ROUND(MAX(value), 4) AS value_max,
              ROUND(ROUND(SUM(value), 4) / COUNT(*), 6) AS value_avg
       FROM events GROUP BY 1, 2""",
    "Hypertable/continuous-aggregate rollup: day stats REAGGREGATED from "
    "the hour-level partial aggregates (sums/counts add, min/max compose, "
    "avg derives) — the lossless two-level rollup a time-series store "
    "maintains incrementally; the oracle computes days directly from raw "
    "events, proving the composition",
)
def q_hypertable_rollup(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"),
             F.min("value").alias("value_min"), F.max("value").alias("value_max"))
    )
    daily = (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", F.col("hour")), "yyyy-MM-dd")
            .alias("day"),
            "event_type")
        .agg(F.sum("n").cast("long").alias("n"),
             F.sum("value_sum").alias("vs"),
             F.min("value_min").alias("vmin"),
             F.max("value_max").alias("vmax"))
    )
    return daily.select(
        "day", "event_type", "n",
        F.round("vs", 4).alias("value_sum"),
        F.round("vmin", 4).alias("value_min"),
        F.round("vmax", 4).alias("value_max"),
        # avg derives from the ROUNDED sum so double accumulation order
        # (hour partials vs direct) cannot flip the last ulp cross-engine
        F.round(F.round(F.col("vs"), 4) / F.col("n"), 6).alias("value_avg"),
    )


@register(
    "fetch_join",
    """WITH frontier AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
         corpus AS (SELECT doc_id, n_chars FROM documents)
       SELECT f.doc_id,
              CASE WHEN c.doc_id IS NOT NULL THEN 200 ELSE 404 END AS status,
              c.n_chars
       FROM frontier f LEFT JOIN corpus c ON f.doc_id = c.doc_id""",
    "S1: fetch = equi-join of frontier against the page corpus",
)
def q_fetch_join(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    frontier = documents.where(F.col("doc_id") % 7 == 0).select("doc_id")
    corpus = documents.select(F.col("doc_id").alias("c_doc_id"), "n_chars")
    return frontier.join(corpus, frontier["doc_id"] == corpus["c_doc_id"], "left").select(
        "doc_id",
        F.when(F.col("c_doc_id").isNotNull(), 200).otherwise(404).alias("status"),
        "n_chars",
    )


# ===========================================================================
# Training-data pipeline operators: dedup family, similarity search,
# text analysis, multimodal metadata (task brief; graded as first-class)
# ===========================================================================

@register(
    "dedup_exact",
    """SELECT prefix_hash, COUNT(*) AS dup_count, MIN(doc_id) AS canonical_doc
       FROM (SELECT doc_id, md5(substr(text, 1, 100)) AS prefix_hash FROM documents)
       GROUP BY prefix_hash HAVING COUNT(*) > 1""",
    "Exact dedup: hash-groupBy on content prefix; canonical = min doc_id",
)
def q_dedup_exact(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    return (
        documents.select("doc_id", F.md5(F.substring("text", 1, 100)).alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(F.count("*").cast("long").alias("dup_count"),
             F.min("doc_id").alias("canonical_doc"))
        .where(F.col("dup_count") > 1)
    )


@register(
    "token_count",
    """SELECT doc_id,
              len(regexp_extract_all(text, '\\S+')) AS ws_tokens,
              len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens
       FROM documents""",
    "Token counting: whitespace tokens + BPE-ish regex token count",
)
def q_token_count(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
        .cast("long").alias("bpe_ish_tokens"),
    )


@register(
    "quality_score",
    """SELECT doc_id, n_chars_actual, stopword_ratio, mean_word_len,
              CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6
                        AND mean_word_len BETWEEN 3 AND 10
                        AND n_chars_actual >= 100
                   THEN 1 ELSE 0 END AS passes_quality
       FROM (
         SELECT doc_id,
                length(text) AS n_chars_actual,
                ROUND(len(list_filter(regexp_extract_all(text, '\\S+'),
                                      w -> w IN ('the', 'a', 'of', 'and', 'to', 'in')))
                      * 1.0 / greatest(len(regexp_extract_all(text, '\\S+')), 1), 4)
                    AS stopword_ratio,
                ROUND(length(replace(text, ' ', ''))
                      * 1.0 / greatest(len(regexp_extract_all(text, '\\S+')), 1), 4)
                    AS mean_word_len
         FROM documents)""",
    "Quality scoring: length / stopword ratio / mean word length gates",
)
def q_quality_score(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    n_words = F.greatest(F.size(words), F.lit(1))
    stop = F.size(F.filter(words, lambda w: w.isin("the", "a", "of", "and", "to", "in")))
    df = documents.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.round(stop * F.lit(1.0) / n_words, 4).alias("stopword_ratio"),
        F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                * F.lit(1.0) / n_words, 4).alias("mean_word_len"),
    )
    passes = (
        F.col("stopword_ratio").between(0.05, 0.6)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("n_chars_actual") >= 100)
    )
    return df.withColumn("passes_quality", F.when(passes, 1).otherwise(0))


@register(
    "sessionize_events",
    """SELECT user_id, session_seq,
              COUNT(*) AS n_events,
              strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
              strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
              ROUND(SUM(value), 2) AS total_value
       FROM (
         SELECT user_id, ts, value,
                CAST(SUM(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                     AS BIGINT) AS session_seq
         FROM (
           SELECT user_id, ts, event_id, value,
                  CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE
                            OR LAG(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) IS NULL
                       THEN 1 ELSE 0 END AS new_session
           FROM events))
       GROUP BY user_id, session_seq""",
    "Sessionization: per-user sessions split on >30-min gaps (lag + running "
    "sum over a keyed window — one shuffle by user), with per-session "
    "aggregates",
)
def q_sessionize_events(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # microsecond-exact gap: cast('long') truncates to whole seconds while
    # the oracle's INTERVAL 30 MINUTE compares exact timestamps — a gap of
    # 1800.3s between fractional-second events would split sessions in
    # DuckDB but not here
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(prev_ts.cast("timestamp"))
    new_session = F.when(
        prev_ts.isNull() | (us - prev_us > 1_800_000_000), 1
    ).otherwise(0)
    sessions = (
        events.withColumn("__new", new_session)
        .withColumn("session_seq",
                    F.sum("__new").over(
                        w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)))
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n_events"),
             F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
              .alias("session_start"),
             F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
              .alias("session_end"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "asof_join_events",
    """SELECT p.event_id, p.user_id,
              strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
              v.event_id AS view_event_id,
              strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
         ON p.user_id = v.user_id AND p.ts >= v.ts""",
    "As-of join (backward): each purchase matched to the user's most recent "
    "view at-or-before it. Spark lacks ASOF JOIN; implemented via the union "
    "+ keyed-window last_value trick (one shuffle, no range-join pair "
    "explosion); the oracle uses DuckDB's native ASOF JOIN",
)
def q_asof_join_events(spark, sf_dir):
    from anycrawl_spark.operators.relational import asof_join_backward

    events = load(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id"))
    joined = asof_join_backward(
        purchases, views, on="user_id", right_cols=["view_event_id"],
        right_tiebreak="view_event_id")
    return joined.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("view_event_id_right").alias("view_event_id"),
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )


@register(
    "range_join_events",
    """WITH campaigns AS (
         SELECT doc_id % 50 AS campaign_id,
                TIMESTAMP '2024-01-01' + to_hours((doc_id % 50) * 7)
                    AS start_ts,
                TIMESTAMP '2024-01-01' + to_hours((doc_id % 50) * 7 + 5)
                    AS end_ts
         FROM documents WHERE doc_id < 50)
       SELECT e.event_id, c.campaign_id,
              strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts
       FROM events e JOIN campaigns c
         ON e.ts >= c.start_ts AND e.ts < c.end_ts""",
    "Range/interval join (point-in-interval): implemented via bucket "
    "expansion (intervals explode into overlapped hour buckets, points map "
    "to one bucket, equi-join + exact containment filter) — a shuffle hash "
    "join instead of the BroadcastNestedLoopJoin a raw BETWEEN predicate "
    "plans; the oracle is the plain BETWEEN join",
)
def q_range_join_events(spark, sf_dir):
    from anycrawl_spark.operators.relational import interval_join_bucketed

    events = load(spark, sf_dir, "events")
    documents = load(spark, sf_dir, "documents")
    c = (F.col("doc_id") % 50).cast("long")
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    campaigns = documents.where(F.col("doc_id") < 50).select(
        c.alias("campaign_id"),
        F.timestamp_seconds(base.cast("long") + c * 7 * 3600).alias("start_ts"),
        F.timestamp_seconds(base.cast("long") + (c * 7 + 5) * 3600)
         .alias("end_ts"),
    )
    joined = interval_join_bucketed(
        events.select("event_id", "ts"), campaigns, bucket_seconds=3600)
    return joined.select(
        "event_id", "campaign_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"))


@register(
    "winnow_fingerprints",
    r"""WITH grams AS (
         SELECT doc_id,
                list_transform(
                  range(1, greatest(len(words) - 1, 2)),
                  i -> substr(md5(array_to_string(words[i:i+2], ' ')), 1, 8))
                    AS hashes
         FROM (SELECT doc_id,
                      list_transform(regexp_extract_all(text, '\S+'),
                                     w -> lower(w)) AS words
               FROM documents)
         WHERE len(words) >= 3),
       sel AS (
         SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(len(hashes) - 4 + 1, 1) + 1),
                  j -> list_min(hashes[j:j+3]))) AS fps
         FROM grams)
       SELECT doc_id, unnest(fps) AS fp FROM sel""",
    "Document fingerprinting via winnowing (Schleimer et al. 2003): rolling "
    "word-3-gram hashes, window-4 minima, distinct selected fingerprints — "
    "the rolling-hash fingerprint set near-dup detectors index on",
)
def q_winnow_fingerprints(spark, sf_dir):
    documents = load_wide(spark, sf_dir, "documents")
    words = F.transform(
        F.regexp_extract_all("text", F.lit(r"\S+"), 0), F.lower)
    n = F.size(words)
    # word 3-gram hashes, 1-based gram index i in [1, n-2]
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: F.substring(
            F.md5(F.array_join(F.slice(words, i, 3), " ")), 1, 8))
    docs = documents.where(F.size(words) >= 3).select(
        "doc_id", hashes.alias("hashes"))
    m = F.size(F.col("hashes"))
    # winnowing: window w=4 minima (one degenerate window when m < w)
    selected = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(m - 4 + 1, F.lit(1))),
        lambda j: F.array_min(F.slice(F.col("hashes"), j, 4))))
    return docs.select(
        "doc_id", F.explode(selected.alias("fps")).alias("fp"))


@register(
    "gopher_quality",
    r"""SELECT doc_id, word_count, mean_word_len, symbol_ratio, bullet_frac,
              ellipsis_frac, stop_hits,
              CASE WHEN word_count BETWEEN 50 AND 100000
                        AND mean_word_len BETWEEN 3 AND 10
                        AND symbol_ratio <= 0.1
                        AND bullet_frac <= 0.9
                        AND ellipsis_frac <= 0.3
                        AND stop_hits >= 2
                   THEN 1 ELSE 0 END AS passes_gopher
       FROM (
         SELECT doc_id,
                len(words) AS word_count,
                ROUND(list_sum(list_transform(words, w -> length(w)))
                      * 1.0 / greatest(len(words), 1), 4) AS mean_word_len,
                ROUND(len(list_filter(words, w -> contains(w, '#')
                                               OR contains(w, '...')))
                      * 1.0 / greatest(len(words), 1), 4) AS symbol_ratio,
                ROUND(len(list_filter(lines, l -> starts_with(trim(l), '-')
                                               OR starts_with(trim(l), '*')))
                      * 1.0 / greatest(len(lines), 1), 4) AS bullet_frac,
                ROUND(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))
                      * 1.0 / greatest(len(lines), 1), 4) AS ellipsis_frac,
                len(list_intersect(list_transform(words, w -> lower(w)),
                    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
                    AS stop_hits
         FROM (SELECT doc_id,
                      regexp_extract_all(text, '\S+') AS words,
                      string_split(text, chr(10)) AS lines
               FROM documents))""",
    "Gopher quality rules (Rae et al. 2021 §A1.1 subset): word count, mean "
    "word length, symbol-to-word ratio, bullet/ellipsis line fractions, "
    "distinct-stopword floor — all JVM higher-order expressions",
)
def q_gopher_quality(spark, sf_dir):
    documents = load_wide(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    lines = F.split("text", "\n")
    n_words = F.greatest(F.size(words), F.lit(1))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    mean_wl = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    ) * F.lit(1.0) / n_words
    symbols = F.size(F.filter(
        words, lambda w: w.contains("#") | w.contains("...")))
    bullets = F.size(F.filter(
        lines, lambda l: F.trim(l).startswith("-") | F.trim(l).startswith("*")))
    ellipsis = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    stop_hits = F.size(F.array_intersect(
        F.transform(words, F.lower),
        F.array(*[F.lit(s) for s in
                  ("the", "be", "to", "of", "and", "that", "have", "with")])))
    df = documents.select(
        "doc_id",
        F.size(words).cast("long").alias("word_count"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbols * F.lit(1.0) / n_words, 4).alias("symbol_ratio"),
        F.round(bullets * F.lit(1.0) / n_lines, 4).alias("bullet_frac"),
        F.round(ellipsis * F.lit(1.0) / n_lines, 4).alias("ellipsis_frac"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    passes = (
        F.col("word_count").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_frac") <= 0.9)
        & (F.col("ellipsis_frac") <= 0.3)
        & (F.col("stop_hits") >= 2)
    )
    return df.withColumn("passes_gopher", F.when(passes, 1).otherwise(0))


@register(
    "gopher_repetition",
    r"""WITH words AS (
         SELECT doc_id, length(text) AS n_chars,
                regexp_extract_all(text, '\S+') AS ws
         FROM documents),
       g2 AS (
         SELECT doc_id, n_chars, unnest(list_transform(
                  range(1, greatest(len(ws), 1)),
                  i -> ws[i] || ' ' || ws[i + 1])) AS g
         FROM words WHERE len(ws) >= 2),
       g2c AS (SELECT doc_id, n_chars, g, COUNT(*) AS c
               FROM g2 GROUP BY doc_id, n_chars, g),
       top2 AS (
         SELECT doc_id,
                ROUND(c * length(g) * 1.0 / n_chars, 4) AS top2_frac
         FROM (SELECT doc_id, n_chars, g, c,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY c DESC, g) AS rn
               FROM g2c) WHERE rn = 1),
       g5 AS (
         SELECT doc_id, n_chars, unnest(list_transform(
                  range(1, greatest(len(ws) - 3, 1)),
                  i -> array_to_string(ws[i:i+4], ' '))) AS g
         FROM words WHERE len(ws) >= 5),
       g5c AS (SELECT doc_id, n_chars, g, COUNT(*) AS c
               FROM g5 GROUP BY doc_id, n_chars, g),
       dup5 AS (
         SELECT doc_id,
                ROUND(least(SUM(CASE WHEN c >= 2 THEN c * length(g)
                                     ELSE 0 END) * 1.0 / n_chars, 1.0), 4)
                    AS dup5_frac
         FROM g5c GROUP BY doc_id, n_chars)
       SELECT w.doc_id,
              COALESCE(t.top2_frac, 0.0) AS top2_frac,
              COALESCE(d.dup5_frac, 0.0) AS dup5_frac,
              CAST(CASE WHEN COALESCE(t.top2_frac, 0.0) <= 0.20
                         AND COALESCE(d.dup5_frac, 0.0) <= 0.15
                   THEN 1 ELSE 0 END AS BIGINT) AS passes_repetition
       FROM words w
       LEFT JOIN top2 t ON t.doc_id = w.doc_id
       LEFT JOIN dup5 d ON d.doc_id = w.doc_id""",
    "Gopher repetition-removal signals (Rae et al. 2021 §A1.1): fraction of "
    "characters in the most frequent word 2-gram (threshold 0.20) and in "
    "duplicated word 5-grams (threshold 0.15). Explode → per-doc groupBy: "
    "every shuffle is keyed by doc_id (+gram), so the plan is "
    "embarrassingly parallel at corpus scale — no cross-doc state.",
)
def q_gopher_repetition(spark, sf_dir):
    documents = load_wide(spark, sf_dir, "documents")
    words = documents.select(
        "doc_id", F.length("text").alias("n_chars"),
        F.regexp_extract_all("text", F.lit(r"\S+"), 0).alias("ws"))

    def grams(n):
        src = words.where(F.size("ws") >= n)
        g = F.transform(
            F.sequence(F.lit(1), F.size("ws") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("ws", i, F.lit(n))))
        return (src.select("doc_id", "n_chars", F.explode(g).alias("g"))
                .groupBy("doc_id", "n_chars", "g").agg(F.count("*").alias("c")))

    w_top = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("g"))
    top2 = (
        grams(2).withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") == 1)
        .select("doc_id",
                F.round(F.col("c") * F.length("g") / F.col("n_chars"), 4)
                 .alias("top2_frac"))
    )
    dup5 = (
        grams(5).groupBy("doc_id", "n_chars")
        .agg(F.sum(F.when(F.col("c") >= 2,
                          F.col("c") * F.length("g")).otherwise(0))
              .alias("dup_chars"))
        .select("doc_id",
                F.round(F.least(F.col("dup_chars") / F.col("n_chars"),
                                F.lit(1.0)), 4).alias("dup5_frac"))
    )
    top2_frac = F.coalesce(F.col("top2_frac"), F.lit(0.0))
    dup5_frac = F.coalesce(F.col("dup5_frac"), F.lit(0.0))
    return (
        words.select("doc_id")
        .join(top2, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            top2_frac.alias("top2_frac"),
            dup5_frac.alias("dup5_frac"),
            F.when((top2_frac <= 0.20) & (dup5_frac <= 0.15), 1)
             .otherwise(0).cast("long").alias("passes_repetition"))
    )


@register(
    "c4_filters",
    r"""SELECT doc_id, sentence_count, has_brace, has_lorem, has_js,
              terminal_line_frac,
              CASE WHEN sentence_count >= 3 AND has_brace = 0
                        AND has_lorem = 0 AND has_js = 0
                   THEN 1 ELSE 0 END AS passes_c4
       FROM (
         SELECT doc_id,
                len(list_filter(regexp_split_to_array(text, '[.!?]'),
                                s -> trim(s) != '')) AS sentence_count,
                CAST(CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS BIGINT) AS has_brace,
                CAST(CASE WHEN contains(lower(text), 'lorem ipsum')
                     THEN 1 ELSE 0 END AS BIGINT) AS has_lorem,
                CAST(CASE WHEN contains(lower(text), 'javascript')
                     THEN 1 ELSE 0 END AS BIGINT) AS has_js,
                ROUND(len(list_filter(string_split(text, chr(10)),
                          l -> regexp_matches(rtrim(l), '[.!?"]$')))
                      * 1.0 / greatest(len(string_split(text, chr(10))), 1), 4)
                    AS terminal_line_frac
         FROM documents)""",
    "C4 cleaning filters (Raffel et al. 2020 §2.2): >=3 sentences, no curly "
    "brace / lorem ipsum / javascript markers, terminal-punctuation line "
    "fraction",
)
def q_c4_filters(spark, sf_dir):
    documents = load_wide(spark, sf_dir, "documents")
    sentences = F.split("text", r"[.!?]")
    lines = F.split("text", "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    sent_count = F.size(F.filter(sentences, lambda s: F.trim(s) != ""))
    terminal = F.size(F.filter(
        lines, lambda l: F.rtrim(l).rlike(r'[.!?"]$')))
    df = documents.select(
        "doc_id",
        sent_count.cast("long").alias("sentence_count"),
        F.when(F.col("text").contains("{"), 1).otherwise(0)
         .cast("long").alias("has_brace"),
        F.when(F.lower("text").contains("lorem ipsum"), 1).otherwise(0)
         .cast("long").alias("has_lorem"),
        F.when(F.lower("text").contains("javascript"), 1).otherwise(0)
         .cast("long").alias("has_js"),
        F.round(terminal * F.lit(1.0) / n_lines, 4).alias("terminal_line_frac"),
    )
    passes = (
        (F.col("sentence_count") >= 3) & (F.col("has_brace") == 0)
        & (F.col("has_lorem") == 0) & (F.col("has_js") == 0)
    )
    return df.withColumn("passes_c4", F.when(passes, 1).otherwise(0))


@register(
    "lang_id",
    """SELECT doc_id, lang,
              len(list_filter(regexp_extract_all(text, '\\S+'),
                              w -> w IN ('the', 'and', 'of', 'is'))) AS en_markers,
              len(list_filter(regexp_extract_all(text, '\\S+'),
                              w -> w IN ('der', 'die', 'und', 'ist'))) AS de_markers,
              CASE WHEN len(list_filter(regexp_extract_all(text, '\\S+'),
                                        w -> w IN ('the', 'and', 'of', 'is')))
                        >= len(list_filter(regexp_extract_all(text, '\\S+'),
                                           w -> w IN ('der', 'die', 'und', 'ist')))
                   THEN 'en' ELSE 'de' END AS lang_guess
       FROM documents""",
    "Language-ID heuristic: marker-word counts → argmax guess",
)
def q_lang_id(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    en = F.size(F.filter(words, lambda w: w.isin("the", "and", "of", "is"))).cast("long")
    de = F.size(F.filter(words, lambda w: w.isin("der", "die", "und", "ist"))).cast("long")
    return documents.select(
        "doc_id", "lang",
        en.alias("en_markers"), de.alias("de_markers"),
        F.when(en >= de, "en").otherwise("de").alias("lang_guess"),
    )


@register(
    "fingerprint",
    """SELECT doc_id,
              md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS doc_fingerprint
       FROM documents""",
    "Document fingerprint: hash of whitespace-normalized lowercased text "
    "(monitor normalizeContent + hashContent, SURVEY.md §2.8 M1/M2)",
)
def q_fingerprint(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("doc_fingerprint"),
    )


def _trigram_shingles_col(words):
    """Distinct word-trigram shingles of a words array — SHARED between
    q_ngram_jaccard_pairs (block-join oracle) and q_jaccard_over_candidates
    (the scale path): both must shingle identically or the 'same candidates,
    same scores' contract between them silently breaks."""
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(words) - 2),
        lambda i: F.concat_ws(" ", F.slice(words, i, F.lit(3))),
    ))


def _minhash_digest_col():
    """Array column of per-shingle md5 digests (3-word shingles). Each
    shingle is digested ONCE; signature columns derive from this shared
    column so Catalyst evaluates the expensive shingling a single time."""
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    return F.transform(
        F.sequence(F.lit(1), F.size(words) - 2),
        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, F.lit(3)))),
    )


def _minhash_sig_cols(digest_col, n_sigs: int = 6):
    """Per-seed minhash signatures over the shared digest column:
    sig_i = min(md5('i:' || digest)) — short fixed-width re-hashes. min over
    md5-hex strings is a valid random-permutation proxy, engine-portable."""
    return [
        F.array_min(
            F.transform(digest_col,
                        lambda h: F.md5(F.concat(F.lit(f"{i}:"), h)))
        ).alias(f"sig{i}")
        for i in range(n_sigs)
    ]


def _minhash_sigs_spark(n_sigs: int = 6):
    return _minhash_sig_cols(F.col("__dg"), n_sigs)


# The LSH banding contract — 6 signatures -> 2 bands of 3 — is shared by
# lsh_candidate_pairs and incremental_dedup ("the same construction" is a
# registered claim, so the construction must live in ONE place or the
# equivalence silently breaks, same rule as _trigram_shingles_col).
_BAND1_SQL = "md5(sig0 || sig1 || sig2)"
_BAND2_SQL = "md5(sig3 || sig4 || sig5)"


def _band_hash_cols():
    return (F.md5(F.concat("sig0", "sig1", "sig2")),
            F.md5(F.concat("sig3", "sig4", "sig5")))


def _minhash_sigs_sql(n_sigs: int = 6) -> str:
    cols = ", ".join(
        f"""list_aggregate(list_transform(
              list_transform(
                list_transform(range(1, greatest(len(regexp_extract_all(text, '\\S+')) - 1, 1)),
                               i -> array_to_string((regexp_extract_all(text, '\\S+'))[i:i+2], ' ')),
                s -> md5(s)),
              h -> md5('{i}:' || h)), 'min') AS sig{i}"""
        for i in range(n_sigs)
    )
    return cols


@register(
    "minhash_signature",
    f"""SELECT doc_id, {_minhash_sigs_sql(6)}
       FROM documents
       WHERE len(regexp_extract_all(text, '\\S+')) >= 3""",
    "MinHash: 6-permutation signature over 3-word shingles",
)
def q_minhash_signature(spark, sf_dir):
    documents = load_wide(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    return (
        documents.where(F.size(words) >= 3)
        .withColumn("__dg", _minhash_digest_col())
        .select("doc_id", *_minhash_sigs_spark(6))
    )


@register(
    "lsh_candidate_pairs",
    f"""WITH sigs AS (
         SELECT doc_id, {_minhash_sigs_sql(6)}
         FROM documents WHERE len(regexp_extract_all(text, '\\S+')) >= 3),
       bands AS (
         SELECT doc_id, {_BAND1_SQL} AS band_hash FROM sigs
         UNION ALL
         SELECT doc_id, {_BAND2_SQL} AS band_hash FROM sigs)
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM bands a JOIN bands b ON a.band_hash = b.band_hash AND a.doc_id < b.doc_id""",
    "MinHash-LSH: band → bucket-join → candidate duplicate pairs",
)
def q_lsh_candidate_pairs(spark, sf_dir):
    documents = load_wide(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    sigs = (
        documents.where(F.size(words) >= 3)
        .withColumn("__dg", _minhash_digest_col())
        .select("doc_id", *_minhash_sigs_spark(6))
        # the signature subtree is referenced FOUR times downstream (two
        # band branches x both sides of the self-join); materialize it once
        # (tiny: doc_id + 6 hex strings per doc)
        .localCheckpoint()
    )
    b1_col, b2_col = _band_hash_cols()
    band1 = sigs.select("doc_id", b1_col.alias("band_hash"))
    band2 = sigs.select("doc_id", b2_col.alias("band_hash"))
    bands = band1.unionByName(band2)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _simhash_bits_sql() -> str:
    # bit b of md5(word): hex nibble (b//4), bit (b%4). strpos over hex digits.
    return """
      SELECT doc_id, bit_idx,
             SUM(CASE WHEN ((strpos('0123456789abcdef',
                                    substr(md5(word), (bit_idx // 4) + 1, 1)) - 1)
                            // CAST(pow(2, bit_idx % 4) AS INT)) % 2 = 1
                      THEN 1 ELSE -1 END) AS weight
      FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word
            FROM documents),
           (SELECT unnest(range(0, 16)) AS bit_idx)
      GROUP BY doc_id, bit_idx"""


def _dedup_clusters_oracle() -> str:
    """Recursive-CTE transitive closure over the SAME LSH pair SQL: cluster
    of a doc = min doc_id reachable through candidate-pair edges."""
    lsh = REGISTRY["lsh_candidate_pairs"].oracle
    body, _, final = lsh.rpartition("SELECT DISTINCT")
    return (
        body.replace("WITH", "WITH RECURSIVE", 1)
        + ", pairs AS (SELECT DISTINCT" + final + """),
       edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach(src, dst) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
       SELECT src AS doc_id,
              CAST(MIN(dst) AS BIGINT) AS cluster,
              CAST(CASE WHEN MIN(dst) = src THEN 1 ELSE 0 END AS BIGINT)
                  AS is_representative
       FROM reach GROUP BY src""")


@register(
    "dedup_clusters",
    None,  # oracle attached below (built from the LSH pair SQL)
    "Dedup clustering: connected components (min-label propagation, "
    "localCheckpoint-truncated driver loop) over MinHash-LSH candidate "
    "pairs → (cluster, representative); oracle = recursive-CTE transitive "
    "closure over the identical pair SQL",
)
def q_dedup_clusters(spark, sf_dir):
    from anycrawl_spark.operators.dedup import dedup_clusters

    documents = load(spark, sf_dir, "documents")
    pairs = REGISTRY["lsh_candidate_pairs"].fn(spark, sf_dir)
    return dedup_clusters(documents.select("doc_id"), pairs)


REGISTRY["dedup_clusters"].oracle = _dedup_clusters_oracle()


@register(
    "dedup_clusters_two_star",
    None,  # same transitive-closure oracle as dedup_clusters (below)
    "Dedup clustering via alternating large-star/small-star connected "
    "components (O(log n) rounds regardless of component diameter — the "
    "scale path for chainy components) over the same LSH candidate pairs; "
    "must produce the identical clustering as min-label propagation",
)
def q_dedup_clusters_two_star(spark, sf_dir):
    from anycrawl_spark.operators.dedup import connected_components_two_star

    documents = load(spark, sf_dir, "documents")
    pairs = REGISTRY["lsh_candidate_pairs"].fn(spark, sf_dir)
    comps = connected_components_two_star(
        documents.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
    )
    return comps.select(
        F.col("id").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.when(F.col("id") == F.col("cluster"), 1).otherwise(0)
        .cast("long").alias("is_representative"),
    )


REGISTRY["dedup_clusters_two_star"].oracle = _dedup_clusters_oracle()


@register(
    "simhash16",
    f"""SELECT doc_id,
              CAST(SUM(CASE WHEN weight > 0
                            THEN CAST(pow(2, bit_idx) AS BIGINT) ELSE 0 END)
                   AS BIGINT) AS simhash
       FROM ({_simhash_bits_sql()}) GROUP BY doc_id""",
    "SimHash (16-bit): per-bit ±1 vote over word hashes → fingerprint",
)
def q_simhash16(spark, sf_dir):
    # r7: the 16 per-bit votes as 16 int COLUMNS of the word rows instead
    # of a crossJoin row blowup (words × 16 through a (doc, bit) exchange).
    # Vote math is expression-identical per bit (the bit index is a
    # constant per column, so the same nibble/divide/mod chain constant-
    # folds); one hash aggregation with map-side partials replaces two
    # full groupBy exchanges over 16× the rows. Values byte-identical.
    documents = load_wide(spark, sf_dir, "documents")
    words = documents.select(
        "doc_id", F.explode(F.regexp_extract_all("text", F.lit(r"\S+"), 0)).alias("word"))
    hashed = words.select("doc_id", F.md5("word").alias("__h"))

    def vote(b: int):
        nibble = F.substring(F.col("__h"), b // 4 + 1, 1)
        nibble_val = F.instr(F.lit("0123456789abcdef"), nibble) - 1
        bit = (nibble_val / F.pow(F.lit(2), F.lit(b % 4)).cast("int")) \
            .cast("int") % 2
        return F.when(bit == 1, 1).otherwise(-1)

    votes = hashed.select(
        "doc_id", *[vote(b).alias(f"__v{b}") for b in range(16)])
    weights = votes.groupBy("doc_id").agg(
        *[F.sum(f"__v{b}").alias(f"__w{b}") for b in range(16)])
    simhash = None
    for b in range(16):
        term = (F.when(F.col(f"__w{b}") > 0,
                       F.pow(F.lit(2), F.lit(b)).cast("long"))
                .otherwise(0))
        simhash = term if simhash is None else simhash + term
    return weights.select(
        "doc_id", simhash.cast("long").alias("simhash"))


@register(
    "ngram_jaccard_pairs",
    """WITH shingled AS (
         SELECT doc_id, lang,
                len(regexp_extract_all(text, '\\S+')) // 16 AS len_bucket,
                list_distinct(list_transform(
                  range(1, greatest(len(regexp_extract_all(text, '\\S+')) - 1, 1)),
                  i -> array_to_string((regexp_extract_all(text, '\\S+'))[i:i+2], ' ')))
                AS shingles
         FROM documents WHERE len(regexp_extract_all(text, '\\S+')) >= 3)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              ROUND(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                    len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
                  AS jaccard
       FROM shingled a JOIN shingled b
         ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
       WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2""",
    "N-gram Jaccard near-dup: (lang, length-bucket)-blocked pair join over "
    "distinct shingle sets — blocking bounds the pair count at scale (near-"
    "identical docs land in the same bucket; bucket width 16 words)",
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    documents = load_wide(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    shingles = _trigram_shingles_col(words)
    shingled = (
        documents.where(F.size(words) >= 3)
        .select("doc_id", "lang",
                F.floor(F.size(words) / 16).cast("long").alias("len_bucket"),
                shingles.alias("shingles"))
        # shingling feeds both self-join sides: materialize once
        .localCheckpoint()
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    # shingle arrays are DISTINCT sets (_trigram_shingles_col), so
    # |A ∪ B| = |A| + |B| − |A ∩ B| exactly — the per-pair concat +
    # array_distinct (an allocation + hash-dedup over both arrays for
    # every candidate pair) was half the pair work (r7). Same integers →
    # the double division is bit-identical.
    union = (F.size(F.col("a.shingles")) + F.size(F.col("b.shingles"))
             - inter)
    jac = inter * F.lit(1.0) / union
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.len_bucket") == F.col("b.len_bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where(jac >= 0.2)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.round(jac, 4).alias("jaccard"))
    )


# ===========================================================================
# Similarity search over embeddings (ANN baseline + IVF-style bucketing)
# ===========================================================================

def _cos_spark(a, b):
    """Cosine of two array<double> columns with fixed left-to-right double
    accumulation. NOTE: DuckDB's list_cosine_similarity is not guaranteed
    ulp-identical to this fold; parity holds through the 6-dp ROUND both
    sides apply, validated against the fixed driver corpus (a knife-edge
    exactly on a 7th-digit 5 would be dataset-specific bad luck — none
    exists in the test tables)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


_DBL = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


@register(
    "embed_cosine_pairs",
    f"""WITH e AS (SELECT vec_id, label, {_DBL} AS v FROM embeddings)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
       FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.v, b.v) >= 0.35""",
    "Embedding-cosine near-dup: label-blocked pair join, threshold 0.35",
)
def q_embed_cosine_pairs(spark, sf_dir):
    embeddings = load_wide(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a, b = e.alias("a"), e.alias("b")
    cos = _cos_spark(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .where(cos >= 0.35)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
                F.round(cos, 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Scale-bounded pairwise verification (the 100-TB path): score similarity
# ONLY over candidate pairs produced by banding, never over block self-joins.
# Block joins (ngram_jaccard_pairs / embed_cosine_pairs above) bound pair
# counts only while blocks stay small — (lang, len-bucket) and (label)
# cardinality is constant in corpus size, so one hot block at 100 TB is
# quadratic again. These variants join the banded candidate pairs back to
# the shingle/embedding tables: pair count is candidate-bounded (rows scale
# with true near-dups, not block sizes), and every join is a keyed equi-join.
# ---------------------------------------------------------------------------

def _jaccard_over_candidates_oracle() -> str:
    """Compose the LSH candidate-pair SQL (identical text to the
    lsh_candidate_pairs oracle, same trick as _dedup_clusters_oracle) with a
    per-pair exact-Jaccard scoring join."""
    lsh = REGISTRY["lsh_candidate_pairs"].oracle
    body, _, final = lsh.rpartition("SELECT DISTINCT")
    return (
        body
        + ", pairs AS (SELECT DISTINCT" + final + """),
       shingled AS (
         SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(len(regexp_extract_all(text, '\\S+')) - 1, 1)),
                  i -> array_to_string((regexp_extract_all(text, '\\S+'))[i:i+2], ' ')))
                AS shingles
         FROM documents WHERE len(regexp_extract_all(text, '\\S+')) >= 3)
       SELECT p.doc_a, p.doc_b,
              ROUND(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                    len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
                  AS jaccard
       FROM pairs p
       JOIN shingled a ON a.doc_id = p.doc_a
       JOIN shingled b ON b.doc_id = p.doc_b
       WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.2""")


@register(
    "jaccard_over_candidates",
    None,  # oracle attached below (built from the LSH pair SQL)
    "Scale-bounded n-gram Jaccard: exact trigram-shingle Jaccard scored ONLY "
    "over MinHash-LSH candidate pairs (two doc_id equi-joins back to the "
    "shingle table) — no block self-join anywhere in the plan, so pair count "
    "is candidate-bounded at 100 TB. This is the scale path for "
    "ngram_jaccard_pairs; dedup_clusters consumes the same candidates.",
)
def q_jaccard_over_candidates(spark, sf_dir):
    pairs = REGISTRY["lsh_candidate_pairs"].fn(spark, sf_dir)
    documents = load_wide(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    shingles = _trigram_shingles_col(words)
    shingled = (
        documents.where(F.size(words) >= 3)
        .select("doc_id", shingles.alias("shingles"))
        # referenced by both sides of the scoring join: materialize once
        .localCheckpoint()
    )
    sa = shingled.select(F.col("doc_id").alias("doc_a"),
                         F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"),
                         F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # |A ∪ B| = |A| + |B| − |A ∩ B| over distinct shingle sets — same
    # integers, bit-identical division (see q_ngram_jaccard_pairs)
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter * F.lit(1.0) / union
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .where(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


REGISTRY["jaccard_over_candidates"].oracle = _jaccard_over_candidates_oracle()


# Winner-take-all (comparison-based) hash bits for embedding LSH (Yagnik et
# al., "The Power of Comparative Reasoning", ICCV 2011): bit b compares two
# fixed coordinates of the vector. Comparisons are exact on floats (no
# accumulation), so Spark and DuckDB compute bit-identical sketches — unlike
# signed-random-projection dot products, where a projection near 0 could
# flip under different summation orders.
_WTA_BITS = 16
_WTA_DIM = 64
_WTA_P = [(7 * b + 3) % _WTA_DIM for b in range(_WTA_BITS)]
_WTA_Q = [(13 * b + 29) % _WTA_DIM for b in range(_WTA_BITS)]


def _wta_band_sql(band: int) -> str:
    terms = []
    for j in range(8):
        b = band * 8 + j
        terms.append(f"(CASE WHEN v[{_WTA_P[b] + 1}] > v[{_WTA_Q[b] + 1}] "
                     f"THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def _wta_band_col(band: int):
    v = F.col("v")
    expr = F.lit(0)
    for j in range(8):
        b = band * 8 + j
        expr = expr + F.when(
            v.getItem(_WTA_P[b]) > v.getItem(_WTA_Q[b]), F.lit(1 << j)
        ).otherwise(0)
    return expr


@register(
    "cosine_over_candidates",
    f"""WITH e AS (SELECT vec_id, {_DBL} AS v FROM embeddings),
       bands AS (
         SELECT vec_id, 0 AS band_idx, {_wta_band_sql(0)} AS band_val FROM e
         UNION ALL
         SELECT vec_id, 1 AS band_idx, {_wta_band_sql(1)} AS band_val FROM e),
       cands AS (
         SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          AND a.vec_id < b.vec_id)
       SELECT c.vec_a, c.vec_b,
              ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
       FROM cands c
       JOIN e ea ON ea.vec_id = c.vec_a
       JOIN e eb ON eb.vec_id = c.vec_b
       WHERE list_cosine_similarity(ea.v, eb.v) >= 0.35""",
    "Scale-bounded embedding cosine: WTA-hash banding (two 8-bit "
    "comparison-sketch bands → band equi-join → candidate pairs), then "
    "exact cosine scored only over candidates via vec_id equi-joins. No "
    "label/block self-join: bucket cardinality grows with 2^bits, so the "
    "plan stays bounded at 100 TB. Scale path for embed_cosine_pairs.",
)
def q_cosine_over_candidates(spark, sf_dir):
    embeddings = load_wide(spark, sf_dir, "embeddings")
    # r7: per-vector L2 norms computed once (`nv`) instead of re-folded
    # inside every candidate pair's cosine — bit-identical (same
    # left-to-right double fold carried as a column; dot/(na*nb) keeps
    # the identical op order), same treatment as semantic_dedup.
    norm = F.sqrt(F.aggregate(
        F.transform(F.col("v"), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))
    e = (
        embeddings.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .withColumn("nv", norm)
        # referenced four times (two band branches + two scoring sides)
        .localCheckpoint()
    )
    bands = e.select(
        "vec_id", F.lit(0).alias("band_idx"), _wta_band_col(0).alias("band_val")
    ).unionByName(e.select(
        "vec_id", F.lit(1).alias("band_idx"), _wta_band_col(1).alias("band_val")))
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"))
        .distinct()
        # pin the pair-scoring parallelism: AQE's byte-based coalescing
        # collapses the tiny candidate shuffle onto one task, but the
        # per-pair cosine fold downstream is compute-dense per byte
        .repartition(spark.sparkContext.defaultParallelism)
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                  F.col("nv").alias("na"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                  F.col("nv").alias("nb"))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        cands.join(ea, "vec_a").join(eb, "vec_b")
        .where(cos >= 0.35)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )


@register(
    "ann_bruteforce_topk",
    f"""WITH e AS (SELECT vec_id, {_DBL} AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       SELECT e.vec_id, ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine
       FROM e, q WHERE e.vec_id != 0
       ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id
       LIMIT 10""",
    "ANN baseline: brute-force cosine top-k against a query vector "
    "(broadcast query, full scan — the exact-recall reference path)",
)
def q_ann_bruteforce_topk(spark, sf_dir):
    # Global top-k without a global window: orderBy().limit(k) plans as
    # TakeOrderedAndProject (per-partition top-k + driver merge of k*parts
    # rows), so no single task ever sees the full table. Rank is implicit in
    # the (cosine DESC, vec_id) order — a rank column would need a global
    # window (the optimizer folds literal partition keys away, leaving an
    # empty partition spec); keyed window-rank parity is covered by
    # perhost_topk / cache_newest / frontier_order.
    embeddings = load(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cos = _cos_spark(F.col("v"), F.col("qv"))
    # order by the 6-dp rounded cosine — the same value the oracle hash
    # compares — so near-ties at the top-k boundary can't order/select
    # differently across engines
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", F.round(cos, 6))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "cosine")
    )


@register(
    "ann_ivf_topk",
    f"""WITH e AS (SELECT vec_id, label, {_DBL} AS v FROM embeddings),
         q AS (SELECT label AS qlabel, v AS qv FROM e WHERE vec_id = 0)
       SELECT e.vec_id, ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine
       FROM e JOIN q ON e.label = q.qlabel WHERE e.vec_id != 0
       ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id
       LIMIT 5""",
    "ANN scale path (IVF-style): probe only the query's cluster partition "
    "(labels stand in for coarse-quantizer cells); top-k within the cell",
)
def q_ann_ivf_topk(spark, sf_dir):
    # Same TakeOrderedAndProject pattern as ann_bruteforce_topk: cell probe
    # (broadcast semi-join on label) prunes the scan, limit(k) replaces the
    # global window, ranking runs over only the k survivors.
    embeddings = load(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    q = e.where(F.col("vec_id") == 0).select(
        F.col("label").alias("qlabel"), F.col("v").alias("qv"))
    cos = _cos_spark(F.col("v"), F.col("qv"))
    return (
        e.join(F.broadcast(q), e["label"] == F.col("qlabel"))
        .where(F.col("vec_id") != 0)
        .withColumn("cosine", F.round(cos, 6))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", "cosine")
    )


@register(
    "ann_ivf_real",
    f"""WITH e AS (SELECT vec_id, {_DBL} AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       SELECT e.vec_id, ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine
       FROM e, q WHERE e.vec_id != 0
       ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6) DESC, e.vec_id
       LIMIT 10""",
    "ANN real IVF, full-probe exactness oracle: Lloyd's k-means centroids "
    "(driver, deterministic init) → cell assignment (one Arrow matmul per "
    "batch) → cell-partitioned index → probe (partition-pruned scan) → "
    "exact cosine top-k within probed cells. With nprobe = n_cells the "
    "probe covers every inverted list, so the whole train/assign/write/"
    "probe pipeline must reproduce brute-force top-k exactly — which IS "
    "SQL-expressible, giving the driver a value-hash check of the real "
    "index machinery. Approximate behaviour (nprobe < n_cells, pruned "
    "scan via PartitionFilters, recall ≥ 0.9) is asserted in pytest.",
)
def q_ann_ivf_real(spark, sf_dir):
    import tempfile

    from anycrawl_spark.operators.ann import (
        build_ivf_index, ivf_topk, train_centroids)

    embeddings = load(spark, sf_dir, "embeddings")
    centroids = train_centroids(embeddings, k=16, iters=8)
    index_path = tempfile.mkdtemp(prefix="anycrawl_ivf_")
    build_ivf_index(embeddings.where(F.col("vec_id") != 0), index_path, centroids)
    qv = embeddings.where(F.col("vec_id") == 0).select("embedding").head()[0]
    return (ivf_topk(spark, index_path, centroids, qv, k=10,
                     nprobe=len(centroids))
            .select("vec_id", "cosine"))


# ===========================================================================
# Multimodal columns: opaque binary payloads + typed metadata (stub decode)
# ===========================================================================

@register(
    "multimodal_meta",
    """SELECT doc_id,
              octet_length(encode(text)) AS payload_bytes,
              sha256(text) AS payload_sha,
              CASE WHEN doc_id % 3 = 0 THEN 'image'
                   WHEN doc_id % 3 = 1 THEN 'audio'
                   ELSE 'video' END AS modality
       FROM documents""",
    "Multimodal metadata: binary payload size/digest + modality tag "
    "(payload = utf-8 bytes of text standing in for media bytes)",
)
def q_multimodal_meta(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return documents.select(
        "doc_id",
        F.length(payload).cast("long").alias("payload_bytes"),
        F.sha2("text", 256).alias("payload_sha"),
        modality.alias("modality"),
    )


@register(
    "media_decode_meta",
    """SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image'
                   WHEN doc_id % 3 = 1 THEN 'audio'
                   ELSE 'video' END AS modality,
              CASE WHEN doc_id % 3 = 0
                     THEN (['png', 'gif', 'jpeg', 'webp', 'bmp'])
                          [CAST((doc_id // 3) % 5 AS INT) + 1]
                   WHEN doc_id % 3 = 1
                     THEN (['wav', 'mp3'])[CAST((doc_id // 3) % 2 AS INT) + 1]
                   ELSE 'mp4' END AS format,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 320
                        WHEN doc_id % 3 = 2 THEN 160 + 16 * (doc_id % 60)
                        ELSE 0 END AS INT) AS width,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + (7 * doc_id) % 200
                        WHEN doc_id % 3 = 2 THEN 120 + 8 * (doc_id % 90)
                        ELSE 0 END AS INT) AS height,
              CAST(CASE WHEN doc_id % 3 = 1 AND (doc_id // 3) % 2 = 0
                          THEN (100 * (1 + doc_id % 16) * 1000)
                               // (8000 + 4000 * (doc_id % 5))
                        WHEN doc_id % 3 = 1
                          THEN ((1 + doc_id % 8) * 1152 * 1000)
                               // ([32000, 44100, 48000]
                                   [CAST((doc_id // 6) % 3 AS INT) + 1])
                        WHEN doc_id % 3 = 2
                          THEN (500 * (1 + doc_id % 20) * 1000) // 600
                        ELSE 0 END AS INT) AS duration_ms,
              CAST(CASE WHEN doc_id % 3 = 1 AND (doc_id // 3) % 2 = 0
                          THEN 8000 + 4000 * (doc_id % 5)
                        WHEN doc_id % 3 = 1
                          THEN ([32000, 44100, 48000]
                                [CAST((doc_id // 6) % 3 AS INT) + 1])
                        ELSE 0 END AS INT) AS sample_rate
       FROM documents""",
    "Real multimodal decode over 8 container formats: synthesize a valid "
    "file per doc (PNG/GIF/JPEG/WebP-vp8|vp8l|vp8x/BMP images, WAV/MP3 "
    "audio incl. ID3v2 skip, MP4 video; header params pure arithmetic in "
    "doc_id), then "
    "parse the headers back with the pure-Python codec (mapInPandas, Arrow "
    "batches). The oracle predicts every width/height/duration/sample_rate "
    "independently from the doc_id parameter map, so encoder+decoder "
    "roundtrip is genuinely checked — the hash stub no longer serves these "
    "formats.",
)
def q_media_decode_meta(spark, sf_dir):
    from anycrawl_spark.operators.multimodal import decode_media, synthesize_media

    documents = load_wide(spark, sf_dir, "documents")
    media = synthesize_media(documents)
    return decode_media(media).select(
        F.col("media_id").alias("doc_id"), "modality", "format",
        "width", "height", "duration_ms", "sample_rate")


@register(
    "auto_engine_decision",
    """WITH pages AS (
         SELECT doc_id,
           '<html><head>'
           || repeat('<script src="/static/a.js"></script>',
                     CAST(doc_id % 15 AS INT))
           || CASE WHEN doc_id % 7 = 0
                   THEN '<script>window.__NUXT__={};</script>' ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN '<script>var d = "__NEXT_DATA__";</script>' ELSE '' END
           || CASE WHEN doc_id % 2 = 0
                   THEN '<!-- ' || repeat('pad ', 600) || ' -->' ELSE '' END
           || '</head><body>'
           || CASE WHEN doc_id % 5 = 0 THEN '<div id="root"></div>' ELSE '' END
           || CASE WHEN doc_id % 4 = 0
                   THEN '<noscript><p>JavaScript is required to use this application.</p></noscript>'
                   ELSE '' END
           || CASE WHEN doc_id % 3 = 0 THEN '<article>' || text || '</article>'
                   ELSE '<p>' || text || '</p>' END
           || '</body></html>' AS h
         FROM documents),
       parts AS (
         SELECT doc_id, h,
           trim(regexp_replace(regexp_replace(regexp_replace(
             regexp_extract(h, '(?is)<body[^>]*>(.*?)</body>', 1),
             '(?is)<script.*?</script>', '', 'g'),
             '(?is)<style.*?</style>', '', 'g'),
             '(?is)<noscript.*?</noscript>', '', 'g')) AS content
         FROM pages),
       vis AS (
         SELECT doc_id, h, content,
           trim(regexp_replace(regexp_replace(content, '<[^>]+>', '', 'g'),
                               '\\s+', ' ', 'g')) AS visible
         FROM parts),
       scored AS (
         SELECT doc_id,
           (CASE WHEN regexp_matches(h,
              'id=["''](root|app|__next|__nuxt)["''][^>]*>\\s*</div>', 'i')
            THEN 3 ELSE 0 END)
           + (CASE WHEN len(visible) < 100 AND len(h) > 2000 THEN 3 ELSE 0 END)
           + (CASE WHEN len(trim(regexp_replace(array_to_string(
                regexp_extract_all(h, '(?is)<noscript[^>]*>(.*?)</noscript>', 1),
                ''), '<[^>]+>', '', 'g'))) > 30 THEN 3 ELSE 0 END)
           + (CASE WHEN regexp_matches(h, '["'']__NEXT_DATA__["'']')
              THEN 1 ELSE 0 END)
           + (CASE WHEN regexp_matches(h, '__NUXT__') THEN 1 ELSE 0 END)
           + (CASE WHEN regexp_matches(h, 'window\\.__INITIAL_STATE__')
              THEN 1 ELSE 0 END)
           + (CASE WHEN regexp_matches(h, 'data-reactroot', 'i')
              THEN 1 ELSE 0 END)
           + (CASE WHEN regexp_matches(h, 'ng-app|ng-controller', 'i')
              THEN 2 ELSE 0 END)
           + (CASE WHEN regexp_matches(h, 'data-svelte', 'i')
              THEN 1 ELSE 0 END)
           + (CASE WHEN len(regexp_extract_all(h, '(?i)(<script)', 1)) > 10
                    AND len(visible) < 500 THEN 2 ELSE 0 END)
           + (CASE WHEN len(visible) > 1000 THEN -3
                   WHEN len(visible) > 500 THEN -1 ELSE 0 END)
           + (CASE WHEN regexp_matches(content,
                '(?is)<(article|main)[^>]*>.{200,}') THEN -1 ELSE 0 END)
           AS score
         FROM vis)
       SELECT doc_id, CAST(score AS INT) AS score,
              CASE WHEN score >= 3 THEN 'playwright' ELSE 'cheerio' END AS engine
       FROM scored""",
    "Auto-engine selection (reference autoEngine.ts:7-88): synthesize a "
    "deterministic HTML page per doc (script density, SPA markers, noscript "
    "fallback, semantic content all varying with doc_id), then score its JS "
    "requirement with the reference's weighted signals — Spark side is one "
    "JVM regexp expression tree (codegen, no Python); oracle re-implements "
    "the scoring independently in DuckDB SQL.",
)
def q_auto_engine_decision(spark, sf_dir):
    from anycrawl_spark.autoengine import engine_decision_col, js_score_col

    documents = load_wide(spark, sf_dir, "documents")
    d = F.col("doc_id")
    h = F.concat(
        F.lit("<html><head>"),
        F.repeat(F.lit('<script src="/static/a.js"></script>'),
                 (d % 15).cast("int")),
        F.when(d % 7 == 0,
               F.lit("<script>window.__NUXT__={};</script>")).otherwise(""),
        F.when(d % 11 == 0,
               F.lit('<script>var d = "__NEXT_DATA__";</script>')).otherwise(""),
        F.when(d % 2 == 0,
               F.concat(F.lit("<!-- "), F.repeat(F.lit("pad "), 600),
                        F.lit(" -->"))).otherwise(""),
        F.lit("</head><body>"),
        F.when(d % 5 == 0, F.lit('<div id="root"></div>')).otherwise(""),
        F.when(d % 4 == 0, F.lit(
            "<noscript><p>JavaScript is required to use this application.</p>"
            "</noscript>")).otherwise(""),
        F.when(d % 3 == 0,
               F.concat(F.lit("<article>"), F.col("text"),
                        F.lit("</article>"))).otherwise(
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>"))),
        F.lit("</body></html>"),
    )
    pages = documents.select("doc_id", h.alias("h"))
    return pages.select(
        "doc_id",
        js_score_col("h").alias("score"),
        engine_decision_col("h").alias("engine"),
    )


# ===========================================================================
# TPC-H-style relational coverage (joins/aggregations at scale)
# ===========================================================================

@register(
    "tpch_q1_pricing",
    """SELECT l_returnflag, l_linestatus,
              ROUND(SUM(l_quantity), 2) AS sum_qty,
              ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
              ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              ROUND(AVG(l_quantity), 4) AS avg_qty,
              COUNT(*) AS count_order
       FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "TPC-H Q1 shape: wide aggregation with map-side partials",
)
def q_tpch_q1_pricing(spark, sf_dir):
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("*").cast("long").alias("count_order"),
    )


@register(
    "tpch_q3_revenue",
    """SELECT o.o_orderkey,
              ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o.o_orderkey
       ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "TPC-H Q3 shape: selective dimension filter + 3-way join + top-k",
)
def q_tpch_q3_revenue(spark, sf_dir):
    customer = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        F.broadcast(customer)
        .join(orders, customer["c_custkey"] == orders["o_custkey"])
        .join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_region",
    """SELECT n.n_name,
              ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM region r
       JOIN nation n ON n.n_regionkey = r.r_regionkey
       JOIN customer c ON c.c_nationkey = n.n_nationkey
       JOIN orders o ON o.o_custkey = c.c_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE r.r_name = 'ASIA'
       GROUP BY n.n_name""",
    "TPC-H Q5 shape: star join over region/nation dims (broadcast) + agg",
)
def q_tpch_q5_region(spark, sf_dir):
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


# ===========================================================================
# UDF-path queries: extraction / crawl / SERP / bloom (SURVEY.md §2.3/§2.4)
# ===========================================================================

@register(
    "bloom_seen_filter",
    """SELECT sha256('https://docs.test/d/' || doc_id::VARCHAR) AS url_hash
       FROM documents WHERE doc_id >= 250""",
    "F2 at scale: partitioned-Bloom pre-filter + exact anti-join equals the "
    "plain exact anti-join (candidates 0..499 minus seen 0..249)",
)
def q_bloom_seen_filter(spark, sf_dir):
    from anycrawl_spark.seen import build_segments, filter_new

    documents = load(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://docs.test/d/"), F.col("doc_id").cast("string"))
    hashed = documents.select("doc_id", F.sha2(url, 256).alias("url_hash"))
    candidates = hashed.select("url_hash")
    seen = hashed.where(F.col("doc_id") < 250).select("url_hash")
    segments = build_segments(seen, num_buckets=8, m_bits=1 << 14, k=4)
    return filter_new(candidates, segments, seen,
                      num_buckets=8, m_bits=1 << 14, k=4)


@register(
    "cuckoo_seen_filter",
    """SELECT sha256('https://docs.test/d/' || doc_id::VARCHAR) AS url_hash
       FROM documents WHERE doc_id >= 250""",
    "F2 at scale, cuckoo family (north rule 'Bloom/cuckoo'): partitioned "
    "cuckoo pre-filter + exact anti-join equals the plain exact anti-join "
    "(candidates 0..499 minus seen 0..249); cuckoo.py filter_new",
)
def q_cuckoo_seen_filter(spark, sf_dir):
    from anycrawl_spark.cuckoo import build_segments, filter_new

    documents = load(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://docs.test/d/"), F.col("doc_id").cast("string"))
    hashed = documents.select("doc_id", F.sha2(url, 256).alias("url_hash"))
    candidates = hashed.select("url_hash")
    seen = hashed.where(F.col("doc_id") < 250).select("url_hash")
    segments = build_segments(seen, num_buckets=8, n_slots=1 << 10)
    return filter_new(candidates, segments, seen,
                      num_buckets=8, n_slots=1 << 10)


@register(
    "extract_markdown",
    None,
    "T1-T16: full extraction pipeline over the documents-derived page corpus "
    "(markdown/text/links not SQL-expressible → rows-only check)",
)
def q_extract_markdown(spark, sf_dir):
    from anycrawl_spark.corpus import pages_from_documents
    from anycrawl_spark.udfs import make_extract_udf

    docs = load(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    extract = make_extract_udf()
    return (
        pages.withColumn("doc", extract(F.col("url"), F.col("html")))
        .select(
            "url",
            F.col("doc.title").alias("title"),
            F.length("doc.markdown").cast("long").alias("markdown_len"),
            F.length("doc.text").cast("long").alias("text_len"),
            F.size("doc.links").cast("long").alias("n_links"),
        )
    )


def _llm_nchars_model(system, prompt, schema):
    """Deterministic fake provider for the T18 pipeline oracle: extracts the
    content section of the REAL assembled prompt and reports its length —
    so the oracle can predict the whole result chain (prompt bytes -> token
    estimate -> model output -> output tokens -> cost) from documents.text
    alone. The pipeline around it (normalization, prompt assembly, routing,
    validation, accounting) is the reference code under test."""
    content = prompt.split("\n\nContent:\n", 1)[1]
    return {"n_chars": len(content)}


def _llm_extract_oracle() -> str:
    # bake the (schema-derived) prompt-prefix and system-prompt lengths into
    # the SQL so the oracle independently predicts the token accounting
    from anycrawl_spark.kernel.llm_extract import (
        BASE_EXTRACTION_PROMPT,
        EXTRACT_SYSTEM_PROMPT,
        create_field_prompt,
        normalize_schema,
    )

    fp = create_field_prompt(normalize_schema(
        {"n_chars": {"type": "integer", "description": "character count"}}))
    prefix = len(BASE_EXTRACTION_PROMPT + fp + "\n\nContent:\n") \
        + len(EXTRACT_SYSTEM_PROMPT)
    return f"""
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars,
               CAST(1 AS INTEGER) AS chunks,
               CAST((length(text) + {prefix} + 3) // 4 AS INTEGER)
                   AS input_tokens,
               CAST((12 + length(CAST(length(text) AS VARCHAR)) + 3) // 4
                   AS INTEGER) AS output_tokens,
               CAST(((length(text) + {prefix} + 3) // 4) * 200
                    + ((12 + length(CAST(length(text) AS VARCHAR)) + 3) // 4)
                      * 800 AS BIGINT) AS cost_nano
        FROM documents WHERE length(text) BETWEEN 1 AND 14000"""


@register(
    "llm_extract_stats",
    _llm_extract_oracle(),
    "T18 json format (DataExtractor.ts:505-545 + LLMExtract.ts pipeline): "
    "schema normalization, field-prompt + extraction-prompt assembly, "
    "single-chunk routing, output validation, token estimate and cost "
    "accounting — oracle predicts the full chain from documents.text via "
    "a content-length fake provider (model call = live seam); chunked "
    "path + merge covered in tests/test_llm_extract.py",
)
def q_llm_extract_stats(spark, sf_dir):
    from anycrawl_spark.udfs import make_json_extract_udf

    docs = load(spark, sf_dir, "documents").where(
        (F.length("text") >= 1) & (F.length("text") <= 14000))
    udf = make_json_extract_udf(
        {"schema": {"n_chars": {"type": "integer",
                                "description": "character count"}}},
        model_call=_llm_nchars_model)
    return (
        docs.withColumn("j", udf(F.col("text"), F.lit(None).cast("binary")))
        .select(
            "doc_id",
            F.get_json_object("j.data", "$.n_chars").cast("int").alias("n_chars"),
            F.col("j.chunks").alias("chunks"),
            F.col("j.input_tokens").alias("input_tokens"),
            F.col("j.output_tokens").alias("output_tokens"),
            F.round(F.col("j.cost") * 1e9).cast("long").alias("cost_nano"),
        )
    )


def _llm_head_summary_model(system, prompt):
    """Deterministic fake summarizer: first 40 chars of the prompt's content
    section — lets the oracle predict summary text + token/cost accounting
    from documents.text alone."""
    content = prompt.split("Content:\n", 1)[1]
    return content[:40]


def _llm_summary_oracle() -> str:
    from anycrawl_spark.kernel.llm_extract import (
        SUMMARY_SYSTEM_PROMPT,
        SUMMARY_USER_PROMPT,
    )

    template = len(SUMMARY_USER_PROMPT) - len("{content}")
    prefix = template + len(SUMMARY_SYSTEM_PROMPT)
    return f"""
        SELECT doc_id,
               text[:40] AS summary,
               CAST(1 AS INTEGER) AS chunks,
               CAST((length(text) + {prefix} + 3) // 4 AS INTEGER)
                   AS input_tokens,
               CAST((least(length(text), 40) + 3) // 4 AS INTEGER)
                   AS output_tokens,
               CAST(((length(text) + {prefix} + 3) // 4) * 200
                    + ((least(length(text), 40) + 3) // 4) * 800
                   AS BIGINT) AS cost_nano
        FROM documents WHERE length(text) BETWEEN 1 AND 14000"""


@register(
    "llm_summary_stats",
    _llm_summary_oracle(),
    "T18 summary format (DataExtractor.ts:547-573 + LLMSummary.ts): summary "
    "prompt assembly, single-chunk routing, token estimate and cost "
    "accounting via a content-head fake provider (model call = live seam); "
    "chunked summarize-then-merge covered in tests/test_llm_extract.py",
)
def q_llm_summary_stats(spark, sf_dir):
    from anycrawl_spark.udfs import make_summary_udf

    docs = load(spark, sf_dir, "documents").where(
        (F.length("text") >= 1) & (F.length("text") <= 14000))
    udf = make_summary_udf(model_call=_llm_head_summary_model)
    return (
        docs.withColumn("s", udf(F.col("text"), F.lit(None).cast("binary")))
        .select(
            "doc_id",
            F.col("s.summary").alias("summary"),
            F.col("s.chunks").alias("chunks"),
            F.col("s.input_tokens").alias("input_tokens"),
            F.col("s.output_tokens").alias("output_tokens"),
            F.round(F.col("s.cost") * 1e9).cast("long").alias("cost_nano"),
        )
    )


@register(
    "extraction_text_parity",
    """SELECT COUNT(*) AS pages, 0 AS mismatches FROM documents""",
    "Per-row invariant: pipeline text byte-equals the corpus golden text "
    "column for every page (oracle states the expectation: zero mismatches)",
)
def q_extraction_text_parity(spark, sf_dir):
    from anycrawl_spark.corpus import pages_from_documents
    from anycrawl_spark.udfs import html_to_text_udf

    docs = load(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    return pages.agg(
        F.count("*").cast("long").alias("pages"),
        F.sum(
            F.when(html_to_text_udf(F.col("html")) != F.col("text"), 1).otherwise(0)
        ).cast("int").alias("mismatches"),
    )


@register(
    "serp_parse",
    """WITH q(query) AS (VALUES ('spark crawl'), ('web extraction'),
                               ('frontier dedup')),
          r AS (SELECT unnest(range(0, 25)) AS rank)
       SELECT 'google' AS engine, query,
              CAST(rank // 10 + 1 AS INT) AS page,
              CAST(rank % 10 AS INT) AS position,
              'Result ' || rank || ' for ' || query AS title,
              'https://result' || lpad(rank::VARCHAR, 2, '0') || '.test/'
                  || replace(query, ' ', '-') AS url,
              'Snippet ' || rank || ' about ' || query || '.' AS description,
              'Google Search Result' AS source,
              'web' AS category
       FROM q, r""",
    "G2/G5: Google SERP fixture parse + page-planner limit. The fixture "
    "pages are deterministic, so the oracle reconstructs the expected "
    "(page, position) grid directly — the Spark path must parse the HTML "
    "(UDF), skip decoys, and page-plan to the same 25 rows per query.",
)
def q_serp_parse(spark, sf_dir):
    from anycrawl_spark.corpus import generate_serp_pages
    from anycrawl_spark.serp import parse_serp_pages, plan_and_limit

    serp = generate_serp_pages(spark)
    return plan_and_limit(parse_serp_pages(serp), limit=25)


@register(
    "searxng_parse",
    """WITH items AS (
         SELECT doc_id AS d,
                'q' || (doc_id % 7) AS query,
                ((doc_id // 7) % 3 + 1) AS page
         FROM documents WHERE doc_id % 11 != 0)
       SELECT query, page,
              ROW_NUMBER() OVER (PARTITION BY query, page ORDER BY d) - 1
                  AS position,
              CASE WHEN d % 4 = 1 THEN 'images'
                   WHEN d % 4 = 2 THEN 'news' ELSE 'web' END AS category,
              CASE WHEN d % 13 = 0 THEN '' ELSE 'Doc ' || d END AS title,
              'https://sx.test/' || d AS url,
              CASE WHEN d % 5 = 0 THEN 'snippet-' || d
                   ELSE 'content-' || d END AS description,
              'SearXNG (' || CASE WHEN d % 7 = 0 THEN 'unknown'
                                  ELSE 'engine' || (d % 3) END || ')' AS source,
              CASE WHEN d % 4 = 1 THEN 'https://img.test/' || d
                   WHEN d % 4 = 2 AND d % 3 != 0 THEN 'https://t.test/' || d
                   END AS image_url,
              CASE WHEN d % 4 = 1 AND d % 9 != 0 THEN d + 100 END AS image_width,
              CASE WHEN d % 4 = 1 AND d % 9 != 0 THEN d + 200 END AS image_height,
              CASE WHEN d % 4 = 1 THEN d % 10 END AS image_position,
              CASE WHEN d % 4 = 2 THEN
                   CASE WHEN d % 2 = 1
                        THEN '2026-01-' || lpad((d % 28 + 1)::VARCHAR, 2, '0')
                        ELSE '2026-02-01' END END AS news_date
       FROM items""",
    "G3: SearXNG JSON parse — build deterministic response bodies from "
    "documents, round-trip from_json → flat result rows (category mapping, "
    "coalesce chains, resolution regex, skip-no-url); oracle recomputes the "
    "expected rows directly from doc_id",
)
def q_searxng_parse(spark, sf_dir):
    from anycrawl_spark.corpus import searxng_responses_from_documents
    from anycrawl_spark.serp import parse_searxng_response

    docs = load(spark, sf_dir, "documents")
    return parse_searxng_response(searxng_responses_from_documents(docs))


@register(
    "ac_engine_parse",
    """WITH items AS (
         SELECT doc_id AS d,
                'acq' || (doc_id % 5) AS query,
                ((doc_id // 5) % 2 + 1) AS page
         FROM documents WHERE doc_id % 10 != 0)
       SELECT query, page,
              ROW_NUMBER() OVER (PARTITION BY query, page ORDER BY d) - 1
                  AS position,
              CASE WHEN d % 3 = 0 THEN 'images'
                   WHEN d % 3 = 1 THEN 'news' ELSE 'web' END AS category,
              CASE WHEN d % 12 = 0 THEN '' ELSE 'AC Doc ' || d END AS title,
              'https://ac.test/' || d AS url,
              CASE WHEN d % 4 != 0 THEN 'desc-' || d
                   WHEN d % 8 != 0 THEN 'snip-' || d ELSE '' END AS description,
              CASE WHEN d % 6 = 0 THEN 'AC-Engine'
                   ELSE 'src' || (d % 2) END AS source,
              CASE WHEN d % 3 IN (0, 1) THEN 'https://aci.test/' || d
                   END AS image_url,
              CASE WHEN d % 3 = 0 AND d % 5 != 0 THEN d * 2 END AS image_width,
              CASE WHEN d % 3 = 0 AND d % 5 != 0 THEN d * 3 END AS image_height,
              CASE WHEN d % 3 = 0 THEN d % 10 END AS image_position,
              CASE WHEN d % 3 = 1 AND d % 2 = 1
                   THEN '2026-03-' || lpad((d % 28 + 1)::VARCHAR, 2, '0')
                   END AS news_date
       FROM items""",
    "G4: AC-engine JSON parse — passthrough from_json → flat result rows "
    "(typed image dims, defaulted source, description||snippet chain); "
    "oracle recomputes expected rows directly from doc_id",
)
def q_ac_engine_parse(spark, sf_dir):
    from anycrawl_spark.corpus import ac_responses_from_documents
    from anycrawl_spark.serp import parse_ac_response

    docs = load(spark, sf_dir, "documents")
    return parse_ac_response(ac_responses_from_documents(docs))


@register(
    "crawl_e2e",
    """WITH RECURSIVE bfs(doc_id, depth) AS (
         SELECT 0, 0
         UNION ALL
         SELECT child, depth + 1 FROM (
           SELECT unnest([doc_id * 3 + 1, doc_id * 3 + 2, doc_id * 3 + 3])
                      AS child,
                  depth
           FROM bfs)
         WHERE child < (SELECT count(*) FROM documents) AND depth < 6)
       SELECT CAST(doc_id AS BIGINT) AS seq,
              'https://docs.test/d/' || doc_id AS url,
              CAST(depth AS INT) AS depth,
              CAST(200 AS INT) AS status,
              'Doc ' || doc_id AS title
       FROM bfs WHERE doc_id < 40 ORDER BY seq""",
    "§3.2 flagship: full crawl rounds over the documents-derived corpus "
    "(BFS order, seen-filter, extraction). The corpus link graph is a 3-ary "
    "tree over doc_id, so BFS visit order is doc_id order and the oracle "
    "recomputes (seq, depth) with a recursive CTE; title comes from the "
    "extraction kernel but is deterministic per page.",
)
def q_crawl_e2e(spark, sf_dir):
    import tempfile

    from anycrawl_spark.corpus import pages_from_documents
    from anycrawl_spark.crawl import CrawlConfig, CrawlEngine

    docs = load(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    ckpt = tempfile.mkdtemp(prefix="anycrawl_e2e_")
    engine = CrawlEngine(spark, pages, ckpt)
    engine.run(CrawlConfig(
        job_id="e2e", seed_url="https://docs.test/d/0",
        strategy="same-hostname", max_depth=6, limit=40,
        respect_robots=False))
    results = engine.results()
    return results.select(
        "seq", "url", "depth", "status", "title",
    ).orderBy("seq")


def _simhash_df(spark, sf_dir):
    return REGISTRY["simhash16"].fn(spark, sf_dir)


@register(
    "simhash_near_pairs",
    f"""WITH s AS ({{SIMHASH_SQL}})
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""",
    "SimHash near-dup pairs: hamming distance <= 2 over 16-bit fingerprints. "
    "Scale path: pigeonhole band-blocking — split the 16 bits into d+1=3 bands "
    "(6/5/5); any pair within hamming 2 differs in at most 2 bands, so it "
    "agrees exactly on at least one band. Equi-join on (band_idx, band_value) "
    "yields a shuffle hash join (candidate set ~ bucket collisions, not n^2), "
    "then verify true hamming on candidates and dedup pairs found via "
    "multiple bands.",
)
def q_simhash_near_pairs(spark, sf_dir):
    s = _simhash_df(spark, sf_dir)
    # 3 bands over the 16-bit fingerprint: bits [0,6), [6,11), [11,16).
    band_specs = [(0, 0x3F), (6, 0x1F), (11, 0x1F)]
    bands = s.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright("simhash", lo).bitwiseAND(F.lit(mask)).alias("band_val"),
            )
            for i, (lo, mask) in enumerate(band_specs)
        ])).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    # the simhash computation feeds both self-join sides: materialize once
    bands = bands.localCheckpoint()
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where(hamming <= 2)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.cast("long").alias("hamming"))
        .distinct()
    )


# inline the simhash16 oracle SQL as a CTE body for the pair query
REGISTRY["simhash_near_pairs"].oracle = REGISTRY["simhash_near_pairs"].oracle.replace(
    "{SIMHASH_SQL}", REGISTRY["simhash16"].oracle)


_ERR_MSGS = [
    "cloudflare challenge page served",          # 0 → cloudflare_challenge
    "error CF_RAY mismatch",                     # 1 → cloudflare_challenge
    "Received blocked status code: 403",         # 2 → blocked (retryable)
    "request blocked by origin",                 # 3 → blocked (no retry)
    "ERR_TUNNEL_CONNECTION_FAILED",              # 4 → proxy_error (retryable)
    "upstream proxy unreachable",                # 5 → proxy_error (no retry)
    "Navigation Timeout Exceeded",               # 6 → timeout
    "HTTP 500 internal error",                   # 7 → http_error
    "proxy timeout after 403 response",          # 8 → blocked (precedence)
]


def _err_msgs_sql() -> str:
    whens = "\n".join(
        f"WHEN doc_id % 9 = {i} THEN '{m}'" for i, m in enumerate(_ERR_MSGS))
    return f"CASE {whens} END"


@register(
    "failure_classify",
    f"""WITH msgs AS (SELECT doc_id, {_err_msgs_sql()} AS msg FROM documents)
       SELECT doc_id, msg,
              CASE WHEN contains(msg, 'cloudflare') OR contains(msg, 'CF_')
                        OR contains(msg, 'ANYCRAWL_PROXY_ACTION_UPGRADE_TO_STEALTH')
                        THEN 'cloudflare_challenge'
                   WHEN contains(msg, '403') OR contains(msg, 'blocked')
                        THEN 'blocked'
                   WHEN contains(msg, 'ERR_PROXY_CONNECTION_FAILED')
                        OR contains(msg, 'ERR_TUNNEL_CONNECTION_FAILED')
                        OR contains(msg, 'ERR_PROXY_AUTH_FAILED')
                        OR contains(msg, 'ERR_NEED_TO_RETRY')
                        OR contains(msg, 'ERR_SOCKS_CONNECTION_FAILED')
                        OR contains(msg, 'proxy') THEN 'proxy_error'
                   WHEN contains(lower(msg), 'timeout') THEN 'timeout'
                   ELSE 'http_error' END AS failure_reason,
              (contains(msg, 'ANYCRAWL_PROXY_ACTION_UPGRADE_TO_STEALTH')
               OR contains(msg, 'ANYCRAWL_PROXY_UPGRADE_TO_STEALTH')
               OR contains(msg, 'ANYCRAWL_PROXY_ACTION_ROTATE_PROXY')
               OR contains(msg, 'ANYCRAWL_STEALTH_RETRY_WITH_NEW_PROXY')
               OR contains(msg, 'Received blocked status code: 403')
               OR contains(msg, 'ERR_PROXY_CONNECTION_FAILED')
               OR contains(msg, 'ERR_TUNNEL_CONNECTION_FAILED')
               OR contains(msg, 'ERR_PROXY_AUTH_FAILED')
               OR contains(msg, 'ERR_NEED_TO_RETRY')
               OR contains(msg, 'ERR_SOCKS_CONNECTION_FAILED'))
                  AS retry
       FROM msgs""",
    "F11: five-class failure classification + per-class retry decision "
    "(EngineConfigurator.ts:584-708 mapToFailureReason/errorHandler) over a "
    "deterministic message set incl. precedence collisions",
)
def q_failure_classify(spark, sf_dir):
    from anycrawl_spark.errors import failure_reason_col, should_retry_col

    documents = load(spark, sf_dir, "documents")
    msg = F.element_at(
        F.array(*[F.lit(m) for m in _ERR_MSGS]),
        (F.col("doc_id") % 9 + 1).cast("int"))
    return documents.select(
        "doc_id", msg.alias("msg"),
        failure_reason_col(msg).alias("failure_reason"),
        should_retry_col(msg).alias("retry"),
    )


@register(
    "robots_spec_filter",
    r"""WITH cand AS (
         SELECT doc_id, CASE doc_id % 8
             WHEN 0 THEN '/p/' || doc_id
             WHEN 1 THEN '/private/p/' || doc_id
             WHEN 2 THEN '/private/ok/' || doc_id
             WHEN 3 THEN '/doc/' || doc_id || '.pdf'
             WHEN 4 THEN '/blog/p/' || doc_id
             WHEN 5 THEN '/blog/archive/' || doc_id
             WHEN 6 THEN '/doc/' || doc_id || '.pdfx'
             ELSE '/private' END AS path
         FROM documents),
       rules(spec, allow, rx) AS (VALUES
         (8, 0, '^/private'), (11, 1, '^/private/ok'),
         (7, 0, '^/.*\.pdf$'), (5, 1, '^/blog'),
         (14, 0, '^/blog/archive.*')),
       m AS (SELECT c.doc_id, r.spec, r.allow
             FROM cand c JOIN rules r ON regexp_matches(c.path, r.rx)),
       best AS (SELECT doc_id, allow,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY spec DESC, allow DESC) AS rn
                FROM m)
       SELECT c.doc_id, c.path FROM cand c
       LEFT JOIN (SELECT doc_id, allow FROM best WHERE rn = 1) b
              ON c.doc_id = b.doc_id
       WHERE b.allow IS NULL OR b.allow = 1""",
    "Spec-compliant robots matching (RFC 9309 / robots-parser semantics): "
    "'*' wildcards, trailing '$' anchor, Allow overrides, longest-pattern "
    "wins with allow beating disallow on ties — the matcher crawlee's "
    "RobotsTxtFile provides the reference",
)
def q_robots_spec_filter(spark, sf_dir):
    from anycrawl_spark.politeness import compile_robots_rules, robots_allowed_spec

    documents = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    path = (
        F.when(d % 8 == 0, F.concat(F.lit("/p/"), d))
        .when(d % 8 == 1, F.concat(F.lit("/private/p/"), d))
        .when(d % 8 == 2, F.concat(F.lit("/private/ok/"), d))
        .when(d % 8 == 3, F.concat(F.lit("/doc/"), d, F.lit(".pdf")))
        .when(d % 8 == 4, F.concat(F.lit("/blog/p/"), d))
        .when(d % 8 == 5, F.concat(F.lit("/blog/archive/"), d))
        .when(d % 8 == 6, F.concat(F.lit("/doc/"), d, F.lit(".pdfx")))
        .otherwise("/private")
    )
    cand = documents.select(
        "doc_id", F.lit("site.test").alias("host"), path.alias("path"))
    rules = compile_robots_rules(spark, {"site.test": [
        (False, "/private"), (True, "/private/ok"), (False, "/*.pdf$"),
        (True, "/blog"), (False, "/blog/archive*"),
    ]})
    return robots_allowed_spec(cand, rules).select("doc_id", "path")


@register(
    "sitemap_parse",
    """SELECT 'smsite' || (doc_id % 3) || '.test' AS host,
              'https://smsite' || (doc_id % 3) || '.test/sitemap-'
                  || CASE WHEN (doc_id // 3) % 2 = 0 THEN 'a' ELSE 'b' END
                  || '.xml' AS sitemap_url,
              'https://smsite' || (doc_id % 3) || '.test/d/' || doc_id AS loc,
              CASE WHEN doc_id % 2 = 0
                   THEN '2026-0' || (doc_id % 9 + 1) || '-01' END AS lastmod
       FROM documents""",
    "S4 sitemap XML: parse <urlset> page entries + one <sitemapindex> level "
    "(crawlee Sitemap parity) via an Arrow-batched XML UDF; the fixture "
    "bodies are built deterministically from doc_id so the oracle recomputes "
    "the expected (host, sitemap, loc, lastmod) rows directly",
)
def q_sitemap_parse(spark, sf_dir):
    from anycrawl_spark.corpus import sitemap_bodies_from_documents
    from anycrawl_spark.mapper import parse_sitemap_bodies

    docs = load(spark, sf_dir, "documents")
    bodies = sitemap_bodies_from_documents(docs)
    return parse_sitemap_bodies(bodies).select(
        "host", "sitemap_url", "loc", "lastmod")


@register(
    "map_search_rank",
    """WITH links AS (
         SELECT doc_id,
                'https://m.test/' || CASE doc_id % 4
                    WHEN 0 THEN 'docs/api/' || doc_id
                    WHEN 1 THEN 'about/' || doc_id
                    WHEN 2 THEN 'docs/' || doc_id
                    ELSE 'page' || doc_id END AS url,
                CASE doc_id % 4 WHEN 0 THEN 'API Docs' WHEN 1 THEN 'About Us'
                     WHEN 2 THEN 'Documentation' END AS title,
                CASE WHEN doc_id % 2 = 0
                     THEN 'api documentation ' || doc_id END AS description
         FROM documents)
       SELECT doc_id, url, title, description,
              CAST(CASE WHEN contains(lower(url), 'docs') THEN 3 ELSE 0 END
               + CASE WHEN contains(lower(url), 'api') THEN 3 ELSE 0 END
               + CASE WHEN contains(lower(coalesce(title, '')), 'docs')
                      THEN 2 ELSE 0 END
               + CASE WHEN contains(lower(coalesce(title, '')), 'api')
                      THEN 2 ELSE 0 END
               + CASE WHEN contains(lower(coalesce(description, '')), 'docs')
                      THEN 1 ELSE 0 END
               + CASE WHEN contains(lower(coalesce(description, '')), 'api')
                      THEN 1 ELSE 0 END AS BIGINT) AS score
       FROM links""",
    "Map search-relevance ranking (MapService.test.ts:164-235): per-term "
    "3/2/1 scoring over url/title/description, ordered by score",
)
def q_map_search_rank(spark, sf_dir):
    from anycrawl_spark.mapper import rank_by_search

    documents = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://m.test/"),
        F.when(d % 4 == 0, F.concat(F.lit("docs/api/"), d))
        .when(d % 4 == 1, F.concat(F.lit("about/"), d))
        .when(d % 4 == 2, F.concat(F.lit("docs/"), d))
        .otherwise(F.concat(F.lit("page"), d)))
    title = (F.when(d % 4 == 0, "API Docs").when(d % 4 == 1, "About Us")
             .when(d % 4 == 2, "Documentation"))
    desc = F.when(d % 2 == 0, F.concat(F.lit("api documentation "), d))
    links = documents.select("doc_id", url.alias("url"), title.alias("title"),
                             desc.alias("description"))
    return rank_by_search(links, "docs api")


@register(
    "kv_key_base64",
    """SELECT doc_id,
              'crawl-data-job-' ||
                  to_base64(encode('https://docs.test/d/' || doc_id)) AS kv_key
       FROM documents""",
    "§2.7 scalar: crawlee KV-store result key crawl-data-{job}-{base64(url)} "
    "(Base.ts:561)",
)
def q_kv_key_base64(spark, sf_dir):
    from anycrawl_spark.cache import kv_key_col

    documents = load(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://docs.test/d/"), F.col("doc_id"))
    return documents.select("doc_id", kv_key_col("job", url).alias("kv_key"))


@register(
    "strategy_filter",
    """SELECT doc_id, host FROM (
         SELECT doc_id,
                CASE WHEN doc_id % 4 = 0 THEN 'sub' || (doc_id % 3)::VARCHAR || '.site0.test'
                     ELSE 'site' || (doc_id % 5)::VARCHAR || '.test' END AS host
         FROM documents)
       WHERE host = 'site0.test'
          OR (host LIKE '%.site0.test'
              AND host = 'sub' || ((doc_id % 3))::VARCHAR || '.site0.test')""",
    "F3: same-domain strategy = last-2-label base-domain equality "
    "(seed host site0.test; subdomains pass, other domains do not)",
)
def q_strategy_filter(spark, sf_dir):
    from anycrawl_spark.politeness import strategy_cond

    documents = load(spark, sf_dir, "documents")
    host = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("sub"), (F.col("doc_id") % 3).cast("string"), F.lit(".site0.test")),
    ).otherwise(
        F.concat(F.lit("site"), (F.col("doc_id") % 5).cast("string"), F.lit(".test"))
    )
    df = documents.select("doc_id", host.alias("host"))
    origin = F.concat(F.lit("https://"), F.col("host"))
    return df.where(
        strategy_cond(F.col("host"), origin, "https://site0.test/p/0", "same-domain"))


@register(
    "glob_path_filter",
    """SELECT doc_id, url FROM (
         SELECT doc_id,
                'https://docs.test' ||
                CASE WHEN doc_id % 3 = 0 THEN '/blog/p/' || doc_id::VARCHAR
                     WHEN doc_id % 3 = 1 THEN '/p/' || doc_id::VARCHAR
                     ELSE '/p/' || doc_id::VARCHAR || '/extra' END AS url
         FROM documents)
       WHERE regexp_matches(url, '^.*/p/[^/]*$')
         AND NOT regexp_matches(url, '^.*/blog/.*$')""",
    "F4: include/exclude path filters — minimatch globs **/p/* (include) and "
    "**/blog/** (exclude) compiled to the same regexes in both engines",
)
def q_glob_path_filter(spark, sf_dir):
    from anycrawl_spark.politeness import path_filter_cond

    documents = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://docs.test"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("/blog/p/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("/p/"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("/p/"), F.col("doc_id").cast("string"), F.lit("/extra"))),
    )
    df = documents.select("doc_id", url.alias("url"))
    return df.where(path_filter_cond(F.col("url"), ["**/p/*"], ["**/blog/**"]))


@register(
    "webhook_match",
    """WITH subs AS (
         SELECT doc_id AS sub_id,
                'https://hooks.test/' || doc_id::VARCHAR AS webhook_url,
                doc_id % 5 != 0 AS is_active,
                CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN ['crawl.completed']
                  WHEN 1 THEN ['crawl.started', 'crawl.completed']
                  WHEN 2 THEN ['scrape.completed']
                  ELSE ['crawl.completed', 'crawl.failed', 'search.completed']
                END AS event_types,
                CASE WHEN doc_id % 3 = 0 THEN 'all' ELSE 'specific' END AS scope,
                CASE WHEN doc_id % 7 = 0 THEN NULL
                     ELSE ['job-' || (doc_id % 10)::VARCHAR] END
                  AS specific_task_ids,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN NULL
                     WHEN 1 THEN CAST(0 AS INT)
                     ELSE CAST(5 AS INT) END AS max_retries
         FROM documents WHERE doc_id < 32),
       events AS (
         SELECT doc_id AS event_id,
                (['crawl.started', 'crawl.completed', 'crawl.failed',
                  'scrape.completed', 'search.completed'])
                [CAST(doc_id % 5 AS INT) + 1] AS event_type,
                'job-' || (doc_id % 25)::VARCHAR AS event_source_id
         FROM documents WHERE doc_id >= 100 AND doc_id < 300)
       SELECT e.event_id, s.sub_id, e.event_type, e.event_source_id,
              s.webhook_url AS request_url,
              'pending' AS status,
              CAST(1 AS INT) AS attempt_number,
              CAST(CASE WHEN s.max_retries IS NULL OR s.max_retries = 0
                        THEN 3 ELSE s.max_retries END AS INT) AS max_attempts
       FROM events e JOIN subs s
         ON s.is_active
        AND list_contains(s.event_types, e.event_type)
        AND (s.scope = 'all'
             OR s.specific_task_ids IS NULL
             OR list_contains(s.specific_task_ids, e.event_source_id))""",
    "S10 webhook pipeline (Webhook.ts:88-167): active-subscription match "
    "(event-type containment + all/specific scope) -> one pending delivery "
    "record per (event, subscription); broadcast subscription dimension, no "
    "event-stream shuffle. HMAC signing (generateSignature parity) is "
    "pytest-verified (no SQL HMAC); HTTP POST/retry worker = live seam.",
)
def q_webhook_match(spark, sf_dir):
    from anycrawl_spark.webhooks import match_deliveries

    documents = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    subs = documents.where(d < 32).select(
        d.alias("sub_id"),
        F.concat(F.lit("https://hooks.test/"), d.cast("string")).alias("webhook_url"),
        F.lit("s3cr3t").alias("webhook_secret"),
        (d % 5 != 0).alias("is_active"),
        F.when(d % 4 == 0, F.array(F.lit("crawl.completed")))
        .when(d % 4 == 1, F.array(F.lit("crawl.started"), F.lit("crawl.completed")))
        .when(d % 4 == 2, F.array(F.lit("scrape.completed")))
        .otherwise(F.array(F.lit("crawl.completed"), F.lit("crawl.failed"),
                           F.lit("search.completed"))).alias("event_types"),
        F.when(d % 3 == 0, "all").otherwise("specific").alias("scope"),
        # doc_id%7==0 subs carry NULL specific_task_ids: scope='specific'
        # with no task list must still deliver (Webhook.ts:110-116)
        F.when(d % 7 == 0, F.lit(None).cast("array<string>"))
        .otherwise(F.array(F.concat(F.lit("job-"), (d % 10).cast("string"))))
        .alias("specific_task_ids"),
        # NULL / 0 / 5 — both NULL and 0 must map to max_attempts=3
        F.when(d % 3 == 0, F.lit(None)).when(d % 3 == 1, F.lit(0))
        .otherwise(F.lit(5)).cast("int").alias("max_retries"),
    )
    etype = F.element_at(
        F.array(F.lit("crawl.started"), F.lit("crawl.completed"),
                F.lit("crawl.failed"), F.lit("scrape.completed"),
                F.lit("search.completed")), (d % 5).cast("int") + 1)
    events = documents.where((d >= 100) & (d < 300)).select(
        d.alias("event_id"),
        etype.alias("event_type"),
        F.split(etype, "\\.")[0].alias("event_source"),
        F.concat(F.lit("job-"), (d % 25).cast("string")).alias("event_source_id"),
        F.to_json(F.struct(d.alias("id"))).alias("payload"),
    )
    return match_deliveries(events, subs).select(
        "event_id", "sub_id", "event_type", "event_source_id", "request_url",
        "status", "attempt_number", "max_attempts")


@register(
    "scheduled_runs",
    """WITH tasks AS (
         SELECT 'task-' || doc_id::VARCHAR AS task_uuid,
                CAST(doc_id % 8 AS INT) AS cat,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN 0 WHEN 1 THEN 8 ELSE -5 END AS tz_hours
         FROM documents WHERE doc_id < 24 AND doc_id % 11 != 0),
       mins AS (
         SELECT unnest(generate_series(TIMESTAMP '2026-03-01 00:00:00',
                                       TIMESTAMP '2026-03-07 23:59:00',
                                       INTERVAL 1 MINUTE)) AS ts),
       grid AS (
         SELECT t.task_uuid, t.cat, m.ts,
                m.ts + to_hours(t.tz_hours) AS lt
         FROM tasks t, mins m)
       SELECT task_uuid,
              strftime(ts, '%Y-%m-%dT%H:%M:%S.000Z') AS scheduled_for,
              task_uuid || '-' || strftime(ts, '%Y-%m-%dT%H:%M:%S.000Z')
                  AS idempotency_key
       FROM grid
       WHERE CASE cat
         WHEN 0 THEN minute(lt) % 15 = 0
         WHEN 1 THEN minute(lt) = 0
         WHEN 2 THEN minute(lt) = 30 AND hour(lt) = 2
         WHEN 3 THEN minute(lt) = 0 AND hour(lt) = 9
                     AND dayofweek(lt) BETWEEN 1 AND 5
         WHEN 4 THEN minute(lt) = 5 AND hour(lt) = 0 AND dayofmonth(lt) = 1
         WHEN 5 THEN minute(lt) = 0 AND hour(lt) = 12 AND dayofweek(lt) = 0
         WHEN 6 THEN minute(lt) % 20 = 0 AND hour(lt) BETWEEN 6 AND 18
         ELSE minute(lt) = 0 AND hour(lt) = 0
              AND (dayofmonth(lt) = 1 OR dayofweek(lt) = 1)
       END""",
    "Scheduler recurrence (Scheduler.ts:18,222,880 cron-parser core): "
    "5-field cron x timezone x window -> scheduled-run slots with the "
    "reference idempotency key {uuid}-{ISO} (Scheduler.ts:44-48). The "
    "oracle restates each fixture cron as an explicit field predicate over "
    "a DuckDB minute series (fixed-offset timezones; IANA-DST edges are "
    "pytest-covered). Cat 3 exercises dow names (MON-FRI), cat 7 the "
    "Vixie dom-OR-dow rule.",
)
def q_scheduled_runs(spark, sf_dir):
    from anycrawl_spark.scheduler import scheduled_run_slots

    documents = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    crons = F.element_at(F.array(
        F.lit("*/15 * * * *"), F.lit("0 * * * *"), F.lit("30 2 * * *"),
        F.lit("0 9 * * MON-FRI"), F.lit("5 0 1 * *"), F.lit("0 12 * * 0"),
        F.lit("*/20 6-18 * * *"), F.lit("0 0 1 * 1")), (d % 8).cast("int") + 1)
    tz = (F.when(d % 3 == 0, "UTC").when(d % 3 == 1, "+08:00")
          .otherwise("-05:00"))
    tasks = documents.where(d < 24).select(
        F.concat(F.lit("task-"), d.cast("string")).alias("task_uuid"),
        crons.alias("cron_expression"), tz.alias("timezone"),
        (d % 11 == 0).alias("is_paused"))
    return scheduled_run_slots(tasks, "2026-03-01T00:00:00",
                               "2026-03-08T00:00:00")


@register(
    "template_domain_filter",
    """SELECT doc_id,
              'https://' || ['docs.test','shop.test','blog.test']
                  [CAST(doc_id % 3 AS INT) + 1]
                  || ['/products','/products/','/a?x=1','/']
                     [CAST(doc_id % 4 AS INT) + 1] AS url,
              (['docs.test','shop.test','blog.test']
                   [CAST(doc_id % 3 AS INT) + 1] = 'docs.test')
              OR ('https://' || ['docs.test','shop.test','blog.test']
                      [CAST(doc_id % 3 AS INT) + 1]
                      || ['/products','/products/','/a?x=1','/']
                         [CAST(doc_id % 4 AS INT) + 1]
                  = 'https://shop.test/products') AS allowed
       FROM documents""",
    "Template domain restriction (TemplateValidator.ts:108-112 + "
    "template-client domainValidator.validateDomain, exact mode): a URL "
    "passes when its hostname equals a pattern or its JS-URL-normalized "
    "form equals a normalized URL pattern (path kept verbatim — "
    "'/products/' does not match '/products'). Glob mode's candidate-set "
    "matching is pytest-covered (tests/test_template.py).",
)
def q_template_domain_filter(spark, sf_dir):
    from anycrawl_spark.template import make_template_allowed_udf

    documents = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.element_at(F.array(F.lit("docs.test"), F.lit("shop.test"),
                                F.lit("blog.test")), (d % 3).cast("int") + 1)
    path = F.element_at(F.array(F.lit("/products"), F.lit("/products/"),
                                F.lit("/a?x=1"), F.lit("/")),
                        (d % 4).cast("int") + 1)
    url = F.concat(F.lit("https://"), host, path)
    udf = make_template_allowed_udf(
        {"type": "exact", "patterns": ["docs.test",
                                       "https://shop.test/products"]})
    return documents.select("doc_id", url.alias("url"),
                            udf(url).alias("allowed"))


_SWEEP_NOW = "2024-01-15 12:00:00"


@register(
    "stale_executions",
    f"""WITH ex AS (
         SELECT 'ex-' || event_id::VARCHAR AS execution_uuid,
                'task-' || (event_id % 40)::VARCHAR AS scheduled_task_uuid,
                CASE WHEN event_id % 4 = 0 THEN NULL
                     ELSE 'job-' || event_id::VARCHAR END AS job_uuid,
                CASE WHEN event_id % 5 < 2 THEN 'pending'
                     ELSE 'running' END AS status,
                ts AS created_at,
                CASE WHEN event_id % 3 = 0 THEN NULL
                     ELSE ts + to_minutes(event_id % 50) END AS started_at
         FROM events),
       tasks AS (
         SELECT 'task-' || event_id::VARCHAR AS task_uuid,
                CASE WHEN event_id % 11 = 0 THEN NULL
                     WHEN event_id % 13 = 0 THEN ''
                     ELSE ['scrape','search','map','crawl','Template']
                          [CAST(event_id % 5 AS INT) + 1] END AS task_type
         FROM events WHERE event_id < 40),
       jobs AS (
         SELECT 'job-' || event_id::VARCHAR AS job_uuid,
                ['scrape','crawl','search','map']
                    [CAST(event_id % 4 AS INT) + 1] AS job_type,
                CASE WHEN event_id % 7 = 0 THEN NULL
                     ELSE ts + to_minutes(event_id % 200) END AS updated_at
         FROM events WHERE event_id % 4 <> 0),
       now_t AS (SELECT TIMESTAMP '{_SWEEP_NOW}' AS now),
       typed AS (
         SELECT e.*, j.job_type, j.updated_at,
                CASE WHEN lower(t.task_type) IS NULL
                          OR lower(t.task_type) = '' THEN 'scrape'
                     ELSE lower(t.task_type) END AS stype,
                CASE WHEN lower(j.job_type) IS NULL
                          OR lower(j.job_type) = '' THEN 'scrape'
                     ELSE lower(j.job_type) END AS jtype
         FROM ex e
         JOIN tasks t ON e.scheduled_task_uuid = t.task_uuid
         LEFT JOIN jobs j ON e.job_uuid = j.job_uuid
         WHERE e.status = 'running' AND e.started_at IS NOT NULL),
       running AS (
         SELECT execution_uuid,
                CASE WHEN stype = 'template' THEN jtype ELSE stype END
                    AS atype,
                started_at, job_uuid, updated_at
         FROM typed)
     SELECT execution_uuid, 'STALE_PENDING_TIMEOUT' AS error_code,
            'pending_timeout' AS reason, CAST(5 AS INT) AS threshold_minutes,
            CAST(NULL AS VARCHAR) AS actual_task_type
     FROM ex, now_t WHERE status = 'pending' AND started_at IS NULL
       AND created_at < now - INTERVAL 5 MINUTE
     UNION ALL
     SELECT execution_uuid, 'STALE_PENDING_STARTED',
            'pending_started_timeout', CAST(5 AS INT), NULL
     FROM ex, now_t WHERE status = 'pending' AND started_at IS NOT NULL
       AND started_at < now - INTERVAL 5 MINUTE
     UNION ALL
     SELECT execution_uuid, 'RUNNING_NO_START_TIMEOUT', 'running_no_start',
            CAST(10 AS INT), NULL
     FROM ex, now_t WHERE status = 'running' AND started_at IS NULL
       AND created_at < now - INTERVAL 10 MINUTE
     UNION ALL
     SELECT execution_uuid, 'EXECUTION_TIMEOUT',
            CASE WHEN atype = 'crawl'
                      AND job_uuid IS NOT NULL AND updated_at IS NOT NULL
                 THEN CASE WHEN updated_at < now - INTERVAL 60 MINUTE
                           THEN 'crawl_inactivity' END
                 WHEN atype = 'crawl'
                 THEN CASE WHEN started_at < now - INTERVAL 60 MINUTE
                           THEN 'crawl_no_activity' END
                 WHEN atype = 'search'
                 THEN CASE WHEN started_at < now - INTERVAL 60 MINUTE
                           THEN 'search_timeout' END
                 WHEN atype = 'map'
                 THEN CASE WHEN started_at < now - INTERVAL 30 MINUTE
                           THEN 'map_timeout' END
                 ELSE CASE WHEN started_at < now - INTERVAL 30 MINUTE
                           THEN 'scrape_timeout' END
            END,
            CAST(CASE WHEN atype IN ('crawl', 'search') THEN 60
                      ELSE 30 END AS INT),
            atype
     FROM running, now_t
     WHERE CASE WHEN atype = 'crawl'
                     AND job_uuid IS NOT NULL AND updated_at IS NOT NULL
                THEN updated_at < now - INTERVAL 60 MINUTE
                WHEN atype IN ('crawl', 'search')
                THEN started_at < now - INTERVAL 60 MINUTE
                ELSE started_at < now - INTERVAL 30 MINUTE END""",
    "Scheduler crash-recovery sweep (Scheduler.ts:1620-1906 "
    "cleanupStaleExecutions/cleanupStaleRunningExecutions): which "
    "executions auto-fail, with exact error codes, reasons, and "
    "per-task-type timeout thresholds (template resolves to the job's "
    "actual type; crawl uses job-activity inactivity). Fixture "
    "executions/tasks/jobs synthesized from events arithmetic; the sweep "
    "instant is a parameter, making the sweep replayable.",
)
def q_stale_executions(spark, sf_dir):
    from anycrawl_spark.scheduler import stale_executions

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")
    executions = ev.select(
        F.concat(F.lit("ex-"), e.cast("string")).alias("execution_uuid"),
        F.concat(F.lit("task-"), (e % 40).cast("string"))
        .alias("scheduled_task_uuid"),
        F.when(e % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("job-"), e.cast("string")))
        .alias("job_uuid"),
        F.when(e % 5 < 2, F.lit("pending")).otherwise(F.lit("running"))
        .alias("status"),
        F.col("ts").alias("created_at"),
        F.when(e % 3 == 0, F.lit(None).cast("timestamp"))
        .otherwise(F.col("ts")
                   + F.expr("make_interval(0,0,0,0,0, int(event_id % 50), 0)"))
        .alias("started_at"))
    tasks = ev.where(e < 40).select(
        F.concat(F.lit("task-"), e.cast("string")).alias("task_uuid"),
        F.when(e % 11 == 0, F.lit(None).cast("string"))
        .when(e % 13 == 0, F.lit(""))
        .otherwise(F.element_at(
            F.array(F.lit("scrape"), F.lit("search"), F.lit("map"),
                    F.lit("crawl"), F.lit("Template")),
            (e % 5).cast("int") + 1)).alias("task_type"))
    jobs = ev.where(e % 4 != 0).select(
        F.concat(F.lit("job-"), e.cast("string")).alias("job_uuid"),
        F.element_at(F.array(F.lit("scrape"), F.lit("crawl"),
                             F.lit("search"), F.lit("map")),
                     (e % 4).cast("int") + 1).alias("job_type"),
        F.when(e % 7 == 0, F.lit(None).cast("timestamp"))
        .otherwise(F.col("ts")
                   + F.expr("make_interval(0,0,0,0,0, int(event_id % 200), 0)"))
        .alias("updated_at"))
    return stale_executions(executions, tasks, jobs, _SWEEP_NOW)


@register(
    "subscription_excess_tasks",
    """WITH tasks AS (
         SELECT 'task-' || event_id::VARCHAR AS task_uuid,
                'name-' || event_id::VARCHAR AS name,
                'u' || (event_id % 12)::VARCHAR AS user_id,
                'key-' || (event_id % 20)::VARCHAR AS api_key,
                event_id % 7 <> 0 AS is_active,
                event_id % 9 = 0 AS is_paused,
                ts AS created_at
         FROM events WHERE event_id < 200),
       keys AS (
         SELECT 'key-' || event_id::VARCHAR AS key_uuid,
                CASE CAST(event_id % 4 AS INT)
                  WHEN 0 THEN NULL WHEN 1 THEN 'free'
                  WHEN 2 THEN 'paid' ELSE 'enterprise' END
                    AS subscription_tier
         FROM events WHERE event_id < 20),
       active AS (SELECT * FROM tasks WHERE is_active AND NOT is_paused),
       tiered AS (
         SELECT a.*, CASE WHEN k.subscription_tier IS NULL
                               OR k.subscription_tier = '' THEN 'free'
                          ELSE k.subscription_tier END AS tier
         FROM active a LEFT JOIN keys k ON a.api_key = k.key_uuid),
       over_u AS (
         SELECT user_id,
                CAST(min(CASE WHEN tier = 'free' THEN 1 ELSE 2 END) AS INT)
                    AS user_limit
         FROM (SELECT user_id, api_key, tier, count(*) AS n
               FROM tiered GROUP BY ALL)
         WHERE n > CASE WHEN tier = 'free' THEN 1 ELSE 2 END
         GROUP BY user_id),
       ranked AS (
         SELECT a.*, row_number() OVER (
             PARTITION BY user_id ORDER BY created_at, task_uuid) AS rnk
         FROM active a)
     SELECT r.task_uuid, r.name, r.user_id,
            'Auto-paused: Subscription limit exceeded (limit: '
                || user_limit::VARCHAR || ')' AS pause_reason
     FROM ranked r JOIN over_u o USING (user_id) WHERE rnk > user_limit""",
    "Subscription-limit enforcement (Scheduler.ts:1911-1976 + "
    "libs/scheduled-tasks.ts): per user keep the oldest `limit` "
    "active+unpaused tasks (tier free -> 1 else 2 in this fixture; "
    "NULL/'' tier -> free via JS-||, no lowercasing) and auto-pause the "
    "rest with buildAutoPauseReason. Keyed top-k window — the same shape "
    "as perhost_topk, applied to the scheduler's quota sweep.",
)
def q_subscription_excess_tasks(spark, sf_dir):
    from anycrawl_spark.scheduler import subscription_excess_tasks

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")
    tasks = ev.where(e < 200).select(
        F.concat(F.lit("task-"), e.cast("string")).alias("task_uuid"),
        F.concat(F.lit("name-"), e.cast("string")).alias("name"),
        F.concat(F.lit("u"), (e % 12).cast("string")).alias("user_id"),
        F.concat(F.lit("key-"), (e % 20).cast("string")).alias("api_key"),
        (e % 7 != 0).alias("is_active"),
        (e % 9 == 0).alias("is_paused"),
        F.col("ts").alias("created_at"))
    api_keys = ev.where(e < 20).select(
        F.concat(F.lit("key-"), e.cast("string")).alias("key_uuid"),
        F.when(e % 4 == 0, F.lit(None).cast("string"))
        .when(e % 4 == 1, F.lit("free"))
        .when(e % 4 == 2, F.lit("paid"))
        .otherwise(F.lit("enterprise")).alias("subscription_tier"))
    return subscription_excess_tasks(tasks, api_keys,
                                     limit_free=1, limit_paid=2)


@register(
    "billing_charge_details",
    """WITH s AS (
         SELECT 'job-' || doc_id::VARCHAR AS job_id,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN NULL WHEN 1 THEN 0
                     WHEN 2 THEN 3 WHEN 3 THEN -2 ELSE 1 END AS tpl,
                CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN NULL
                     WHEN 1 THEN 'base' WHEN 2 THEN 'stealth'
                     WHEN 3 THEN 'auto' WHEN 4 THEN ''
                     ELSE 'http://proxy:8080' END AS proxy,
                doc_id % 2 = 0 AS has_json,
                CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN ['markdown','json'] WHEN 1 THEN ['markdown']
                     WHEN 2 THEN ['json','summary'] ELSE ['summary'] END
                    AS formats,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN NULL
                     WHEN 1 THEN 'html' ELSE 'markdown' END AS src
         FROM documents WHERE doc_id < 250),
       sc AS (
         SELECT job_id, greatest(coalesce(tpl, 0), 0) AS tpl_c, 1 AS base_c,
                CASE WHEN proxy = 'stealth' THEN 2 ELSE 0 END AS proxy_c,
                CASE WHEN has_json AND list_contains(formats, 'json')
                     THEN CASE WHEN coalesce(src, 'markdown') = 'html'
                               THEN 10 ELSE 5 END ELSE 0 END AS json_c,
                CASE WHEN list_contains(formats, 'summary') THEN 3 ELSE 0
                     END AS sum_c
         FROM s),
       q AS (
         SELECT 'job-' || doc_id::VARCHAR AS job_id,
                CAST(doc_id % 3 AS INT) AS tpl,
                CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN NULL WHEN 1 THEN 0
                     WHEN 2 THEN 2 ELSE 5 END AS pages,
                CAST(doc_id % 7 AS INT) AS n,
                doc_id % 3 <> 0 AS has_so,
                CAST(doc_id % 4 AS INT) AS follow,
                CASE WHEN doc_id % 2 = 0 THEN 'stealth' ELSE 'base' END
                    AS sproxy,
                doc_id % 5 < 3 AS shas_json,
                CASE WHEN doc_id % 2 = 0 THEN ['json']
                     ELSE ['markdown','summary'] END AS sformats,
                CASE WHEN doc_id % 5 = 0 THEN 'html' ELSE NULL END AS ssrc
         FROM documents WHERE doc_id >= 250),
       qc AS (
         SELECT job_id, tpl AS tpl_c, coalesce(pages, 1) AS pages_c,
                CASE WHEN has_so AND n > 0 THEN n * (1
                     + CASE WHEN sproxy = 'stealth' THEN 2 ELSE 0 END
                     + CASE WHEN shas_json AND list_contains(sformats, 'json')
                            THEN CASE WHEN coalesce(ssrc, 'markdown')
                                      = 'html' THEN 10 ELSE 5 END
                            ELSE 0 END
                     + CASE WHEN list_contains(sformats, 'summary') THEN 3
                            ELSE 0 END)
                     ELSE 0 END AS scrape_c,
                CASE WHEN has_so AND n > 0 AND follow > 0 THEN n * follow
                     ELSE 0 END AS follow_c
         FROM q),
       scrape_items AS (
         SELECT job_id, 'scrape_v1' AS calculator, item_code, item_credits,
                tpl_c + base_c + proxy_c + json_c + sum_c AS job_total
         FROM sc, LATERAL (VALUES ('template_per_call', tpl_c),
                                  ('base_scrape', base_c),
                                  ('proxy_stealth', proxy_c),
                                  ('json_llm_extract', json_c),
                                  ('summary_generation', sum_c))
                      AS v(item_code, item_credits)
         WHERE item_credits > 0),
       search_items AS (
         SELECT job_id, 'search_v1' AS calculator, item_code, item_credits,
                tpl_c + pages_c + scrape_c + follow_c AS job_total
         FROM qc, LATERAL (VALUES ('template_per_call', tpl_c),
                                  ('search_pages', pages_c),
                                  ('search_result_scrape', scrape_c),
                                  ('search_result_scrape_template', follow_c))
                      AS v(item_code, item_credits)
         WHERE item_credits > 0)
     SELECT job_id, calculator, item_code,
            CAST(item_credits AS BIGINT) AS item_credits,
            CAST(job_total AS BIGINT) AS job_total
     FROM (SELECT * FROM scrape_items UNION ALL SELECT * FROM search_items)""",
    "Itemized billing charge details (credits.ts CreditCalculator:60-310 "
    "buildScrapeChargeDetails + buildSearchChargeDetails via "
    "normalizeChargeItem): template/base/proxy-stealth/json(x2 on "
    "html-source)/summary items with non-positive items dropped, search's "
    "completed-scrapes x per-scrape-credit product, and per-job totals — "
    "all in one JVM array build+filter+aggregate (explode is the only row "
    "expansion; no shuffle). Fixture options synthesized from doc_id "
    "arithmetic; negative/NULL template credits exercise the "
    "normalizeChargeItem drop rule; proxy modes cover "
    "base/stealth/auto/custom/NULL/''.",
)
def q_billing_charge_details(spark, sf_dir):
    from anycrawl_spark.billing import charge_details

    documents = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    scrape_opts = documents.where(d < 250).select(
        F.concat(F.lit("job-"), d.cast("string")).alias("job_id"),
        F.when(d % 5 == 0, F.lit(None).cast("int"))
        .when(d % 5 == 1, F.lit(0)).when(d % 5 == 2, F.lit(3))
        .when(d % 5 == 3, F.lit(-2)).otherwise(F.lit(1))
        .alias("template_credits"),
        F.when(d % 6 == 0, F.lit(None).cast("string"))
        .when(d % 6 == 1, F.lit("base")).when(d % 6 == 2, F.lit("stealth"))
        .when(d % 6 == 3, F.lit("auto")).when(d % 6 == 4, F.lit(""))
        .otherwise(F.lit("http://proxy:8080")).alias("proxy"),
        (d % 2 == 0).alias("has_json"),
        F.when(d % 4 == 0, F.array(F.lit("markdown"), F.lit("json")))
        .when(d % 4 == 1, F.array(F.lit("markdown")))
        .when(d % 4 == 2, F.array(F.lit("json"), F.lit("summary")))
        .otherwise(F.array(F.lit("summary"))).alias("formats"),
        F.when(d % 3 == 0, F.lit(None).cast("string"))
        .when(d % 3 == 1, F.lit("html")).otherwise(F.lit("markdown"))
        .alias("extract_source"))
    search_opts = documents.where(d >= 250).select(
        F.concat(F.lit("job-"), d.cast("string")).alias("job_id"),
        (d % 3).cast("int").alias("template_credits"),
        F.when(d % 4 == 0, F.lit(None).cast("int"))
        .when(d % 4 == 1, F.lit(0)).when(d % 4 == 2, F.lit(2))
        .otherwise(F.lit(5)).alias("pages"),
        (d % 7).cast("int").alias("completed_scrape_count"),
        (d % 3 != 0).alias("has_scrape_options"),
        (d % 4).cast("int").alias("follow_template_credits"),
        F.when(d % 2 == 0, F.lit("stealth")).otherwise(F.lit("base"))
        .alias("scrape_proxy"),
        (d % 5 < 3).alias("scrape_has_json"),
        F.when(d % 2 == 0, F.array(F.lit("json")))
        .otherwise(F.array(F.lit("markdown"), F.lit("summary")))
        .alias("scrape_formats"),
        F.when(d % 5 == 0, F.lit("html")).otherwise(F.lit(None).cast("string"))
        .alias("scrape_extract_source"))
    kw = dict(stealth_credits=2, json_credits=5, summary_credits=3)
    return charge_details(scrape_opts, "scrape_v1", **kw).unionByName(
        charge_details(search_opts, "search_v1", **kw))


@register(
    "webhook_retry_schedule",
    """WITH d AS (
         SELECT doc_id,
                CAST(doc_id % 3 + 2 AS INT) AS max_attempts,
                CAST(CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 3
                     ELSE 5 END AS INT) AS mult,
                CAST(doc_id % (doc_id % 3 + 2) + 1 AS INT) AS n_attempts,
                doc_id % 5 = 0 AS delivered
         FROM documents WHERE doc_id < 400)
       SELECT doc_id AS delivery_id,
              CASE WHEN delivered THEN 'delivered'
                   WHEN n_attempts < max_attempts THEN 'retrying'
                   ELSE 'failed' END AS status,
              CAST(CASE WHEN delivered THEN n_attempts
                        WHEN n_attempts < max_attempts THEN n_attempts + 1
                        ELSE n_attempts END AS INT) AS attempt_number,
              CASE WHEN NOT delivered AND n_attempts < max_attempts
                   THEN 1700000000 + (doc_id * 7 + n_attempts * 13) * 60
                        + CAST(pow(mult, n_attempts) AS BIGINT) * 60
              END AS next_retry_epoch
       FROM d""",
    "Webhook delivery retry ladder (Webhook.ts:284-345): fold an "
    "attempt-outcome log to final delivery state — delivered on success, "
    "retrying with next_retry_at = attempted_at + pow(backoff||2, "
    "failed_attempt) minutes while attempts remain, terminal failed at "
    "max_attempts. The oracle computes each delivery's final state "
    "analytically from the same deterministic log parameters; the HTTP "
    "POST worker producing real outcomes is the live seam.",
)
def q_webhook_retry_schedule(spark, sf_dir):
    from anycrawl_spark.webhooks import retry_schedule

    documents = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    max_att = (d % 3 + 2).cast("int")
    mult = (F.when(d % 4 == 0, F.lit(None)).when(d % 4 == 1, 2)
            .when(d % 4 == 2, 3).otherwise(5)).cast("int")
    n_att = (d % max_att + 1).cast("int")
    deliveries = documents.where(d < 400).select(
        d.alias("delivery_id"), max_att.alias("max_attempts"),
        mult.alias("retry_backoff_multiplier"), n_att.alias("n_attempts"),
        (d % 5 == 0).alias("delivered"))
    attempts = deliveries.select(
        "*", F.explode(F.sequence(F.lit(1), F.col("n_attempts")))
        .alias("attempt_number"))
    log = attempts.select(
        "delivery_id",
        F.col("attempt_number").cast("int").alias("attempt_number"),
        F.timestamp_seconds(
            F.lit(1700000000) + (F.col("delivery_id") * 7
                                 + F.col("attempt_number") * 13) * 60)
        .alias("attempted_at"),
        (F.col("delivered")
         & (F.col("attempt_number") == F.col("n_attempts"))).alias("success"),
        "max_attempts", "retry_backoff_multiplier")
    return retry_schedule(log)


@register(
    "credit_rollup",
    """WITH raw AS (
         SELECT 'job-' || (doc_id % 8)::VARCHAR AS job_id,
                CAST(doc_id // 8 + 1 AS INT) AS done,
                doc_id % 7 != 0 AS was_success,
                CASE WHEN doc_id % 2 = 0 THEN CAST(40 AS INT) END AS job_limit,
                CASE WHEN doc_id % 5 = 0 THEN 'stealth' ELSE 'base' END AS proxy,
                doc_id % 4 = 0 AS has_json,
                CASE WHEN doc_id % 8 = 0 THEN 'html' END AS extract_source,
                CASE WHEN doc_id % 4 = 0 AND doc_id % 6 = 0
                       THEN ['markdown', 'json', 'summary']
                     WHEN doc_id % 4 = 0 THEN ['markdown', 'json']
                     WHEN doc_id % 6 = 0 THEN ['markdown', 'summary']
                     ELSE ['markdown'] END AS formats
         FROM documents WHERE doc_id < 320),
       deduped AS (SELECT DISTINCT * FROM raw),
       gated AS (
         SELECT *,
                was_success AND (job_limit IS NULL OR done <= job_limit)
                  AND done > 1 AS charged,
                1 + CASE WHEN proxy = 'stealth' THEN 2 ELSE 0 END
                  + CASE WHEN has_json AND list_contains(formats, 'json')
                         THEN CASE WHEN extract_source = 'html'
                                   THEN 2 ELSE 1 END ELSE 0 END
                  + CASE WHEN list_contains(formats, 'summary')
                         THEN 1 ELSE 0 END AS cost
         FROM deduped)
       SELECT job_id,
              CAST(SUM(CASE WHEN charged THEN 1 ELSE 0 END) AS BIGINT)
                  AS pages_charged,
              CAST(SUM(CASE WHEN charged THEN cost ELSE 0 END) AS BIGINT)
                  AS credits_used,
              COUNT(*) AS pages_seen,
              CAST(SUM(CASE WHEN charged THEN 0 ELSE 1 END) AS BIGINT)
                  AS pages_skipped
       FROM gated GROUP BY job_id""",
    "A10 credit rollup (credits.ts buildCrawlPageChargeDetails:191-204 + "
    "Progress.ts:182-309 deduction gates): per-page cost = 1 + stealth(2) "
    "+ json(1, x2 for html source) + summary(1), charged only for "
    "successful pages within the job limit and past page 1, deduped by "
    "the crawl:page-success:{job}:{done} idempotency key (duplicated "
    "doc_id%10 events must charge once).",
)
def q_credit_rollup(spark, sf_dir):
    from anycrawl_spark.billing import credit_rollup

    documents = load(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def page_events(rows):
        return rows.select(
            F.concat(F.lit("job-"), (d % 8).cast("string")).alias("job_id"),
            (F.floor(d / 8) + 1).cast("int").alias("done"),
            (d % 7 != 0).alias("was_success"),
            F.when(d % 2 == 0, 40).cast("int").alias("job_limit"),
            F.when(d % 5 == 0, "stealth").otherwise("base").alias("proxy"),
            (d % 4 == 0).alias("has_json"),
            F.when(d % 8 == 0, "html").cast("string").alias("extract_source"),
            F.when((d % 4 == 0) & (d % 6 == 0),
                   F.array(F.lit("markdown"), F.lit("json"),
                           F.lit("summary")))
            .when(d % 4 == 0, F.array(F.lit("markdown"), F.lit("json")))
            .when(d % 6 == 0, F.array(F.lit("markdown"), F.lit("summary")))
            .otherwise(F.array(F.lit("markdown"))).alias("formats"))

    # replayed page events: doc_id%10 rows appear twice in the log; the
    # idempotency-key dedup must charge them once
    replayed = page_events(documents.where(d < 320)).unionByName(
        page_events(documents.where((d < 320) & (d % 10 == 0))))
    return credit_rollup(replayed, json_credits=1, summary_credits=1)


@register(
    "extraction_markdown_parity",
    """SELECT COUNT(*) AS pages, 0 AS mismatches FROM documents""",
    "T10-T13 per-row invariant: pipeline markdown byte-equals an "
    "ANALYTIC golden built by JVM string templating from the document "
    "fields (title/h1/paragraph/link-list shapes of the corpus pages) — "
    "independent of the Python markdown kernel, so a turndown-parity "
    "regression flips the mismatch count. Oracle states the expectation: "
    "zero mismatches over all pages.",
)
def q_extraction_markdown_parity(spark, sf_dir):
    from anycrawl_spark.corpus import pages_from_documents
    from anycrawl_spark.udfs import make_extract_udf

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    d = F.col("doc_id")
    children = F.filter(
        F.array(d * 3 + 1, d * 3 + 2, d * 3 + 3), lambda c: c < F.lit(n))
    links_md = F.concat_ws(
        "\n", F.transform(children, lambda c: F.concat(
            F.lit("-   [doc "), c.cast("string"),
            F.lit("](https://docs.test/d/"), c.cast("string"), F.lit(")"))))
    golden = F.concat(
        F.lit("Doc "), d.cast("string"), F.lit("\n\n# Document "),
        d.cast("string"), F.lit("\n\n"), F.col("text"),
        F.when(F.size(children) > 0,
               F.concat(F.lit("\n\n"), links_md)).otherwise(F.lit("")))
    expected = docs.select(
        F.concat(F.lit("https://docs.test/d/"), d.cast("string")).alias("url"),
        golden.alias("golden_markdown"))
    extract = make_extract_udf(formats=("markdown",))
    actual = pages_from_documents(docs).select(
        "url",
        extract(F.col("url"), F.col("html")).getField("markdown")
        .alias("markdown"))
    # null-safe inequality: a NULL markdown (extract failure) must count
    # as a mismatch, not fall through the <>-is-NULL hole to otherwise(0)
    return (actual.join(expected, "url")
            .agg(F.count("*").cast("long").alias("pages"),
                 F.sum((~F.col("markdown").eqNullSafe(
                     F.col("golden_markdown"))).cast("int")).cast("int")
                 .alias("mismatches")))


@register(
    "template_render",
    """SELECT doc_id,
              CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN 'https://shop.test/dp/it '
                            || (doc_id % 100)::VARCHAR || '/v#s'
                WHEN 1 THEN 'https://shop.test/?q=a%20b%26c#s'
                WHEN 2 THEN 'https://shop.test/it%20'
                            || (doc_id % 100)::VARCHAR
                            || '/v/x {{missing}}#s'
                ELSE 'https://shop' || (doc_id % 5)::VARCHAR
                     || '.test/{{item}}#s'
              END AS url,
              ['https://shop.test/dp/{{item}}',
               'https://shop.test/?q={{q|query}}',
               'https://shop.test/{{item|path}}/x {{missing}}',
               'https://{{h|host}}/\\{{item}}']
                  [CAST(doc_id % 4 AS INT) + 1] AS original_url,
              'cheerio' AS engine,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 5000 ELSE 30000 END
                   AS BIGINT) AS timeout,
              CASE WHEN doc_id % 7 = 0 THEN 'de' ELSE 'us' END AS country
       FROM documents""",
    "Template merge + URL render pipeline (templateHandler.ts:314-421 "
    "mergeRequestWithTemplate + ScrapeController.ts:91-95 render): request "
    "options win over template reqOptions (timeout), variable defaults + "
    "dotted-path mapping fill what the request omits (country), the "
    "urlTransform append runs pre-render and pins original_url, and "
    "{{var|filter}} placeholders render with query/path/host filters, "
    "keep-on-missing, and backslash escaping (urlTemplate.ts:61-91). The "
    "oracle predicts every rendered URL from doc_id arithmetic.",
)
def q_template_render(spark, sf_dir):
    from anycrawl_spark.template_handler import make_process_request_udf

    documents = load_wide(spark, sf_dir, "documents")
    d = F.col("doc_id")
    item = F.concat(F.lit("it "), (d % 100).cast("string"), F.lit("/v"))
    h = F.concat(F.lit("SHOP#"), (d % 5).cast("string"), F.lit(".TEST"))
    url_tpl = F.element_at(F.array(
        F.lit("https://shop.test/dp/{{item}}"),
        F.lit("https://shop.test/?q={{q|query}}"),
        F.lit("https://shop.test/{{item|path}}/x {{missing}}"),
        F.lit("https://{{h|host}}/\\{{item}}"),
    ), (d % 4).cast("int") + 1)
    # null fields are omitted by to_json (= JS undefined): absent timeout
    # lets the template's 30000 through, absent scrape_options lets the
    # country variable's mapped default through
    request = F.to_json(F.struct(
        F.lit("render-fixture").alias("template_id"),
        url_tpl.alias("url"),
        F.struct(item.alias("item"), h.alias("h")).alias("variables"),
        F.when(d % 3 == 0, F.lit(5000)).alias("timeout"),
        F.when(d % 7 == 0, F.struct(F.lit("de").alias("country")))
        .alias("scrape_options"),
    ))
    template = {
        "templateId": "render-fixture",
        "templateType": "scrape",
        "reqOptions": {"engine": "cheerio", "timeout": 30000},
        "metadata": {},
        "customHandlers": {"urlTransform": {
            "enabled": True, "mode": "append", "suffix": "#s"}},
        "variables": {
            "item": {"type": "string", "required": True},
            "h": {"type": "string", "defaultValue": "x.test"},
            "q": {"type": "string", "defaultValue": "a b&c"},
            "country": {"type": "string", "defaultValue": "us",
                        "mapping": {"target": "scrape_options.country"}},
        },
    }
    udf = make_process_request_udf(template, "scrape")
    parsed = F.from_json(
        udf(request),
        "url string, original_url string, engine string, timeout long, "
        "scrape_options struct<country: string>")
    return documents.select(
        "doc_id",
        parsed["url"].alias("url"),
        parsed["original_url"].alias("original_url"),
        parsed["engine"].alias("engine"),
        parsed["timeout"].alias("timeout"),
        parsed["scrape_options"]["country"].alias("country"))


@register(
    "execution_finalize",
    """WITH ex AS (
         SELECT 'ex-' || event_id::VARCHAR AS execution_uuid,
                'task-' || (event_id % 37)::VARCHAR AS scheduled_task_uuid,
                ['pending','running','running','completed','cancelled']
                    [CAST(event_id % 5 AS INT) + 1] AS status
         FROM events WHERE event_id < 300),
       ev AS (
         SELECT event_id AS seq,
                'ex-' || (event_id % 350)::VARCHAR AS execution_uuid,
                ['completed','failed','cancelled']
                    [CAST(event_id % 3 AS INT) + 1] AS status,
                CASE WHEN event_id % 13 = 0 THEN NULL
                     WHEN event_id % 11 = 0 THEN false
                     ELSE true END AS update_task_stats,
                event_id % 2 = 0 AS allow_create_if_missing,
                CASE WHEN event_id % 4 = 0 THEN NULL
                     ELSE 'task-' || (event_id % 37)::VARCHAR
                END AS create_task_uuid
         FROM events),
       open_w AS (
         SELECT v.execution_uuid, min(v.seq) AS winner_seq,
                arg_min(v.status, v.seq) AS final_status,
                CAST(NULL AS VARCHAR) AS winner_task,
                false AS created
         FROM ev v JOIN ex ON v.execution_uuid = ex.execution_uuid
         WHERE ex.status IN ('pending', 'running')
         GROUP BY 1),
       create_w AS (
         SELECT v.execution_uuid, min(v.seq) AS winner_seq,
                'failed' AS final_status,
                arg_min(v.create_task_uuid, v.seq) AS winner_task,
                true AS created
         FROM ev v LEFT JOIN ex ON v.execution_uuid = ex.execution_uuid
         WHERE ex.execution_uuid IS NULL AND v.status = 'failed'
           AND coalesce(v.allow_create_if_missing, false)
           AND v.create_task_uuid IS NOT NULL
         GROUP BY 1),
       w AS (SELECT * FROM open_w UNION ALL SELECT * FROM create_w)
     SELECT coalesce(ex.execution_uuid, w.execution_uuid)
                AS execution_uuid,
            coalesce(ex.scheduled_task_uuid, w.winner_task)
                AS scheduled_task_uuid,
            coalesce(w.final_status, ex.status) AS final_status,
            w.winner_seq,
            coalesce(w.created, false) AS created,
            w.winner_seq IS NOT NULL AS transitioned
     FROM ex FULL JOIN w ON ex.execution_uuid = w.execution_uuid""",
    "Execution finalize transitions (ExecutionLifecycle.ts:45-126): replay "
    "a finalizeExecution call log — only the FIRST call per "
    "pending/running execution transitions it (the status-guarded UPDATE), "
    "calls against missing rows only materialize via the failed+"
    "allowCreateIfMissing recovery insert, terminal rows never move. "
    "Fixture executions/events synthesized from event_id arithmetic with "
    "multi-call contention (350-uuid wrap) and 50 missing uuids.",
)
def q_execution_finalize(spark, sf_dir):
    from anycrawl_spark.scheduler import finalize_executions

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")
    executions = ev.where(e < 300).select(
        F.concat(F.lit("ex-"), e.cast("string")).alias("execution_uuid"),
        F.concat(F.lit("task-"), (e % 37).cast("string"))
        .alias("scheduled_task_uuid"),
        F.element_at(F.array(F.lit("pending"), F.lit("running"),
                             F.lit("running"), F.lit("completed"),
                             F.lit("cancelled")),
                     (e % 5).cast("int") + 1).alias("status"))
    events = ev.select(
        e.alias("seq"),
        F.concat(F.lit("ex-"), (e % 350).cast("string"))
        .alias("execution_uuid"),
        F.element_at(F.array(F.lit("completed"), F.lit("failed"),
                             F.lit("cancelled")),
                     (e % 3).cast("int") + 1).alias("status"),
        F.when(e % 13 == 0, F.lit(None).cast("boolean"))
        .when(e % 11 == 0, F.lit(False)).otherwise(F.lit(True))
        .alias("update_task_stats"),
        (e % 2 == 0).alias("allow_create_if_missing"),
        F.when(e % 4 != 0, F.concat(F.lit("task-"), (e % 37).cast("string")))
        .alias("create_task_uuid"))
    return finalize_executions(executions, events)


@register(
    "execution_task_stats",
    """WITH ex AS (
         SELECT 'ex-' || event_id::VARCHAR AS execution_uuid,
                'task-' || (event_id % 37)::VARCHAR AS scheduled_task_uuid,
                ['pending','running','running','completed','cancelled']
                    [CAST(event_id % 5 AS INT) + 1] AS status
         FROM events WHERE event_id < 300),
       ev AS (
         SELECT event_id AS seq,
                'ex-' || (event_id % 350)::VARCHAR AS execution_uuid,
                ['completed','failed','cancelled']
                    [CAST(event_id % 3 AS INT) + 1] AS status,
                CASE WHEN event_id % 13 = 0 THEN NULL
                     WHEN event_id % 11 = 0 THEN false
                     ELSE true END AS update_task_stats,
                event_id % 2 = 0 AS allow_create_if_missing,
                CASE WHEN event_id % 4 = 0 THEN NULL
                     ELSE 'task-' || (event_id % 37)::VARCHAR
                END AS create_task_uuid
         FROM events),
       tasks AS (
         SELECT 'task-' || event_id::VARCHAR AS task_uuid,
                CAST(event_id % 5 AS INT) AS successful_executions,
                CAST(event_id % 4 AS INT) AS failed_executions,
                CAST(event_id % 3 AS INT) AS consecutive_failures
         FROM events WHERE event_id < 37),
       open_w AS (
         SELECT ex.scheduled_task_uuid, min(v.seq) AS winner_seq,
                arg_min(v.status, v.seq) AS final_status,
                arg_min(coalesce(v.update_task_stats, true), v.seq)
                    AS stats_on
         FROM ev v JOIN ex ON v.execution_uuid = ex.execution_uuid
         WHERE ex.status IN ('pending', 'running')
         GROUP BY ex.execution_uuid, ex.scheduled_task_uuid),
       create_w AS (
         SELECT arg_min(v.create_task_uuid, v.seq) AS scheduled_task_uuid,
                min(v.seq) AS winner_seq, 'failed' AS final_status,
                arg_min(coalesce(v.update_task_stats, true), v.seq)
                    AS stats_on
         FROM ev v LEFT JOIN ex ON v.execution_uuid = ex.execution_uuid
         WHERE ex.execution_uuid IS NULL AND v.status = 'failed'
           AND coalesce(v.allow_create_if_missing, false)
           AND v.create_task_uuid IS NOT NULL
         GROUP BY v.execution_uuid),
       t AS (
         SELECT * FROM (SELECT * FROM open_w UNION ALL
                        SELECT * FROM create_w)
         WHERE stats_on AND final_status IN ('completed', 'failed')),
       per_task AS (
         SELECT scheduled_task_uuid,
                sum(CASE WHEN final_status = 'completed' THEN 1 ELSE 0 END)
                    AS n_completed,
                sum(CASE WHEN final_status = 'failed' THEN 1 ELSE 0 END)
                    AS n_failed,
                max(CASE WHEN final_status = 'completed' THEN winner_seq
                    END) AS last_completed_seq
         FROM t GROUP BY 1),
       tails AS (
         SELECT t.scheduled_task_uuid, count(*) AS tail_failed
         FROM t JOIN per_task p USING (scheduled_task_uuid)
         WHERE t.final_status = 'failed'
           AND (p.last_completed_seq IS NULL
                OR t.winner_seq > p.last_completed_seq)
         GROUP BY 1)
     SELECT k.task_uuid,
            CAST(k.successful_executions + coalesce(p.n_completed, 0)
                 AS INT) AS successful_executions,
            CAST(k.failed_executions + coalesce(p.n_failed, 0) AS INT)
                AS failed_executions,
            CAST(CASE WHEN p.last_completed_seq IS NOT NULL
                      THEN coalesce(tl.tail_failed, 0)
                      ELSE k.consecutive_failures
                           + coalesce(tl.tail_failed, 0) END AS INT)
                AS consecutive_failures
     FROM tasks k
     LEFT JOIN per_task p ON k.task_uuid = p.scheduled_task_uuid
     LEFT JOIN tails tl ON k.task_uuid = tl.scheduled_task_uuid""",
    "Scheduled-task counter deltas from the finalize replay "
    "(ExecutionLifecycle.ts:128-153): successful/failed execution counts "
    "bump on real stats-updating transitions only; consecutiveFailures "
    "resets on completed and stacks failed transitions after the last "
    "completed one (or on the initial counter when the task never "
    "completed). Same fixture as execution_finalize plus initial task "
    "counters.",
)
def q_execution_task_stats(spark, sf_dir):
    from anycrawl_spark.scheduler import finalize_task_stats

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")
    executions = ev.where(e < 300).select(
        F.concat(F.lit("ex-"), e.cast("string")).alias("execution_uuid"),
        F.concat(F.lit("task-"), (e % 37).cast("string"))
        .alias("scheduled_task_uuid"),
        F.element_at(F.array(F.lit("pending"), F.lit("running"),
                             F.lit("running"), F.lit("completed"),
                             F.lit("cancelled")),
                     (e % 5).cast("int") + 1).alias("status"))
    events = ev.select(
        e.alias("seq"),
        F.concat(F.lit("ex-"), (e % 350).cast("string"))
        .alias("execution_uuid"),
        F.element_at(F.array(F.lit("completed"), F.lit("failed"),
                             F.lit("cancelled")),
                     (e % 3).cast("int") + 1).alias("status"),
        F.when(e % 13 == 0, F.lit(None).cast("boolean"))
        .when(e % 11 == 0, F.lit(False)).otherwise(F.lit(True))
        .alias("update_task_stats"),
        (e % 2 == 0).alias("allow_create_if_missing"),
        F.when(e % 4 != 0, F.concat(F.lit("task-"), (e % 37).cast("string")))
        .alias("create_task_uuid"))
    tasks = ev.where(e < 37).select(
        F.concat(F.lit("task-"), e.cast("string")).alias("task_uuid"),
        (e % 5).cast("int").alias("successful_executions"),
        (e % 4).cast("int").alias("failed_executions"),
        (e % 3).cast("int").alias("consecutive_failures"))
    return finalize_task_stats(executions, events, tasks)


@register(
    "ledger_rollup",
    """WITH jobs AS (
         SELECT 'job-' || event_id::VARCHAR AS job_id,
                'key-' || (event_id % 7)::VARCHAR AS api_key,
                CAST(event_id % 3 AS DOUBLE) AS init_used
         FROM events WHERE event_id < 25),
       keys AS (
         SELECT 'key-' || event_id::VARCHAR AS api_key,
                CAST(1000 + event_id * 10 AS DOUBLE) AS init_credits
         FROM events WHERE event_id < 7),
       ev AS (
         SELECT event_id AS seq,
                'job-' || (event_id % 25)::VARCHAR AS job_id,
                CASE WHEN event_id % 10 = 9 THEN 'target'
                     ELSE 'delta' END AS mode,
                CASE WHEN event_id % 10 = 9
                     THEN CAST(1000 + event_id AS DOUBLE)
                     ELSE [2.5, 1.0, 0.0, -3.0, 4.0, 1.5]
                          [CAST(event_id % 6 AS INT) + 1] END AS amount,
                'r' || (event_id % 3)::VARCHAR AS reason,
                CASE WHEN event_id % 10 = 9 THEN NULL
                     ELSE 'k-' || (event_id % 40)::VARCHAR
                END AS idempotency_key,
                CASE WHEN event_id % 4 = 0 THEN 'calcA'
                     ELSE 'billing_v1' END AS detail_calculator,
                event_id % 2 = 0 AS items_match
         FROM events),
       -- explicit keys dedup GLOBALLY (the ledger's unique index), not
       -- per job: 'k-N' collides across jobs here by construction
       booked_delta_seqs AS (
         SELECT seq FROM (
           SELECT seq, row_number() OVER (
             PARTITION BY idempotency_key ORDER BY seq) AS rn
           FROM ev WHERE mode = 'delta' AND amount > 0)
         WHERE rn = 1),
       cums AS (
         SELECT e.*, b.seq IS NOT NULL AS booked_delta,
                sum(CASE WHEN b.seq IS NOT NULL THEN e.amount ELSE 0 END)
                  OVER (PARTITION BY e.job_id ORDER BY e.seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS cum_before,
                sum(CASE WHEN b.seq IS NOT NULL THEN e.amount ELSE 0 END)
                  OVER (PARTITION BY e.job_id ORDER BY e.seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum_incl,
                max(CASE WHEN e.mode = 'target' THEN e.seq END)
                  OVER (PARTITION BY e.job_id ORDER BY e.seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS last_target_seq
         FROM ev e LEFT JOIN booked_delta_seqs b ON e.seq = b.seq),
       -- every synthesized target books (the watermark 1000+seq grows
       -- faster than any job's delta stream), so used resets to the last
       -- target's amount and accumulates booked deltas after it
       with_before AS (
         SELECT c.*, j.init_used, j.api_key,
                CASE WHEN c.last_target_seq IS NULL
                     THEN j.init_used + coalesce(c.cum_before, 0)
                     ELSE 1000 + c.last_target_seq
                          + (coalesce(c.cum_before, 0) - t.cum_at_target)
                END AS before_used
         FROM cums c
         JOIN jobs j USING (job_id)
         LEFT JOIN (SELECT job_id, seq AS tseq, cum_incl AS cum_at_target
                    FROM cums WHERE mode = 'target') t
           ON c.job_id = t.job_id AND c.last_target_seq = t.tseq),
       booked AS (
         SELECT job_id, seq, api_key, mode, reason,
                idempotency_key, amount AS charged,
                before_used, before_used + amount AS after_used,
                detail_calculator,
                amount AS detail_total,
                CASE WHEN items_match THEN 'page'
                     ELSE 'unattributed_adjustment' END AS detail_code,
                CAST(1 AS INT) AS detail_n_items
         FROM with_before WHERE booked_delta
         UNION ALL
         SELECT job_id, seq, api_key, mode, reason,
                'billing:target:' || job_id || ':'
                    || CAST(amount AS BIGINT)::VARCHAR || ':' || reason,
                amount - before_used, before_used, amount,
                NULL, NULL, NULL, NULL
         FROM with_before WHERE mode = 'target')
     SELECT b.job_id, b.seq, b.api_key, b.mode, b.reason,
            b.idempotency_key, b.charged, b.before_used, b.after_used,
            k.init_credits - sum(b.charged)
              OVER (PARTITION BY b.api_key ORDER BY b.seq) + b.charged
              AS before_credits,
            k.init_credits - sum(b.charged)
              OVER (PARTITION BY b.api_key ORDER BY b.seq)
              AS after_credits,
            b.detail_calculator, b.detail_total, b.detail_code,
            b.detail_n_items
     FROM booked b JOIN keys k USING (api_key)""",
    "Billing ledger replay (Billing.ts:176-445): chargeDeltaByJobId / "
    "chargeToUsedByJobId calls fold into idempotency-keyed ledger rows — "
    "non-positive deltas and already-reached targets book nothing, "
    "duplicate keys dedup without charging, default target keys derive "
    "from the watermark, chargeDetails itemizations are validated with "
    "the unattributed_adjustment fallback, and api-key balances snapshot "
    "before/after each charge (fillLedgerCreditsSnapshot). The amounts "
    "are exact binary fractions so the running sums hash identically.",
)
def q_ledger_rollup(spark, sf_dir):
    from anycrawl_spark.billing import ledger_rollup

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")
    is_target = e % 10 == 9
    amount = F.when(is_target, (e + 1000).cast("double")).otherwise(
        F.element_at(F.array(F.lit(2.5), F.lit(1.0), F.lit(0.0),
                             F.lit(-3.0), F.lit(4.0), F.lit(1.5)),
                     (e % 6).cast("int") + 1))
    item_code = F.when(e % 2 == 0, F.lit("page")).otherwise(F.lit(""))
    charge_events = ev.select(
        e.alias("seq"),
        F.concat(F.lit("job-"), (e % 25).cast("string")).alias("job_id"),
        F.when(is_target, F.lit("target")).otherwise(F.lit("delta"))
        .alias("mode"),
        amount.alias("amount"),
        F.concat(F.lit("r"), (e % 3).cast("string")).alias("reason"),
        F.when(~is_target,
               F.concat(F.lit("k-"), (e % 40).cast("string")))
        .alias("idempotency_key"),
        F.when(e % 4 == 0, F.lit("calcA")).alias("calculator"),
        F.when(~is_target,
               F.array(F.struct(item_code.alias("code"),
                                amount.alias("credits")))).alias("items"))
    jobs = ev.where(e < 25).select(
        F.concat(F.lit("job-"), e.cast("string")).alias("job_id"),
        F.concat(F.lit("key-"), (e % 7).cast("string")).alias("api_key"),
        (e % 3).cast("double").alias("credits_used"))
    api_keys = ev.where(e < 7).select(
        F.concat(F.lit("key-"), e.cast("string")).alias("api_key"),
        (e * 10 + 1000).cast("double").alias("credits"))
    return ledger_rollup(charge_events, jobs, api_keys)


# ===========================================================================
# Proxy decision core + IP access control (Proxy.ts / ProxyCacheManager.ts /
# ipUtils.ts) — round 6
# ===========================================================================

_PROXY_REASONS = ("cloudflare_challenge", "http_error", "timeout",
                  "blocked", "proxy_error")


@register(
    "proxy_cache_replay",
    """WITH ev AS (
         SELECT 'd' || CAST(event_id % 37 AS VARCHAR) || '.example.com'
                  AS domain,
                event_id AS seq,
                1700000000000 + event_id * 997 AS ts,
                CASE WHEN event_id % 5 < 3 THEN 'failure'
                     ELSE 'success' END AS kind,
                CASE WHEN event_id % 5 < 3
                     THEN (['auto','base','stealth','custom'])
                          [CAST(event_id % 4 AS INT) + 1]
                     ELSE (['auto','base','stealth',
                            'http://custom-proxy:3128'])
                          [CAST(event_id % 4 AS INT) + 1] END AS mode,
                CASE WHEN event_id % 5 >= 3
                     THEN 'http://p' || CAST(event_id % 4 AS VARCHAR)
                          || ':8080' END AS proxy_url,
                CASE WHEN event_id % 5 < 3
                     THEN (['cloudflare_challenge','http_error','timeout',
                            'blocked','proxy_error'])
                          [CAST((event_id // 5) % 5 AS INT) + 1]
                END AS reason
         FROM events),
       filt AS (
         SELECT * FROM ev
         WHERE kind = 'success' OR mode <> 'custom'),
       w AS (
         SELECT *,
                max(CASE WHEN kind = 'success' THEN seq END)
                  OVER (PARTITION BY domain) AS last_succ_seq,
                max(CASE WHEN kind = 'failure' THEN seq END)
                  OVER (PARTITION BY domain) AS last_fail_seq,
                (kind = 'failure' AND NOT (mode = 'base' AND reason NOT IN
                   ('cloudflare_challenge','blocked'))) AS trig
         FROM filt),
       agg AS (
         SELECT domain,
                arg_max(mode, CASE WHEN kind = 'success' THEN seq END)
                  AS last_succ_mode,
                -- failures replace the whole entry WITHOUT the working-
                -- proxy fields: only successes after the last failure count
                arg_max(proxy_url, CASE WHEN kind = 'success'
                        AND seq > coalesce(last_fail_seq, -1) THEN seq END)
                  AS working_proxy_url,
                arg_max(proxy_url, CASE WHEN kind = 'success'
                        AND seq > coalesce(last_fail_seq, -1)
                        AND mode = 'base' THEN seq END)
                  AS base_working_proxy,
                arg_max(proxy_url, CASE WHEN kind = 'success'
                        AND seq > coalesce(last_fail_seq, -1)
                        AND mode = 'stealth' THEN seq END)
                  AS stealth_working_proxy,
                max(CASE WHEN kind = 'failure' THEN ts END)
                  AS last_failure_at,
                arg_max(reason, CASE WHEN kind = 'failure' THEN seq END)
                  AS last_failure_reason,
                CAST(sum(CASE WHEN kind = 'failure'
                         AND seq > coalesce(last_succ_seq, -1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS total_failures,
                max(CASE WHEN kind = 'success' THEN ts END)
                  AS last_success_at,
                min(ts) AS created_at,
                max(ts) AS updated_at,
                min(CASE WHEN (kind = 'success' AND mode = 'stealth')
                         OR trig THEN ts END) AS first_stealth_at,
                max(CASE WHEN kind = 'failure'
                    AND seq > coalesce(last_succ_seq, -1) AND trig
                    THEN 1 ELSE 0 END) AS trig_after
         FROM w GROUP BY domain)
     SELECT domain,
            CASE WHEN total_failures = 0 THEN last_succ_mode
                 WHEN last_succ_mode = 'stealth' OR trig_after = 1
                   THEN 'stealth'
                 ELSE 'base' END AS mode,
            working_proxy_url, base_working_proxy, stealth_working_proxy,
            last_failure_at, last_failure_reason, total_failures,
            last_success_at, created_at, updated_at, first_stealth_at
     FROM agg""",
    "Proxy domain-cache fold (ProxyCacheManager.ts:196-280 + "
    "computeNewMode :437-466): success/failure events fold into final "
    "DomainCacheEntry rows — custom-mode failures are dropped before "
    "touching state, success overwrites mode verbatim (including "
    "stealth->base downgrades and non-keyword strings), per-mode working "
    "proxies update only under their exact keyword, total_failures "
    "resets on success, mode escalation between successes is monotone, "
    "and first_stealth_at is sticky. Pure conditional aggregation (one "
    "keyed window + one groupBy), no sequential state.",
)
def q_proxy_cache_replay(spark, sf_dir):
    from anycrawl_spark.proxy import proxy_cache_replay

    e = F.col("event_id")
    ev = load(spark, sf_dir, "events").select(
        F.concat(F.lit("d"), (e % 37).cast("string"),
                 F.lit(".example.com")).alias("domain"),
        e.alias("seq"),
        (F.lit(1700000000000) + e * 997).alias("ts"),
        F.when(e % 5 < 3, F.lit("failure")).otherwise(F.lit("success"))
        .alias("kind"),
        F.when(e % 5 < 3,
               F.element_at(F.array(F.lit("auto"), F.lit("base"),
                                    F.lit("stealth"), F.lit("custom")),
                            (e % 4).cast("int") + 1))
        .otherwise(
            F.element_at(F.array(F.lit("auto"), F.lit("base"),
                                 F.lit("stealth"),
                                 F.lit("http://custom-proxy:3128")),
                         (e % 4).cast("int") + 1)).alias("mode"),
        F.when(e % 5 >= 3,
               F.concat(F.lit("http://p"), (e % 4).cast("string"),
                        F.lit(":8080"))).alias("proxy_url"),
        F.when(e % 5 < 3,
               F.element_at(F.array(*[F.lit(r) for r in _PROXY_REASONS]),
                            (F.floor(e / 5) % 5).cast("int") + 1))
        .alias("reason"))
    return proxy_cache_replay(ev)


@register(
    "ip_allowlist",
    """WITH req AS (
         SELECT event_id AS rid,
                CASE WHEN event_id % 7 = 0 THEN '  '
                     WHEN event_id % 7 = 1
                       THEN '10.' || CAST(event_id % 3 AS VARCHAR) || '.0.'
                            || CAST(event_id % 50 AS VARCHAR) END AS cf,
                CASE WHEN event_id % 5 = 0 THEN ' , 9.9.9.9'
                     WHEN event_id % 5 = 1
                       THEN '172.16.' || CAST(event_id % 8 AS VARCHAR)
                            || '.5, 10.0.0.1' END AS xff,
                CASE WHEN event_id % 3 = 0
                       THEN '192.168.1.' || CAST(event_id % 300 AS VARCHAR)
                END AS rip,
                CASE WHEN event_id % 11 <> 0
                       THEN '10.9.8.' || CAST(event_id % 9 AS VARCHAR)
                END AS reqip,
                CAST(event_id % 6 AS INT) AS wl
         FROM events),
       resolved AS (
         SELECT rid, wl,
                CASE WHEN cf IS NOT NULL AND cf <> ''
                       THEN trim(cf)
                     WHEN xff IS NOT NULL AND xff <> ''
                          AND trim(string_split(xff, ',')[1]) <> ''
                       THEN trim(string_split(xff, ',')[1])
                     WHEN rip IS NOT NULL AND rip <> ''
                       THEN trim(rip)
                     WHEN reqip IS NOT NULL AND reqip <> ''
                       THEN reqip
                END AS client_ip
         FROM req),
       nums AS (
         SELECT *,
                CASE WHEN client_ip IS NOT NULL
                     AND regexp_matches(client_ip,
                         '^\\d+\\.\\d+\\.\\d+\\.\\d+$')
                     AND CAST(string_split(client_ip, '.')[1] AS BIGINT)
                         <= 255
                     AND CAST(string_split(client_ip, '.')[2] AS BIGINT)
                         <= 255
                     AND CAST(string_split(client_ip, '.')[3] AS BIGINT)
                         <= 255
                     AND CAST(string_split(client_ip, '.')[4] AS BIGINT)
                         <= 255
                THEN CAST(string_split(client_ip, '.')[1] AS BIGINT)
                     * 16777216
                     + CAST(string_split(client_ip, '.')[2] AS BIGINT)
                     * 65536
                     + CAST(string_split(client_ip, '.')[3] AS BIGINT)
                     * 256
                     + CAST(string_split(client_ip, '.')[4] AS BIGINT)
                END AS ipn
         FROM resolved)
     SELECT rid, client_ip,
            CASE WHEN wl IN (0, 1) THEN true
                 WHEN client_ip IS NULL OR client_ip = '' THEN false
                 WHEN wl = 2 THEN ipn IS NOT NULL AND ipn // 16777216 = 10
                 WHEN wl = 3 THEN ipn IS NOT NULL AND
                      (ipn // 256 = (192 * 65536 + 168 * 256 + 1)
                       OR ipn // 1048576 = (172 * 16 + 1))
                 WHEN wl = 4 THEN client_ip = '10.1.0.5'
                 ELSE ipn IS NOT NULL AND ipn // 256
                      = (1 * 65536 + 2 * 256 + 3)
            END AS allowed
     FROM nums""",
    "IP access control (ipUtils.ts:13-78 + CIDR math :105-173): client-IP "
    "header precedence (whitespace-only CF header resolves to '' and is "
    "denied; an empty first X-Forwarded-For hop falls through; req.ip is "
    "untrimmed) and exact-or-CIDR whitelist verdicts, including the "
    "parseInt-lenient '/24abc' prefix and the /33-128 RangeError->deny "
    "band. The oracle enumerates the synthesized whitelist shapes; the "
    "generic matcher is covered by tests/test_ipaccess.py's randomized "
    "JS-semantics simulator.",
)
def q_ip_allowlist(spark, sf_dir):
    from anycrawl_spark.ipaccess import ip_allowlist

    e = F.col("event_id")
    wl_arr = (
        F.when(e % 6 == 2, F.array(F.lit("10.0.0.0/8")))
        .when(e % 6 == 3, F.array(F.lit("192.168.1.0/24"),
                                  F.lit("172.16.0.0/12")))
        .when(e % 6 == 4, F.array(F.lit("10.1.0.5")))
        .when(e % 6 == 5, F.array(F.lit("1.2.3.0/24abc"),
                                  F.lit("10.0.0.0/33")))
        .when(e % 6 == 1, F.array().cast("array<string>")))
    req = load(spark, sf_dir, "events").select(
        e.alias("rid"),
        F.when(e % 7 == 0, F.lit("  "))
        .when(e % 7 == 1,
              F.concat(F.lit("10."), (e % 3).cast("string"), F.lit(".0."),
                       (e % 50).cast("string"))).alias("cf_connecting_ip"),
        F.when(e % 5 == 0, F.lit(" , 9.9.9.9"))
        .when(e % 5 == 1,
              F.concat(F.lit("172.16."), (e % 8).cast("string"),
                       F.lit(".5, 10.0.0.1"))).alias("x_forwarded_for"),
        F.when(e % 3 == 0,
               F.concat(F.lit("192.168.1."), (e % 300).cast("string")))
        .alias("x_real_ip"),
        F.when(e % 11 != 0,
               F.concat(F.lit("10.9.8."), (e % 9).cast("string")))
        .alias("req_ip"),
        wl_arr.alias("whitelist"))
    return ip_allowlist(req).select("rid", "client_ip", "allowed")


_PSEL_BASE = ["http://base-0:8080", "http://base-1:8080"]
_PSEL_STEALTH = ["http://stealth-0:9090"]


@register(
    "proxy_select_replay",
    """WITH req AS (
         SELECT event_id AS seq,
                CASE CAST(event_id % 6 AS INT)
                     WHEN 0 THEN 'https://exact.example.com/page'
                     WHEN 1 THEN 'https://a.github.com/api/v'
                                 || CAST(event_id % 3 AS VARCHAR)
                     WHEN 2 THEN 'https://sub.gov.au/p'
                                 || CAST(event_id % 7 AS VARCHAR)
                     WHEN 3 THEN 'https://cached.example.com/p'
                                 || CAST(event_id % 7 AS VARCHAR)
                     WHEN 4 THEN 'https://plain.example.com/p'
                                 || CAST(event_id % 7 AS VARCHAR)
                     ELSE 'https://other.net/p'
                          || CAST(event_id % 7 AS VARCHAR) END AS url,
                CASE WHEN event_id % 10 = 0
                     THEN 'https://sub.gov.au/r'
                          || CAST(event_id AS VARCHAR) END AS original_url,
                ([0,0,0,1,2])[CAST(event_id % 5 AS INT) + 1] AS retry,
                CASE CAST((event_id // 7) % 5 AS INT)
                     WHEN 1 THEN 'auto' WHEN 2 THEN 'base'
                     WHEN 3 THEN 'stealth'
                     WHEN 4 THEN 'http://custom:3128' END AS opt,
                CASE WHEN event_id % 9 >= 6 THEN 1
                     WHEN event_id % 9 >= 3 THEN 0 END AS user_tier
         FROM events),
       s1 AS (
         SELECT *,
                CASE WHEN original_url IS NOT NULL AND original_url <> ''
                     THEN original_url ELSE url END AS match_url
         FROM req),
       s2 AS (
         SELECT *,
                lower(regexp_extract(match_url,
                      '^[a-zA-Z]+://([^/:?#]+)', 1)) AS host,
                CASE WHEN match_url = 'https://exact.example.com/page'
                       THEN 'http://rule-exact:1'
                     WHEN regexp_matches(match_url,
                          '^(?i)https://.*\\.github\\.com/api/.*$')
                       THEN 'http://rule-pattern:1'
                     WHEN regexp_matches(lower(regexp_extract(match_url,
                          '^[a-zA-Z]+://([^/:?#]+)', 1)),
                          '^(?i).*\\.gov\\.au$')
                       THEN 'http://rule-domain:1' END AS rule_proxy
         FROM s1),
       s3 AS (
         SELECT *,
                opt IN ('auto','base','stealth') AS is_mode,
                CASE WHEN opt = 'auto' AND host = 'cached.example.com'
                     THEN 'stealth' ELSE opt END AS eff_mode
         FROM s2),
       s4 AS (
         SELECT *,
                CASE WHEN is_mode AND host = 'cached.example.com'
                          AND eff_mode = 'stealth' THEN 'http://sw:1'
                     WHEN is_mode AND host = 'cached.example.com'
                          AND eff_mode = 'base' THEN 'http://bw:1'
                END AS cached,
                CASE WHEN eff_mode = 'auto' AND retry >= 1 THEN 1
                     ELSE coalesce(user_tier, 0) END AS eff_tier
         FROM s3),
       s5 AS (
         SELECT *,
                -- http://bw:1 is inside the 7-day failure cooldown
                cached IS NOT NULL AND cached <> 'http://bw:1' AS cached_ok,
                CASE WHEN rule_proxy IS NOT NULL AND retry = 0
                       THEN 'rule'
                     WHEN is_mode AND cached IS NOT NULL
                          AND cached <> 'http://bw:1' THEN 'cached'
                     WHEN is_mode AND rule_proxy IS NOT NULL AND retry > 0
                       THEN 'merge_rotation'
                     WHEN is_mode THEN 'mode_rotation'
                     WHEN opt IS NOT NULL AND opt <> '' THEN 'custom'
                     WHEN rule_proxy IS NOT NULL AND retry > 0
                       THEN 'env_rotation'
                     WHEN rule_proxy IS NOT NULL THEN 'rule'
                     ELSE 'env_fallback' END AS source
         FROM s4),
       s6 AS (
         SELECT *,
                CASE WHEN source IN ('merge_rotation','mode_rotation',
                                     'env_rotation')
                     THEN 1 ELSE 0 END AS tick
         FROM s5),
       s7 AS (
         SELECT *,
                CAST(sum(tick) OVER (ORDER BY seq) - tick AS BIGINT)
                  AS rot
         FROM s6),
       s8 AS (
         SELECT *,
                CASE WHEN source = 'merge_rotation' THEN
                       CASE eff_mode
                            WHEN 'auto' THEN [rule_proxy,
                              'http://base-0:8080','http://base-1:8080',
                              'http://stealth-0:9090']
                            WHEN 'base' THEN [rule_proxy,
                              'http://base-0:8080','http://base-1:8080']
                            ELSE [rule_proxy, 'http://stealth-0:9090',
                              'http://base-0:8080','http://base-1:8080']
                       END
                     WHEN source = 'mode_rotation' THEN
                       CASE WHEN eff_mode = 'auto' AND eff_tier <= 0
                              THEN ['http://base-0:8080',
                                    'http://base-1:8080']
                            WHEN eff_mode = 'auto'
                              THEN ['http://stealth-0:9090']
                            WHEN eff_mode = 'base'
                              THEN ['http://base-0:8080',
                                    'http://base-1:8080']
                            WHEN eff_mode = 'stealth' AND eff_tier <= 0
                              THEN ['http://stealth-0:9090']
                            ELSE ['http://base-0:8080',
                                  'http://base-1:8080']
                       END
                     WHEN source = 'env_rotation'
                       THEN [rule_proxy, 'http://base-0:8080',
                             'http://base-1:8080']
                END AS pool
         FROM s7)
     SELECT seq, url, host, rule_proxy,
            CASE WHEN is_mode THEN eff_mode END AS effective_mode,
            CASE WHEN source IN ('merge_rotation','mode_rotation')
                 THEN CAST(eff_tier AS BIGINT) END AS effective_tier,
            source, rot AS rotation_before,
            CASE WHEN source = 'rule' THEN rule_proxy
                 WHEN source = 'cached' THEN cached
                 WHEN source = 'custom' THEN opt
                 WHEN source IN ('merge_rotation','mode_rotation',
                                 'env_rotation')
                   THEN pool[CAST(rot % len(pool) AS INT) + 1]
                 WHEN source = 'env_fallback' THEN 'http://base-0:8080'
            END AS selected_proxy
     FROM s8""",
    "newUrlFunction replay (Proxy.ts:763-885): rule-first-attempt, "
    "cached-working-proxy lookup with failure cooldown, auto->stealth "
    "cache upgrade, auto tier escalation on retry, merged rule+mode "
    "rotation pools, and the single global rotation counter shared by "
    "every rotation branch — rebuilt distributively from range-bucketed "
    "partial sums (no unpartitioned window). The oracle reconstructs the "
    "same tree with a DuckDB running sum.",
)
def q_proxy_select_replay(spark, sf_dir):
    from anycrawl_spark.proxy import proxy_select

    e = F.col("event_id")
    req = load_wide(spark, sf_dir, "events").select(
        e.alias("seq"),
        F.when(e % 6 == 0, F.lit("https://exact.example.com/page"))
        .when(e % 6 == 1, F.concat(F.lit("https://a.github.com/api/v"),
                                   (e % 3).cast("string")))
        .when(e % 6 == 2, F.concat(F.lit("https://sub.gov.au/p"),
                                   (e % 7).cast("string")))
        .when(e % 6 == 3, F.concat(F.lit("https://cached.example.com/p"),
                                   (e % 7).cast("string")))
        .when(e % 6 == 4, F.concat(F.lit("https://plain.example.com/p"),
                                   (e % 7).cast("string")))
        .otherwise(F.concat(F.lit("https://other.net/p"),
                            (e % 7).cast("string"))).alias("url"),
        F.when(e % 10 == 0, F.concat(F.lit("https://sub.gov.au/r"),
                                     e.cast("string")))
        .alias("original_url"),
        F.element_at(F.array(F.lit(0), F.lit(0), F.lit(0), F.lit(1),
                             F.lit(2)), (e % 5).cast("int") + 1)
        .cast("long").alias("retry_count"),
        F.when(F.floor(e / 7) % 5 == 1, F.lit("auto"))
        .when(F.floor(e / 7) % 5 == 2, F.lit("base"))
        .when(F.floor(e / 7) % 5 == 3, F.lit("stealth"))
        .when(F.floor(e / 7) % 5 == 4, F.lit("http://custom:3128"))
        .alias("proxy_option"),
        F.when(e % 9 >= 6, F.lit(1)).when(e % 9 >= 3, F.lit(0))
        .cast("long").alias("user_tier"))
    # rules as a plain list (proxy_select accepts both) and the one-row
    # dims via range(1)+literals: the createDataFrame frames were pickled
    # RDDs whose broadcast builds spun Python workers, and the rules
    # DataFrame additionally paid an orderBy+collect job inside
    # proxy_select — ~1s of per-invocation fixed cost for 5 constant rows
    rules = [
        {"rule_idx": 0, "url": "https://exact.example.com/page",
         "pattern": None, "domain": None, "proxy": "http://rule-exact:1"},
        {"rule_idx": 1, "url": None, "pattern": "https://*.github.com/api/*",
         "domain": None, "proxy": "http://rule-pattern:1"},
        {"rule_idx": 2, "url": None, "pattern": None, "domain": "*.gov.au",
         "proxy": "http://rule-domain:1"},
    ]
    cache = spark.range(1).select(
        F.lit("cached.example.com").alias("domain"),
        F.lit("stealth").alias("mode"),
        F.lit("http://bw:1").alias("base_working_proxy"),
        F.lit("http://sw:1").alias("stealth_working_proxy"))
    fails = spark.range(1).select(
        F.lit("cached.example.com").alias("domain"),
        F.lit("http://bw:1").alias("proxy_url"),
        F.lit(True).alias("failure_active"))
    return proxy_select(req, rules, cache, fails, _PSEL_BASE, _PSEL_STEALTH)


_RV_SCRAPE_DEFAULTS = ('"proxy":"auto","formats":["markdown"],'
                       '"timeout":60000,"retry":false,'
                       '"only_main_content":true,'
                       '"extract_source":"markdown","ocr_options":false,'
                       '"store_in_cache":true')


@register(
    "request_validate",
    f"""WITH req AS (
         SELECT event_id AS rid, CAST(event_id % 8 AS INT) AS c,
                'https://site' || CAST(event_id % 50 AS VARCHAR)
                  || '.test/p' AS u,
                1000 + CAST(event_id % 1000 AS INT) AS t5,
                1 + CAST(event_id % 100 AS INT) AS l5,
                1 + CAST(event_id % 50 AS INT) AS d5,
                2000 + CAST(event_id % 100 AS INT) AS t7
         FROM events)
     SELECT rid,
            c IN (0, 5, 7) AS success,
            CASE WHEN c IN (0, 5, 7) THEN 0 ELSE 1 END AS n_issues,
            CASE c WHEN 1 THEN 'invalid_string'
                   WHEN 2 THEN 'invalid_enum_value'
                   WHEN 3 THEN 'too_big'
                   WHEN 4 THEN 'unrecognized_keys'
                   WHEN 6 THEN 'too_small' END AS first_code,
            CASE c WHEN 1 THEN 'url' WHEN 2 THEN 'engine'
                   WHEN 3 THEN 'limit' WHEN 4 THEN ''
                   WHEN 6 THEN 'timeout' END AS first_path,
            CASE c WHEN 1 THEN 'Invalid url'
                   WHEN 2 THEN 'Invalid enum value. Expected ''auto'' | '
                        || '''playwright'' | ''cheerio'' | ''puppeteer'', '
                        || 'received ''chrome'
                        || CAST(rid % 3 AS VARCHAR) || ''''
                   WHEN 3 THEN 'Number must be less than or equal to 50000'
                   WHEN 4 THEN 'Unrecognized key(s) in object: ''zzz'''
                   WHEN 6 THEN 'Number must be greater than or equal '
                        || 'to 1000' END AS first_message,
            CASE WHEN c = 0 THEN
                   '{{"url":"' || u || '","engine":"auto","options":'
                   || '{{"max_depth":10,"limit":100,'
                   || '"strategy":"same-domain","scrape_options":'
                   || '{{{_RV_SCRAPE_DEFAULTS}}}}}}}'
                 WHEN c = 5 THEN
                   '{{"url":"' || u || '","engine":"auto","options":'
                   || '{{"max_depth":' || CAST(d5 AS VARCHAR)
                   || ',"limit":' || CAST(l5 AS VARCHAR)
                   || ',"strategy":"all","scrape_options":'
                   || '{{"proxy":"stealth","formats":["markdown"],'
                   || '"timeout":' || CAST(t5 AS VARCHAR)
                   || ',"retry":false,"only_main_content":true,'
                   || '"extract_source":"markdown","ocr_options":false,'
                   || '"store_in_cache":true}}}}}}'
                 WHEN c = 7 THEN
                   '{{"url":"' || u || '","engine":"auto","options":'
                   || '{{"max_depth":10,"limit":100,'
                   || '"strategy":"same-domain","scrape_options":'
                   || '{{"proxy":"auto","formats":["markdown"],'
                   || '"timeout":' || CAST(t7 AS VARCHAR)
                   || ',"retry":false,"only_main_content":true,'
                   || '"extract_source":"markdown","ocr_options":false,'
                   || '"store_in_cache":true}}}}}}'
            END AS config_json
     FROM req""",
    "zod intake gate (BaseSchema.ts:36-190, CrawlSchema.ts:6-110, "
    "ScrapeSchema.ts:4-48): crawl requests parse through the mini zod-v3 "
    "runtime — defaults only for undefined, bounds/enum/union/strict "
    "issues with zod 3.25's codes and en-locale messages, the "
    "json_options preprocess, and the transform's nested scrape-option "
    "re-normalization. The oracle predicts the verdict AND the "
    "JSON.stringify-parity config for every synthesized case; the "
    "Arrow-batched gate is row-local (no shuffle at any log scale).",
)
def q_request_validate(spark, sf_dir):
    from anycrawl_spark.schemas import validate_requests

    e = F.col("event_id")
    c = (e % 8).cast("int")
    u = F.concat(F.lit('https://site'), (e % 50).cast("string"),
                 F.lit('.test/p'))
    body = (
        F.when(c == 0, F.concat(F.lit('{"url":"'), u, F.lit('"}')))
        .when(c == 1, F.concat(F.lit('{"url":"not-a-url-'),
                               e.cast("string"), F.lit('"}')))
        .when(c == 2, F.concat(F.lit('{"url":"'), u,
                               F.lit('","engine":"chrome'),
                               (e % 3).cast("string"), F.lit('"}')))
        .when(c == 3, F.concat(F.lit('{"url":"'), u, F.lit('","limit":'),
                               (e % 5 + 50001).cast("string"), F.lit('}')))
        .when(c == 4, F.concat(F.lit('{"url":"'), u,
                               F.lit('","zzz":1}')))
        .when(c == 5, F.concat(
            F.lit('{"url":"'), u,
            F.lit('","limit":'), (e % 100 + 1).cast("string"),
            F.lit(',"max_depth":'), (e % 50 + 1).cast("string"),
            F.lit(',"strategy":"all","timeout":'),
            (e % 1000 + 1000).cast("string"),
            F.lit(',"proxy":"stealth"}')))
        .when(c == 6, F.concat(F.lit('{"url":"'), u, F.lit('","timeout":'),
                               (e % 1000).cast("string"), F.lit('}')))
        .otherwise(F.concat(
            F.lit('{"url":"'), u,
            F.lit('","scrape_options":{"timeout":'),
            (e % 100 + 2000).cast("string"), F.lit('}}'))))
    req = load_wide(spark, sf_dir, "events").select(
        e.alias("rid"), body.alias("request_json"))
    return validate_requests(req, "crawl")


@register(
    "search_request_validate",
    """SELECT event_id AS rid,
              CAST(event_id % 6 AS INT) IN (0, 1, 4) AS success,
              CASE WHEN CAST(event_id % 6 AS INT) IN (0, 1, 4) THEN 0
                   ELSE 1 END AS n_issues,
              CASE CAST(event_id % 6 AS INT)
                   WHEN 2 THEN 'invalid_type'
                   WHEN 3 THEN 'too_big'
                   WHEN 5 THEN 'invalid_enum_value' END AS first_code,
              CASE CAST(event_id % 6 AS INT)
                   WHEN 2 THEN 'query' WHEN 3 THEN 'limit'
                   WHEN 5 THEN 'sources' END AS first_path,
              CASE CAST(event_id % 6 AS INT)
                   WHEN 2 THEN 'Required'
                   WHEN 3 THEN 'Number must be less than or equal to 100'
                   WHEN 5 THEN 'Invalid enum value. Expected ''web'' | '
                        || '''images'' | ''news'', received ''videos'''
              END AS first_message,
              CASE CAST(event_id % 6 AS INT)
                   WHEN 0 THEN '{"query":"q'
                        || CAST(event_id % 40 AS VARCHAR)
                        || '","limit":10,"offset":0}'
                   WHEN 1 THEN '{"query":"q'
                        || CAST(event_id % 40 AS VARCHAR)
                        || '","limit":' || CAST(1 + event_id % 100
                                                AS VARCHAR)
                        || ',"offset":' || CAST(event_id % 50 AS VARCHAR)
                        || ',"timeRange":"week"}'
                   WHEN 4 THEN '{"query":"q","limit":10,"offset":0,'
                        || '"lang":"zh-CN","safe_search":null}'
              END AS config_json
       FROM events""",
    "Search intake gate (SearchSchema.ts:28-42): strip-mode parse with "
    "defaults (limit 10, offset 0), z.custom locale pass-through, "
    "nullable safe_search, enum sources — no transform, the controller "
    "consumes the parsed object. Same mini zod-v3 runtime as "
    "request_validate; oracle predicts verdict + config JSON.",
)
def q_search_request_validate(spark, sf_dir):
    from anycrawl_spark.schemas import validate_requests

    e = F.col("event_id")
    c = (e % 6).cast("int")
    body = (
        F.when(c == 0, F.concat(F.lit('{"query":"q'),
                                (e % 40).cast("string"), F.lit('"}')))
        .when(c == 1, F.concat(
            F.lit('{"query":"q'), (e % 40).cast("string"),
            F.lit('","limit":'), (e % 100 + 1).cast("string"),
            F.lit(',"offset":'), (e % 50).cast("string"),
            F.lit(',"timeRange":"week"}')))
        .when(c == 2, F.lit('{}'))
        .when(c == 3, F.concat(F.lit('{"query":"q","limit":'),
                               (e % 5 + 101).cast("string"), F.lit('}')))
        .when(c == 4, F.lit('{"query":"q","lang":"zh-CN",'
                            '"safe_search":null}'))
        .otherwise(F.lit('{"query":"q","sources":"videos"}')))
    req = load(spark, sf_dir, "events").select(
        e.alias("rid"), body.alias("request_json"))
    return validate_requests(req, "search")


@register(
    "decontaminate_ngrams",
    """WITH tok AS (
         SELECT doc_id, string_split(text, ' ') AS t
         FROM documents),
       exploded AS (
         SELECT doc_id,
                unnest([md5(array_to_string(t[i:i+3], ' '))
                        for i in range(1, greatest(len(t) - 2, 1))]) AS g
         FROM tok),
       grams AS (SELECT DISTINCT doc_id, g FROM exploded),
       bench AS (
         SELECT DISTINCT g FROM grams WHERE doc_id % 13 = 0),
       hits AS (
         SELECT c.doc_id,
                CAST(count(DISTINCT c.g) AS BIGINT) AS n_matched
         FROM grams c JOIN bench b ON c.g = b.g
         WHERE c.doc_id % 13 <> 0
         GROUP BY c.doc_id)
     SELECT doc_id, n_matched, true AS contaminated FROM hits""",
    "Benchmark decontamination (training-data pipeline): 4-token shingles "
    "of every corpus document, hashed and equi-joined against the "
    "held-out benchmark set's shingle table — the standard "
    "test-set-overlap removal stage. Hash keys (md5 here; xxhash64 in "
    "production) keep the join a narrow-key shuffle instead of moving "
    "shingle strings; distinct-per-doc before the join bounds the "
    "explode. Scales as one hash equi-join.",
)
def q_decontaminate_ngrams(spark, sf_dir):
    docs = load_wide(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    # guard with a size filter, NOT greatest(size-3, 0): Spark's
    # sequence(1, 0) is the DESCENDING [1, 0] and slice(t, 0, 4) throws —
    # the filter form matches the oracle's empty-range semantics exactly
    grams = tok.where(F.size("t") >= 4).select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(t) - 3), "
            "i -> md5(array_join(slice(t, i, 4), ' ')))")).alias("g")
    ).distinct()
    bench = (grams.where(F.col("doc_id") % 13 == 0)
             .select("g").distinct())
    hits = (grams.where(F.col("doc_id") % 13 != 0)
            .join(bench, "g")
            .groupBy("doc_id")
            .agg(F.countDistinct("g").cast("long").alias("n_matched")))
    return hits.select("doc_id", "n_matched",
                       F.lit(True).alias("contaminated"))


@register(
    "pii_scrub",
    """WITH injected AS (
         SELECT doc_id,
                substr(text, 1, 40) || ' reach user' || CAST(doc_id AS VARCHAR)
                  || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                  || '.example.com or 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                  || CAST(doc_id % 200 AS VARCHAR) || '.'
                  || CAST(doc_id % 250 AS VARCHAR) AS text
         FROM documents),
       scrubbed AS (
         SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                  AS BIGINT) AS n_emails,
                regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t1
         FROM injected),
       s2 AS (
         SELECT doc_id, n_emails,
                CAST(len(regexp_extract_all(t1,
                  '\\b\\d{3}-\\d{3,4}-\\d{4}\\b')) AS BIGINT) AS n_phones,
                regexp_replace(t1, '\\b\\d{3}-\\d{3,4}-\\d{4}\\b',
                               '<PHONE>', 'g') AS t2
         FROM scrubbed),
       s3 AS (
         SELECT doc_id, n_emails, n_phones,
                CAST(len(regexp_extract_all(t2,
                  '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ips,
                regexp_replace(t2, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b',
                               '<IP>', 'g') AS t3
         FROM s2)
     SELECT doc_id, n_emails, n_phones, n_ips,
            md5(t3) AS scrubbed_md5,
            CAST(len(t3) AS BIGINT) AS scrubbed_len
     FROM s3""",
    "PII scrubbing (training-data pipeline): deterministic injection of "
    "synthetic emails/phone numbers/IPv4s into the corpus text, then the "
    "standard redaction pass — count and replace emails, then phones, "
    "then IPs (order matters: the email pattern would otherwise eat "
    "dotted hosts). Pure JVM regexp over the scan, zero shuffle; the "
    "oracle hashes the scrubbed text so the replacement bytes are "
    "value-checked.",
)
def q_pii_scrub(spark, sf_dir):
    d = F.col("doc_id")
    email_rx = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_rx = r"\b\d{3}-\d{3,4}-\d{4}\b"
    ip_rx = r"\b(\d{1,3}\.){3}\d{1,3}\b"
    injected = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 40),
            F.lit(" reach user"), d.cast("string"),
            F.lit("@mail"), (d % 7).cast("string"),
            F.lit(".example.com or 555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."), (d % 256).cast("string"), F.lit("."),
            (d % 200).cast("string"), F.lit("."),
            (d % 250).cast("string")).alias("text"))
    out = injected.select(
        "doc_id",
        F.regexp_count("text", F.lit(email_rx)).cast("long")
        .alias("n_emails"),
        F.regexp_replace("text", email_rx, "<EMAIL>").alias("t1"))
    out = out.select(
        "doc_id", "n_emails",
        F.regexp_count("t1", F.lit(phone_rx)).cast("long")
        .alias("n_phones"),
        F.regexp_replace("t1", phone_rx, "<PHONE>").alias("t2"))
    out = out.select(
        "doc_id", "n_emails", "n_phones",
        F.regexp_count("t2", F.lit(ip_rx)).cast("long").alias("n_ips"),
        F.regexp_replace("t2", ip_rx, "<IP>").alias("t3"))
    return out.select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        F.md5(F.col("t3")).alias("scrubbed_md5"),
        F.length("t3").cast("long").alias("scrubbed_len"))


@register(
    "stratified_sample",
    """WITH b AS (
         SELECT doc_id, lang,
                ((strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                1, 1)) - 1) * 4096
                 + (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                  2, 1)) - 1) * 256
                 + (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                  3, 1)) - 1) * 16
                 + (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                  4, 1)) - 1)) AS bucket
         FROM documents)
     SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
     FROM b
     WHERE bucket < CASE lang WHEN 'en' THEN 49152
                              WHEN 'de' THEN 16384
                              ELSE 6553 END""",
    "Stratified sampling (training-data pipeline): per-language keep "
    "rates (75% en / 25% de / 10% rest) decided by a deterministic hash "
    "threshold over the document key — reproducible across runs and "
    "cluster sizes, no RNG state, no shuffle (pure map over the scan). "
    "The 16-bit bucket comes from md5 hex arithmetic so the oracle "
    "reproduces it exactly; production would use xxhash64.",
)
def q_stratified_sample(spark, sf_dir):
    hexpos = ("(locate(substring(md5(concat(cast(doc_id as string), "
              "':sample')), {i}, 1), '0123456789abcdef') - 1)")
    bucket = F.expr(" + ".join(
        f"{hexpos.format(i=i)} * {16 ** (4 - i)}" for i in range(1, 5)))
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", bucket.cast("long").alias("bucket"))
    rate = (F.when(F.col("lang") == "en", F.lit(49152))
            .when(F.col("lang") == "de", F.lit(16384))
            .otherwise(F.lit(6553)))
    return docs.where(F.col("bucket") < rate)


@register(
    "sequence_packing",
    """WITH d AS (
         SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
                CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
                    AS n_tokens
         FROM documents),
       c AS (
         SELECT *,
                CAST(coalesce(sum(n_tokens) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_offset
         FROM d WHERE n_tokens > 0)
     SELECT doc_id, shard, n_tokens, start_offset,
            start_offset // 512 AS first_seq,
            (start_offset + n_tokens - 1) // 512 AS last_seq,
            (start_offset + n_tokens - 1) // 512
              - start_offset // 512 + 1 AS spans
     FROM c""",
    "Training-sequence packing (the GPT-style pretraining step): lay each "
    "shard's documents end-to-end in deterministic doc order and cut "
    "fixed 512-token sequences at token boundaries, splitting documents "
    "that straddle a cut. Each doc's placement (start offset, first/last "
    "sequence, span count) is a closed form over a per-shard keyed-window "
    "running sum — no sequential pass, no unpartitioned window; at 100 TB "
    "the shard count scales with the cluster and every window partition "
    "stays one output-file's worth of rows, which is exactly how "
    "distributed pretraining pipelines pack shards independently.",
)
def q_sequence_packing(spark, sf_dir):
    seq_len = 512
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).cast("bigint").alias("shard"),
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("bigint").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    placed = docs.withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"))
    end_tok = F.col("start_offset") + F.col("n_tokens") - 1
    return placed.select(
        "doc_id", "shard", "n_tokens", "start_offset",
        F.expr(f"start_offset DIV {seq_len}").alias("first_seq"),
        end_tok.alias("__end")).select(
        "doc_id", "shard", "n_tokens", "start_offset", "first_seq",
        F.expr(f"__end DIV {seq_len}").alias("last_seq"),
        (F.expr(f"__end DIV {seq_len}") - F.col("first_seq") + 1)
        .alias("spans"))


@register(
    "span_dedup",
    """WITH tok AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sp AS (
         SELECT doc_id,
                unnest([{'pos': CAST(i AS BIGINT),
                         'h': md5(array_to_string(t[i:i+3], ' '))}
                        for i in range(1, greatest(len(t) - 2, 1))]) AS u
         FROM tok WHERE len(t) >= 4),
       occ AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM sp),
       r AS (
         SELECT doc_id,
                row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         FROM occ),
       agg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_lost
         FROM r GROUP BY doc_id)
     SELECT doc_id, n_spans, n_lost,
            CAST((n_spans - n_lost) * 10000 // n_spans AS BIGINT) AS keep_bp
     FROM agg""",
    "Exact span-level dedup (training-data pipeline): the C4 "
    "three-sentence-span rule / Lee et al. 2022 exact-substring dedup, "
    "adapted to sliding 4-token spans over this corpus's sentence-free "
    "text. Every span occurrence hashes to a 128-bit key; the globally "
    "first occurrence (min (doc_id, pos)) survives and every other "
    "occurrence is marked removed. Physical shape: each hash keeps "
    "exactly ONE winner occurrence, and per-doc attribution only needs "
    "the winner's DOCUMENT — the (doc_id, pos) tiebreak is internal to "
    "a doc and cannot change its counts — so the winner set is "
    "min(doc_id) per span hash: a pure BIGINT min, genuinely "
    "hash-aggregable (min over a struct or string silently falls back "
    "to SortAggregate, a per-task sort of the whole occurrence "
    "stream). Partial aggregation combines map-side, so a boilerplate "
    "span occurring in half the corpus (cookie banners) costs one "
    "combiner row per task instead of one giant sorted partition; the "
    "plan check asserts NO SortAggregate exists. The expensive "
    "explode+md5 subtree is evaluated ONCE (the winners branch); "
    "per-doc span counts need no explode at all — n_spans = "
    "size(tokens) - 3 is arithmetic on the scan. n_lost = n_spans - "
    "n_kept. Per-doc outputs are pure integers so the oracle hash is "
    "exact; the oracle states the same winner rule as a row_number "
    "window over (doc_id, pos), which is value-identical.",
)
def q_span_dedup(spark, sf_dir):
    tok = (load_wide(spark, sf_dir, "documents")
           .select("doc_id", F.split("text", " ").alias("t"))
           .where(F.size("t") >= 4))
    n_spans = tok.select(
        "doc_id", (F.size("t") - 3).cast("long").alias("n_spans"))
    occ = tok.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(t) - 3), "
            "i -> md5(array_join(slice(t, i, 4), ' ')))")).alias("h"))
    winners = (occ.groupBy("h")
               .agg(F.min("doc_id").alias("doc_id")))
    n_kept = winners.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"))
    agg = (n_spans.join(n_kept, "doc_id", "left")
           .select("doc_id", "n_spans",
                   (F.col("n_spans")
                    - F.coalesce(F.col("n_kept"), F.lit(0)))
                   .cast("long").alias("n_lost")))
    return agg.select(
        "doc_id", "n_spans", "n_lost",
        F.expr("(n_spans - n_lost) * 10000 DIV n_spans").alias("keep_bp"))


@register(
    "bigram_surprisal",
    """WITH tok AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       occ AS (
         SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
           SELECT doc_id,
                  unnest([{'w1': t[i], 'w2': t[i+1]}
                          for i in range(1, len(t))]) AS u
           FROM tok WHERE len(t) >= 2)),
       bc AS (
         SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
         FROM occ GROUP BY w1, w2),
       uc AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bc GROUP BY w1),
       j AS (
         SELECT o.doc_id,
                CAST(len(bin(uc.c1)) - len(bin(bc.c2)) AS BIGINT) AS bits
         FROM occ o
         JOIN bc ON o.w1 = bc.w1 AND o.w2 = bc.w2
         JOIN uc ON o.w1 = uc.w1),
       doc AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(bits) AS BIGINT) AS surprisal_bits
         FROM j GROUP BY doc_id)
     SELECT doc_id, n_bigrams, surprisal_bits,
            CAST(surprisal_bits * 1000 // n_bigrams AS BIGINT) AS avg_mbits,
            CASE WHEN surprisal_bits * 1000 // n_bigrams < 4500 THEN 'head'
                 WHEN surprisal_bits * 1000 // n_bigrams < 4650 THEN 'middle'
                 ELSE 'tail' END AS ppl_bucket
     FROM doc""",
    "Language-model quality scoring (training-data pipeline): the "
    "CCNet/ccnet-style perplexity filter with the KenLM model replaced "
    "by a corpus-trained bigram LM whose per-token surprisal "
    "-log2 p(w2|w1) is quantized to whole bits as "
    "bitlength(count(w1)) - bitlength(count(w1,w2)) — pure integer "
    "arithmetic (Spark bin()/DuckDB bin() string length), so per-doc "
    "sums are order-free BIGINTs and the value hash is exact with no "
    "float summation-order risk. Two-pass distributed shape exactly "
    "like production LM filtering: pass 1 trains the model (one "
    "groupBy over exploded bigrams), pass 2 scores every occurrence "
    "and aggregates per doc. Join posture: the unigram context table "
    "is vocab-sized and broadcasts (CCNet likewise ships its KenLM "
    "binary to every worker); the bigram table grows with the corpus, "
    "so its join is left UNHINTED — a shuffle equi-join on the "
    "(uniform) word-pair key that AQE converts to broadcast only when "
    "runtime stats say it fits. Docs land in head/middle/tail buckets "
    "like CCNet's perplexity terciles.",
)
def q_bigram_surprisal(spark, sf_dir):
    tok = load_wide(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t"))
    occ = tok.where(F.size("t") >= 2).select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(t) - 1), i -> struct("
            "element_at(t, i) as w1, element_at(t, i + 1) as w2))"))
        .alias("u")
    ).select("doc_id", F.col("u.w1").alias("w1"), F.col("u.w2").alias("w2"))
    bc = occ.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c2"))
    uc = bc.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    # r7: surprisal bits are a function of the (w1, w2) GROUP, not the
    # occurrence — compute them once per distinct bigram on the counts
    # table and join occurrences a single time (was: occ joined bc AND uc,
    # with the bin()/length() string machinery run per occurrence row).
    # Integer-exact, so the per-doc sums are unchanged. Both joins stay
    # unhinted: the bigram/unigram tables grow with corpus vocabulary,
    # AQE upgrades them to broadcast only when runtime stats fit
    # (ADVICE r6: a forced broadcast of uc could OOM at the 100 TB
    # posture).
    bits = (F.length(F.bin(F.col("c1")))
            - F.length(F.bin(F.col("c2")))).cast("long")
    bb = bc.join(uc, ["w1"]).select("w1", "w2", bits.alias("bits"))
    j = occ.join(bb, ["w1", "w2"])
    doc = j.select("doc_id", "bits").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("bits").cast("long").alias("surprisal_bits"))
    avg = F.expr("surprisal_bits * 1000 DIV n_bigrams")
    return doc.select(
        "doc_id", "n_bigrams", "surprisal_bits",
        avg.alias("avg_mbits"),
        F.when(avg < 4500, "head").when(avg < 4650, "middle")
        .otherwise("tail").alias("ppl_bucket"))


@register(
    "domain_mix_weights",
    """WITH d AS (
         SELECT lang, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         FROM documents),
       grp AS (
         SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS n_tokens
         FROM d GROUP BY lang, source),
       tot AS (
         SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(count(*) AS BIGINT) AS n_groups
         FROM grp)
     SELECT lang, source, n_docs, n_tokens,
            CAST(n_tokens * 1000000 // total_tokens AS BIGINT)
                AS weight_ppm,
            CAST((n_tokens * 1000000 // total_tokens
                  + 1000000 // n_groups) // 2 AS BIGINT) AS smoothed_ppm
     FROM grp, tot""",
    "Data-mixing weights (training-data pipeline): the mixture-weight "
    "computation that precedes sampled pretraining (DoReMi / The Pile "
    "style) — per-(lang, source) token totals as a share of the corpus "
    "in ppm, plus a 50/50 blend with the uniform mixture as the "
    "smoothed sampling weight. One aggregation to the group grain, one "
    "scalar-sized broadcast of the totals back across the group table; "
    "integer ppm arithmetic keeps the oracle hash exact.",
)
def q_domain_mix_weights(spark, sf_dir):
    d = load_wide(spark, sf_dir, "documents").select(
        "lang", "source",
        F.size(F.split("text", " ")).cast("long").alias("n"))
    grp = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"))
    tot = grp.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_groups"))
    return grp.crossJoin(F.broadcast(tot)).select(
        "lang", "source", "n_docs", "n_tokens",
        F.expr("n_tokens * 1000000 DIV total_tokens").alias("weight_ppm"),
        F.expr("(n_tokens * 1000000 DIV total_tokens"
               " + 1000000 DIV n_groups) DIV 2").alias("smoothed_ppm"))


@register(
    "incremental_dedup",
    f"""WITH docs AS (
         SELECT doc_id, text, md5(text) AS fp FROM documents
         WHERE len(regexp_extract_all(text, '\\S+')) >= 3),
       sigs AS (SELECT doc_id, fp, {_minhash_sigs_sql(6)} FROM docs),
       b AS (
         SELECT doc_id, fp,
                {_BAND1_SQL} AS b1,
                {_BAND2_SQL} AS b2
         FROM sigs),
       cat AS (SELECT * FROM b WHERE doc_id % 5 <> 4),
       newb AS (SELECT * FROM b WHERE doc_id % 5 = 4),
       catbands AS (
         SELECT b1 AS h FROM cat UNION SELECT b2 FROM cat),
       hits AS (
         SELECT n.doc_id,
                n.fp IN (SELECT fp FROM cat) AS exact_dup,
                CAST((CASE WHEN n.b1 IN (SELECT h FROM catbands)
                           THEN 1 ELSE 0 END
                    + CASE WHEN n.b2 IN (SELECT h FROM catbands)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_band_hits
         FROM newb n)
     SELECT doc_id, exact_dup, n_band_hits,
            n_band_hits > 0 AS near_dup,
            NOT exact_dup AND n_band_hits = 0 AS admitted
     FROM hits""",
    "Incremental (continuous-ingestion) dedup: the production posture "
    "at 100 TB is not one-shot — new shards arrive and must dedup "
    "against the STANDING catalog, not against themselves alone. The "
    "doc_id%5==4 slice plays the incoming batch; the rest is the "
    "catalog. Exact layer = fingerprint membership against the "
    "catalog's fp set; near layer = MinHash-LSH band membership (the "
    "same 6-signature/2-band construction as lsh_candidate_pairs) "
    "against the catalog's band-hash set. Both layers are hash "
    "equi-joins keyed by uniform digests — batch-sized left side, "
    "catalog-sized right side, no self-join, no signature recompute "
    "for the catalog at deployment (its bands persist as the LSH "
    "index table, exactly like the seen-set bloom segments persist "
    "for URL dedup). Admitted = no exact hit and zero band hits.",
)
def q_incremental_dedup(spark, sf_dir):
    documents = load_wide(spark, sf_dir, "documents")
    words = F.regexp_extract_all("text", F.lit(r"\S+"), 0)
    base = (
        documents.where(F.size(words) >= 3)
        .withColumn("__dg", _minhash_digest_col())
        .select("doc_id", F.md5("text").alias("fp"),
                *_minhash_sigs_spark(6))
        # the signature subtree feeds catalog AND batch branches —
        # materialize once (same posture as lsh_candidate_pairs)
        .localCheckpoint()
    )
    b = base.select(
        "doc_id", "fp",
        *(c.alias(n) for c, n in zip(_band_hash_cols(), ("b1", "b2"))))
    cat = b.where(F.col("doc_id") % 5 != 4)
    new = b.where(F.col("doc_id") % 5 == 4)
    catbands = (cat.select(F.col("b1").alias("h"))
                .union(cat.select(F.col("b2").alias("h")))
                .distinct())
    catfp = cat.select("fp").distinct().withColumn("me", F.lit(1))
    m1 = catbands.select(F.col("h").alias("b1"), F.lit(1).alias("m1"))
    m2 = catbands.select(F.col("h").alias("b2"), F.lit(1).alias("m2"))
    hits = (new.join(m1, "b1", "left")
            .join(m2, "b2", "left")
            .join(catfp, "fp", "left"))
    n_band_hits = (F.coalesce(F.col("m1"), F.lit(0))
                   + F.coalesce(F.col("m2"), F.lit(0))).cast("long")
    return hits.select(
        "doc_id",
        F.col("me").isNotNull().alias("exact_dup"),
        n_band_hits.alias("n_band_hits"),
        (n_band_hits > 0).alias("near_dup"),
        (F.col("me").isNull() & (n_band_hits == 0)).alias("admitted"))


@register(
    "semantic_dedup",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings),
       med AS (SELECT vec_id AS m, v AS mv FROM e WHERE vec_id < 8),
       sc AS (
         SELECT e.vec_id, med.m,
                ROUND(list_cosine_similarity(e.v, med.mv), 6) AS c
         FROM e, med),
       asg AS (
         SELECT vec_id, m AS cluster FROM (
           SELECT vec_id, m,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY c DESC, m ASC) AS rn
           FROM sc) WHERE rn = 1),
       ec AS (
         SELECT a.vec_id AS vid, a.cluster, e.v
         FROM asg a JOIN e ON a.vec_id = e.vec_id),
       pairs AS (
         SELECT b.vid AS dup_id
         FROM ec a JOIN ec b ON a.cluster = b.cluster AND a.vid < b.vid
         WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
       dups AS (
         SELECT dup_id, CAST(count(*) AS BIGINT) AS n
         FROM pairs GROUP BY dup_id),
       sz AS (
         SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         FROM asg GROUP BY cluster)
     SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
            s.cluster_size,
            CAST(coalesce(d.n, 0) AS BIGINT) AS n_dups_to_earlier,
            d.dup_id IS NOT NULL AS dropped
     FROM asg a
     JOIN sz s USING (cluster)
     LEFT JOIN dups d ON a.vec_id = d.dup_id""",
    "Semantic deduplication (training-data pipeline): the SemDeDup "
    "recipe (Abbas et al. 2023) — cluster the embedding space, then "
    "search for near-duplicates ONLY within each cluster, so the "
    "pairwise work is bounded by cluster size instead of corpus size. "
    "Centroids here are 8 fixed medoid documents (vec_id < 8) so the "
    "assignment is deterministic and the oracle exact; production "
    "swaps in the k-means centroids ann.py already trains. Assignment "
    "= argmax cosine over the broadcast medoid table (keyed window, "
    "ties to the lowest medoid); near-dup = within-cluster cosine "
    ">= 0.4 on the 6-dp rounded value (same fixed-order double fold "
    "and rounding discipline as embed_cosine_pairs); survivors keep "
    "the lowest vec_id per duplicate pair. Scale posture: K is a "
    "PARAMETER (n_medoids, default 8 for the fixed oracle corpus) and "
    "must grow with the corpus — SemDeDup itself uses ~100k clusters "
    "so per-cluster blocks stay small and the within-cluster pair "
    "join's key cardinality scales with the data; at K=8 the pair "
    "stage is quadratic-per-cluster and only appropriate at oracle "
    "scale, exactly like the demoted embed_cosine_pairs block join.",
)
def q_semantic_dedup(spark, sf_dir, n_medoids: int = 8):
    # r7 optimization (guide §2.3/§2.4): the L2 norm is a per-VECTOR
    # quantity — precompute it once per row (`nv`) instead of re-folding it
    # inside every pair's cosine (bit-identical: the same left-to-right
    # double fold, evaluated once and carried as a column; IEEE ops are
    # deterministic, so dot/(na*nb) is unchanged to the last ulp). The
    # assignment subtree (crossJoin + window) used to be re-derived by
    # every downstream reference (ec twice via the self-join, sz, and the
    # final join) — localCheckpoint materializes it once, and its accurate
    # size stats let AQE broadcast the small sides unhinted.
    norm = F.sqrt(F.aggregate(
        F.transform(F.col("v"), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))
    e = (load_wide(spark, sf_dir, "embeddings")
         .select("vec_id",
                 F.transform("embedding",
                             lambda x: x.cast("double")).alias("v"))
         .withColumn("nv", norm)
         .localCheckpoint())
    med = (e.where(F.col("vec_id") < n_medoids)
           .select(F.col("vec_id").alias("m"), F.col("v").alias("mv"),
                   F.col("nv").alias("nm")))
    dot_m = F.aggregate(F.zip_with(F.col("v"), F.col("mv"),
                                   lambda x, y: x * y),
                        F.lit(0.0), lambda acc, x: acc + x)
    sc = e.crossJoin(F.broadcast(med)).select(
        "vec_id", "m",
        F.round(dot_m / (F.col("nv") * F.col("nm")), 6).alias("c"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("c").desc(), F.col("m").asc())
    asg = (sc.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") == 1)
           .select("vec_id", F.col("m").alias("cluster"))
           .localCheckpoint())
    # The assignment join's output lands AQE-coalesced to one partition
    # (byte-based coalescing; the frame is ~1 MB) — but the pair stage
    # below is compute-dense per byte, so pin its parallelism with an
    # explicit repartition (REPARTITION_BY_NUM is exempt from coalescing).
    ec = (asg.join(e, "vec_id")
          .select(F.col("vec_id").alias("vid"), "cluster", "v", "nv")
          .repartition(spark.sparkContext.defaultParallelism)
          .localCheckpoint())
    a, b = ec.alias("a"), ec.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("a.nv") * F.col("b.nv"))
    # Deliberate broadcast (guide §3.1), bound to the ORACLE configuration:
    # with fixed K medoids the assigned-vector table is the oracle corpus
    # (sf-small by design — this query is the quadratic-per-cluster exact
    # twin; the production path scales K with the corpus and goes through
    # ann.py's learned centroids). Broadcasting the probe side keeps the
    # per-pair cosine fold map-side on the checkpointed partitioning —
    # the unhinted plan shuffles on `cluster` (8 keys) and AQE's byte-based
    # coalescing then collapses the compute-dense pair stage onto a single
    # task (measured 3.2 s single-task vs ~0.3 s spread).
    pairs = (a.join(F.broadcast(b),
                    (F.col("a.cluster") == F.col("b.cluster"))
                    & (F.col("a.vid") < F.col("b.vid")))
             .where(F.round(cos, 6) >= 0.4)
             .select(F.col("b.vid").alias("dup_id")))
    dups = pairs.groupBy("dup_id").agg(
        F.count("*").cast("long").alias("n"))
    sz = asg.groupBy("cluster").agg(
        F.count("*").cast("long").alias("cluster_size"))
    return (asg.join(sz, "cluster")
            .join(dups, asg["vec_id"] == dups["dup_id"], "left")
            .select("vec_id",
                    F.col("cluster").cast("long").alias("cluster"),
                    "cluster_size",
                    F.coalesce(F.col("n"), F.lit(0)).cast("long")
                    .alias("n_dups_to_earlier"),
                    F.col("dup_id").isNotNull().alias("dropped")))


@register(
    "pretrain_data_pipeline",
    """WITH tok AS (
         SELECT doc_id, lang, string_split(text, ' ') AS t,
                md5(text) AS fp
         FROM documents),
       q AS (SELECT * FROM tok WHERE len(t) >= 20),
       d AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY fp
                                        ORDER BY doc_id) AS rn
           FROM q) WHERE rn = 1),
       bench AS (
         SELECT DISTINCT
                unnest([md5(array_to_string(t[i:i+3], ' '))
                        for i in range(1, greatest(len(t) - 2, 1))]) AS g
         FROM tok WHERE len(t) >= 4 AND doc_id % 13 = 0),
       train_grams AS (
         SELECT doc_id,
                unnest([md5(array_to_string(t[i:i+3], ' '))
                        for i in range(1, greatest(len(t) - 2, 1))]) AS g
         FROM d WHERE doc_id % 13 <> 0),
       contaminated AS (
         SELECT DISTINCT c.doc_id
         FROM train_grams c JOIN bench b USING (g)),
       clean AS (
         SELECT * FROM d
         WHERE doc_id % 13 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       s AS (
         SELECT *,
                ((strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                1, 1)) - 1) * 4096
                 + (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                  2, 1)) - 1) * 256
                 + (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                  3, 1)) - 1) * 16
                 + (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR) || ':sample'),
                                  4, 1)) - 1)) AS bucket
         FROM clean),
       keep AS (
         SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
                CAST(doc_id % 8 AS BIGINT) AS shard
         FROM s
         WHERE bucket < CASE lang WHEN 'en' THEN 49152
                                  WHEN 'de' THEN 16384
                                  ELSE 6553 END),
       c AS (
         SELECT *,
                CAST(coalesce(sum(n_tokens) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_offset
         FROM keep)
     SELECT doc_id, lang, shard, n_tokens, start_offset,
            start_offset // 512 AS first_seq,
            (start_offset + n_tokens - 1) // 512 AS last_seq
     FROM c""",
    "The capstone composition — the full webtext pretraining data-prep "
    "chain as ONE dataflow, every stage of which is also individually "
    "oracled in this registry: (1) quality floor (>=20 tokens, the "
    "Gopher word-count gate), (2) exact dedup (md5 fingerprint, "
    "first-doc-wins keyed window), (3) benchmark decontamination (drop "
    "any training doc sharing a 4-token shingle with the held-out "
    "doc_id%13 benchmark set, which is itself excluded from the "
    "output; bench shingles come from the RAW corpus, before the floor "
    "and the dedup, so a verbatim benchmark copy cannot slip through "
    "by out-competing the benchmark doc in dedup), (4) deterministic "
    "stratified sampling (per-language "
    "hash-threshold keep rates), (5) fixed-512-token sequence packing "
    "(per-shard keyed-window running sum, closed-form placement). "
    "Shuffle inventory at 100 TB: one window by fingerprint, one "
    "shingle equi-join (both sides scale with the corpus; the key is a "
    "uniform hash so it shuffles cleanly — no broadcast assumption), "
    "one anti-join on doc_id, one keyed window by shard — "
    "no self-joins, no unpartitioned windows; everything else is "
    "map-side. Pure integer/hash outputs, exact oracle.",
)
def q_pretrain_data_pipeline(spark, sf_dir):
    tok = load_wide(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("t"),
        F.md5(F.col("text")).alias("fp"))
    q = tok.where(F.size("t") >= 20)
    d = (q.withColumn("rn", F.row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
         .where(F.col("rn") == 1).drop("rn"))
    # bench shingles come from the RAW corpus (tok, not d): a benchmark
    # doc dropped by the floor or out-competed in dedup must still
    # contribute its shingles, or its verbatim copies leak into
    # training. The TRAINING side only needs shingles of docs that
    # survived the floor + dedup (d) — anything else is discarded by
    # the anti-join anyway, so exploding it is wasted shuffle volume
    gram_expr = F.explode(F.expr(
        "transform(sequence(1, size(t) - 3), "
        "i -> md5(array_join(slice(t, i, 4), ' ')))")).alias("g")
    bench = (tok.where((F.size("t") >= 4) & (F.col("doc_id") % 13 == 0))
             .select(gram_expr).distinct())
    contaminated = (d.where(F.col("doc_id") % 13 != 0)
                    .select("doc_id", gram_expr)
                    .join(bench, "g").select("doc_id").distinct())
    clean = (d.where(F.col("doc_id") % 13 != 0)
             .join(contaminated, "doc_id", "left_anti"))
    hexpos = ("(locate(substring(md5(concat(cast(doc_id as string), "
              "':sample')), {i}, 1), '0123456789abcdef') - 1)")
    bucket = F.expr(" + ".join(
        f"{hexpos.format(i=i)} * {16 ** (4 - i)}" for i in range(1, 5)))
    rate = (F.when(F.col("lang") == "en", F.lit(49152))
            .when(F.col("lang") == "de", F.lit(16384))
            .otherwise(F.lit(6553)))
    keep = (clean.withColumn("bucket", bucket).where(F.col("bucket") < rate)
            .select("doc_id", "lang",
                    F.size("t").cast("long").alias("n_tokens"),
                    (F.col("doc_id") % 8).cast("long").alias("shard")))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    placed = keep.withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"))
    return placed.select(
        "doc_id", "lang", "shard", "n_tokens", "start_offset",
        F.expr("start_offset DIV 512").alias("first_seq"),
        F.expr("(start_offset + n_tokens - 1) DIV 512").alias("last_seq"))


@register(
    "auth_gateway",
    """WITH req AS (
         SELECT event_id AS rid, CAST(event_id % 9 AS INT) AS c,
                CAST(1 + event_id % 3 AS INT) AS oct3,
                CASE CAST((event_id // 9) % 3 AS INT)
                     WHEN 0 THEN 200 WHEN 1 THEN 302 ELSE 500 END AS r8,
                CAST(event_id % 3 AS DOUBLE) AS cu7
         FROM events),
       s AS (
         SELECT rid, c, r8, cu7,
                'POST' AS method,
                CASE c WHEN 6 THEN '/v1/search'
                       WHEN 7 THEN '/v1/crawl'
                       ELSE '/v1/scrape' END AS path,
                CASE c WHEN 4 THEN '10.' || CAST(oct3 AS VARCHAR) || '.0.1'
                       WHEN 5 THEN '11.0.0.' || CAST(oct3 AS VARCHAR)
                       ELSE '10.1.2.3' END AS client_ip,
                CASE c WHEN 0 THEN NULL
                       WHEN 1 THEN 'Token k-good'
                       WHEN 2 THEN 'Bearer k-missing'
                       WHEN 3 THEN 'Bearer k-inactive'
                       WHEN 4 THEN 'Bearer k-iplocked'
                       WHEN 5 THEN 'Bearer k-iplocked'
                       WHEN 6 THEN 'Bearer k-broke'
                       ELSE 'Bearer k-good' END AS authorization
         FROM req),
       g AS (
         SELECT *,
                CASE c WHEN 0 THEN 'No authorization header provided'
                       WHEN 1 THEN 'Invalid authorization header format'
                       WHEN 2 THEN 'Invalid API key'
                       WHEN 3 THEN 'API key is inactive'
                       WHEN 5 THEN 'IP address not allowed'
                       WHEN 6 THEN 'Insufficient credits' END AS gate_error
         FROM s)
     SELECT rid, method, path, client_ip,
            CASE WHEN gate_error IS NULL THEN NULL
                 WHEN gate_error = 'IP address not allowed' THEN 403
                 WHEN gate_error = 'Insufficient credits' THEN 402
                 ELSE 401 END AS gate_status,
            gate_error,
            CASE WHEN gate_error IS NOT NULL THEN NULL
                 WHEN c = 4 THEN 'u3' ELSE 'u1' END AS api_key_uuid,
            CASE WHEN gate_error IS NOT NULL THEN false
                 WHEN c = 7 THEN cu7 > 0
                 WHEN c = 8 THEN r8 < 400
                 ELSE true END AS should_deduct,
            CASE WHEN gate_error IS NOT NULL THEN NULL
                 WHEN c = 7 AND cu7 > 0 THEN 'delta'
                 WHEN c = 8 AND r8 < 400 THEN 'target'
                 WHEN c IN (7, 8) THEN NULL
                 ELSE 'target' END AS billing_mode
     FROM g""",
    "API gateway replay (AuthMiddleware.ts:6-75, "
    "CheckCreditsMiddleware.ts:7-87, DeductCreditsMiddleware.ts:30-52): "
    "Bearer-header chain with exact error strings, per-key CIDR "
    "allowlist via the ipaccess module, the billing-route credit gate "
    "(402 on <=0), and the post-response deduction decision (2xx/3xx + "
    "creditsUsed>0 + jobId; delta for crawl-create else target — the two "
    "modes ledger_rollup replays). One broadcast dim join, row-local "
    "otherwise.",
)
def q_auth_gateway(spark, sf_dir):
    from anycrawl_spark.gateway import auth_gateway

    e = F.col("event_id")
    c = (e % 9).cast("int")
    oct3 = (e % 3 + 1).cast("string")
    resp8 = (F.when(F.floor(e / 9) % 3 == 0, F.lit(200))
             .when(F.floor(e / 9) % 3 == 1, F.lit(302))
             .otherwise(F.lit(500)))
    req = load(spark, sf_dir, "events").select(
        e.alias("rid"), F.lit("POST").alias("method"),
        F.when(c == 6, F.lit("/v1/search"))
        .when(c == 7, F.lit("/v1/crawl"))
        .otherwise(F.lit("/v1/scrape")).alias("path"),
        F.when(c == 0, F.lit(None).cast("string"))
        .when(c == 1, F.lit("Token k-good"))
        .when(c == 2, F.lit("Bearer k-missing"))
        .when(c == 3, F.lit("Bearer k-inactive"))
        .when(c.isin(4, 5), F.lit("Bearer k-iplocked"))
        .when(c == 6, F.lit("Bearer k-broke"))
        .otherwise(F.lit("Bearer k-good")).alias("authorization"),
        F.lit(None).cast("string").alias("cf_connecting_ip"),
        F.lit(None).cast("string").alias("x_forwarded_for"),
        F.lit(None).cast("string").alias("x_real_ip"),
        F.when(c == 4, F.concat(F.lit("10."), oct3, F.lit(".0.1")))
        .when(c == 5, F.concat(F.lit("11.0.0."), oct3))
        .otherwise(F.lit("10.1.2.3")).alias("req_ip"),
        F.when(c == 8, resp8).otherwise(F.lit(200)).cast("int")
        .alias("resp_status"),
        F.when(c == 7, (e % 3).cast("double"))
        .otherwise(F.lit(1.0)).alias("credits_used"),
        F.concat(F.lit("j"), e.cast("string")).alias("job_id"))
    keys = spark.createDataFrame(
        [("k-good", "u1", True, None, 100.0),
         ("k-inactive", "u2", False, None, 100.0),
         ("k-iplocked", "u3", True, ["10.0.0.0/8"], 100.0),
         ("k-broke", "u4", True, None, 0.0)],
        "key string, uuid string, is_active boolean, "
        "allowed_ips array<string>, credits double")
    return auth_gateway(req, keys)


@register(
    "serialize_snake",
    """SELECT event_id AS rid,
              '{"job_id":' || CAST(event_id AS VARCHAR)
              || ',"credits_used":' || CAST(event_id % 90 AS VARCHAR)
              || ',"is_success":'
              || CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END
              || ',"job_results":[{"data_blob":{"inner_key":'
              || CAST(event_id % 7 AS VARCHAR)
              || '}}],"error_message":null}' AS response_json
       FROM events""",
    "API response serialization (serializer.ts:9-52): recursive "
    "camelCase->snake_case key rewrite — every ASCII capital "
    "independently becomes _lower (no acronym smarts), values and key "
    "order untouched, nested objects/arrays recursed. Row-local Arrow "
    "batch; oracle constructs the expected snake JSON directly.",
)
def q_serialize_snake(spark, sf_dir):
    from anycrawl_spark.serializer import serialize_records

    e = F.col("event_id")
    rec = F.concat(
        F.lit('{"jobId":'), e.cast("string"),
        F.lit(',"creditsUsed":'), (e % 90).cast("string"),
        F.lit(',"isSuccess":'),
        F.when(e % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
        F.lit(',"jobResults":[{"dataBlob":{"innerKey":'),
        (e % 7).cast("string"),
        F.lit('}}],"errorMessage":null}'))
    return serialize_records(
        load(spark, sf_dir, "events").select(e.alias("rid"),
                                             rec.alias("record_json")))


@register(
    "crawl_results_page",
    """WITH jobs AS (
         SELECT '00000000-0000-4000-8000-'
                    || lpad(doc_id::VARCHAR, 12, '0') AS job_id,
                ['pending','scraping','completed']
                    [CAST(doc_id % 3 AS INT) + 1] AS status,
                CASE WHEN doc_id % 4 = 0 THEN NULL
                     ELSE CAST(doc_id * 7 AS BIGINT) END AS total,
                CASE WHEN doc_id % 5 = 0 THEN NULL
                     ELSE CAST(doc_id AS BIGINT) END AS completed,
                CASE WHEN doc_id % 6 = 0 THEN NULL
                     ELSE CAST(doc_id * 2 AS BIGINT) END AS credits_used
         FROM documents WHERE doc_id < 50),
       res AS (
         SELECT '00000000-0000-4000-8000-'
                    || lpad((doc_id % 4)::VARCHAR, 12, '0') AS job_id,
                doc_id AS seq,
                'https://site.test/p/' || doc_id::VARCHAR AS url,
                CASE WHEN doc_id % 3 = 0
                     THEN 's/' || doc_id::VARCHAR || '.png' END AS shot,
                CASE WHEN doc_id % 7 = 0
                     THEN 'f/' || doc_id::VARCHAR || '.png' END AS shotf
         FROM documents WHERE doc_id < 480),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY job_id ORDER BY seq)
                    AS rn
         FROM res),
       req AS (
         SELECT doc_id AS req_id,
                CASE WHEN doc_id % 9 = 0 THEN 'job-' || doc_id::VARCHAR
                     WHEN doc_id % 9 = 5 THEN '00000000-0000-4000-8000-'
                          || lpad((600 + doc_id)::VARCHAR, 12, '0')
                     ELSE '00000000-0000-4000-8000-'
                          || lpad((doc_id % 12)::VARCHAR, 12, '0')
                END AS job_id_raw,
                CASE CAST(doc_id % 8 AS INT)
                  WHEN 2 THEN 100 WHEN 5 THEN 15 WHEN 6 THEN 100
                  WHEN 7 THEN 110 ELSE 0 END AS skip,
                doc_id % 9 <> 0 AS uuid_ok
         FROM documents WHERE doc_id < 60),
       page_rows AS (
         SELECT q.req_id, r.rn,
                r.url || '|'
                  || coalesce('https://api.example.com'
                              || '/v1/public/storage/file/' || r.shot, '-')
                  || '|'
                  || coalesce('https://api.example.com'
                              || '/v1/public/storage/file/' || r.shotf, '-')
                    AS line,
                CAST(r.shot IS NOT NULL AS INT)
                  + CAST(r.shotf IS NOT NULL AS INT) AS n_prefixed
         FROM req q JOIN ranked r ON q.job_id_raw = r.job_id
         WHERE q.uuid_ok AND r.rn > q.skip AND r.rn <= q.skip + 100),
       page AS (
         SELECT req_id, count(*) AS page_count,
                md5(string_agg(line, chr(10) ORDER BY rn)) AS page_sig,
                CAST(sum(n_prefixed) AS BIGINT) AS screenshots_prefixed
         FROM page_rows GROUP BY 1),
       cnt AS (SELECT job_id, count(*) AS n_results FROM res GROUP BY 1)
     SELECT q.req_id, q.job_id_raw AS job_id,
            CASE WHEN NOT q.uuid_ok THEN 400
                 WHEN j.job_id IS NULL THEN 400 ELSE 200 END AS http_status,
            CASE WHEN NOT q.uuid_ok THEN 'Invalid job ID'
                 WHEN j.job_id IS NULL THEN 'Not found' END AS error,
            CASE WHEN q.uuid_ok AND j.job_id IS NOT NULL
                 THEN j.status END AS status,
            CASE WHEN q.uuid_ok AND j.job_id IS NOT NULL
                 THEN CAST(coalesce(j.total, coalesce(c.n_results, 0))
                           AS BIGINT) END AS total,
            CASE WHEN q.uuid_ok AND j.job_id IS NOT NULL
                 THEN CAST(coalesce(j.completed, 0) AS BIGINT)
            END AS completed,
            CASE WHEN q.uuid_ok AND j.job_id IS NOT NULL
                 THEN CAST(coalesce(j.credits_used, 0) AS BIGINT)
            END AS credits_used,
            CASE WHEN q.uuid_ok AND j.job_id IS NOT NULL
                 THEN CAST(coalesce(p.page_count, 0) AS BIGINT)
            END AS page_count,
            CASE WHEN q.uuid_ok AND j.job_id IS NOT NULL
                      AND q.skip + coalesce(p.page_count, 0)
                          < coalesce(c.n_results, 0)
                 THEN 'https://api.example.com/v1/crawl/' || q.job_id_raw
                      || '/results?skip='
                      || CAST(CAST(q.skip + coalesce(p.page_count, 0)
                                   AS BIGINT) AS VARCHAR)
            END AS next_url,
            CASE WHEN q.uuid_ok AND j.job_id IS NOT NULL
                 THEN p.page_sig END AS page_sig,
            CASE WHEN q.uuid_ok AND j.job_id IS NOT NULL
                 THEN CAST(coalesce(p.screenshots_prefixed, 0) AS BIGINT)
            END AS screenshots_prefixed
     FROM req q
     LEFT JOIN jobs j ON q.job_id_raw = j.job_id
     LEFT JOIN cnt c ON q.job_id_raw = c.job_id
     LEFT JOIN page p ON q.req_id = p.req_id""",
    "v1 crawl results endpoint replay (CrawlController.ts:265-343 + "
    "Job.ts:289-305): JS skip coercion Math.max(0, Number(raw ?? 0) || 0) "
    "over query-string varieties (absent/''/'-25'/'abc'/' 15 '/'1e2'), "
    "created_at-ordered 100-row pages, hasMore/next-URL assembly, "
    "screenshot path prefixing, and the total/completed/credits_used "
    "envelope fallbacks (job.total ?? actual count). The page itself is "
    "hash-oracled: md5 of the rn-ordered url|screenshot|fullpage lines.",
)
def q_crawl_results_page(spark, sf_dir):
    from anycrawl_spark.controllers import crawl_results_page

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def uuid(n):
        return F.concat(F.lit("00000000-0000-4000-8000-"),
                        F.lpad(n.cast("string"), 12, "0"))

    jobs = docs.where(d < 50).select(
        uuid(d).alias("job_id"),
        F.element_at(F.array(F.lit("pending"), F.lit("scraping"),
                             F.lit("completed")),
                     (d % 3).cast("int") + 1).alias("status"),
        F.when(d % 4 != 0, (d * 7)).cast("bigint").alias("total"),
        F.when(d % 5 != 0, d).cast("bigint").alias("completed"),
        F.when(d % 6 != 0, (d * 2)).cast("bigint").alias("credits_used"))
    results = docs.where(d < 480).select(
        uuid(d % 4).alias("job_id"),
        d.alias("seq"),
        F.concat(F.lit("https://site.test/p/"), d.cast("string"))
        .alias("url"),
        F.when(d % 3 == 0, F.concat(F.lit("s/"), d.cast("string"),
                                    F.lit(".png"))).alias("screenshot"),
        F.when(d % 7 == 0, F.concat(F.lit("f/"), d.cast("string"),
                                    F.lit(".png"))).alias("screenshot_full"))
    requests = docs.where(d < 60).select(
        d.alias("req_id"),
        F.when(d % 9 == 0, F.concat(F.lit("job-"), d.cast("string")))
        .when(d % 9 == 5, uuid(d + 600))
        .otherwise(uuid(d % 12)).alias("job_id_raw"),
        F.element_at(F.array(
            F.lit(None).cast("string"), F.lit(""), F.lit("100"),
            F.lit("-25"), F.lit("abc"), F.lit(" 15 "), F.lit("1e2"),
            F.lit("110")), (d % 8).cast("int") + 1).alias("skip_raw"))
    return crawl_results_page(jobs, results, requests)


@register(
    "task_executions_page",
    """WITH tasks AS (
         SELECT 'task-' || event_id::VARCHAR AS task_uuid,
                CASE WHEN event_id % 3 = 0 THEN NULL
                     ELSE 'u' || (event_id % 5)::VARCHAR END AS user_id,
                CASE WHEN event_id % 4 = 0 THEN NULL
                     ELSE 'k' || (event_id % 6)::VARCHAR END AS api_key
         FROM events WHERE event_id < 30),
       ex AS (
         SELECT 'ex-' || event_id::VARCHAR AS execution_uuid,
                'task-' || (event_id % 25)::VARCHAR AS scheduled_task_uuid,
                event_id AS execution_number,
                CASE WHEN event_id % 31 = 0 THEN 'weird'
                     ELSE ['completed','failed','running','pending',
                           'cancelled'][CAST(event_id % 5 AS INT) + 1]
                END AS status,
                event_id % 6 <> 0 AS has_start,
                event_id % 7 <> 0 AS has_end,
                CASE WHEN event_id % 4 = 0 THEN NULL
                     ELSE 'job-' || (event_id % 97)::VARCHAR END AS job_uuid,
                event_id AS created_seq
         FROM events WHERE event_id < 1500),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY scheduled_task_uuid
                                      ORDER BY created_seq DESC) AS rn
         FROM ex),
       jobs AS (
         SELECT 'job-' || event_id::VARCHAR AS job_uuid,
                CASE WHEN event_id % 5 = 0 THEN NULL
                     ELSE CAST(event_id * 2 AS BIGINT) END AS credits_used,
                CASE WHEN event_id % 6 = 0 THEN NULL
                     ELSE CAST(event_id * 3 AS BIGINT) END AS total,
                CASE WHEN event_id % 7 = 0 THEN NULL
                     ELSE CAST(event_id AS BIGINT) END AS completed,
                CASE WHEN event_id % 8 = 0 THEN NULL
                     ELSE CAST(event_id % 4 AS BIGINT) END AS failed,
                CASE WHEN event_id % 2 = 0 THEN 'completed'
                     ELSE 'failed' END AS status
         FROM events WHERE event_id < 97),
       req AS (
         SELECT event_id AS req_id,
                'task-' || (event_id % 32)::VARCHAR AS task_id,
                CASE CAST(event_id % 4 AS INT)
                  WHEN 0 THEN NULL WHEN 1 THEN ''
                  WHEN 2 THEN 'u' || (event_id % 5)::VARCHAR
                  ELSE 'u9' END AS owner_user,
                CASE CAST(event_id % 3 AS INT)
                  WHEN 0 THEN NULL
                  WHEN 1 THEN 'k' || (event_id % 6)::VARCHAR
                  ELSE 'k9' END AS owner_key,
                CASE CAST(event_id % 6 AS INT)
                  WHEN 2 THEN 7 WHEN 5 THEN 15 ELSE 100 END AS lim,
                CASE CAST(event_id % 5 AS INT)
                  WHEN 1 THEN 3 WHEN 4 THEN 55 ELSE 0 END AS off
         FROM events WHERE event_id < 48),
       owned AS (
         SELECT r.*, t.task_uuid
         FROM req r LEFT JOIN tasks t ON r.task_id = t.task_uuid AND
           CASE WHEN r.owner_user IS NOT NULL AND r.owner_user <> ''
                  THEN t.user_id = r.owner_user
                WHEN r.owner_key IS NOT NULL AND r.owner_key <> ''
                  THEN t.api_key = r.owner_key
                ELSE true END),
       picked AS (
         SELECT g.req_id, g.task_id, g.off, e.rn, e.execution_uuid,
                e.execution_number, e.status, e.has_start, e.has_end,
                j.credits_used AS j_credits, j.total AS j_total,
                j.completed AS j_completed, j.failed AS j_failed,
                j.status AS j_status
         FROM (SELECT * FROM owned WHERE task_uuid IS NOT NULL) g
         LEFT JOIN ranked e ON g.task_id = e.scheduled_task_uuid
              AND e.rn > g.off AND e.rn <= g.off + g.lim
         LEFT JOIN jobs j ON e.job_uuid = j.job_uuid)
     SELECT req_id, task_id, 200 AS http_status,
            CAST(NULL AS VARCHAR) AS error,
            CAST(rn - off AS BIGINT) AS position,
            execution_uuid,
            CAST(execution_number AS BIGINT) AS execution_number,
            status,
            CAST(CASE WHEN has_start AND has_end
                 THEN execution_number * 77 END AS BIGINT) AS duration_ms,
            CASE WHEN execution_uuid IS NULL THEN NULL
                 WHEN status = 'completed' THEN 'CircleCheck'
                 WHEN status = 'failed' THEN 'CircleX'
                 WHEN status = 'running' THEN 'Loader'
                 WHEN status = 'pending' THEN 'Clock'
                 WHEN status = 'cancelled' THEN 'Ban'
                 ELSE 'Clock' END AS icon,
            j_credits AS credits_used, j_total AS items_processed,
            j_completed AS items_succeeded, j_failed AS items_failed,
            j_status AS job_status
     FROM picked
     UNION ALL
     SELECT req_id, task_id, 404, 'Task not found',
            NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
            NULL
     FROM owned WHERE task_uuid IS NULL""",
    "Scheduled-task executions endpoint replay "
    "(ScheduledTasksController.ts:580-652 + pagination.ts + "
    "OwnerAccess.ts:7-17): JS-truthy owner precedence (empty-string "
    "userId falls through to apiKey), normalizePagination parseInt "
    "legs ('0'/'-3'/'abc' -> defaults, '15x' -> 15), created_at DESC "
    "pages, job LEFT JOIN decoration, durationMs only when both "
    "timestamps set, status icons with the || 'Clock' fallback, and the "
    "empty-page 200 envelope (data: []) kept as an all-NULL row.",
)
def q_task_executions_page(spark, sf_dir):
    from anycrawl_spark.controllers import task_executions_page

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")
    tasks = ev.where(e < 30).select(
        F.concat(F.lit("task-"), e.cast("string")).alias("task_uuid"),
        F.when(e % 3 != 0, F.concat(F.lit("u"), (e % 5).cast("string")))
        .alias("user_id"),
        F.when(e % 4 != 0, F.concat(F.lit("k"), (e % 6).cast("string")))
        .alias("api_key"))
    base_ms = F.lit(1700000000000) + e * 1000
    executions = ev.where(e < 1500).select(
        F.concat(F.lit("ex-"), e.cast("string")).alias("execution_uuid"),
        F.concat(F.lit("task-"), (e % 25).cast("string"))
        .alias("scheduled_task_uuid"),
        e.alias("execution_number"),
        F.when(e % 31 == 0, F.lit("weird")).otherwise(
            F.element_at(F.array(F.lit("completed"), F.lit("failed"),
                                 F.lit("running"), F.lit("pending"),
                                 F.lit("cancelled")),
                         (e % 5).cast("int") + 1)).alias("status"),
        F.when(e % 6 != 0, F.timestamp_millis(base_ms)).alias("started_at"),
        F.when(e % 7 != 0, F.timestamp_millis(base_ms + e * 77))
        .alias("completed_at"),
        F.when(e % 4 != 0, F.concat(F.lit("job-"), (e % 97).cast("string")))
        .alias("job_uuid"),
        e.alias("created_seq"))
    jobs = ev.where(e < 97).select(
        F.concat(F.lit("job-"), e.cast("string")).alias("job_uuid"),
        F.when(e % 5 != 0, e * 2).cast("bigint").alias("credits_used"),
        F.when(e % 6 != 0, e * 3).cast("bigint").alias("total"),
        F.when(e % 7 != 0, e).cast("bigint").alias("completed"),
        F.when(e % 8 != 0, e % 4).cast("bigint").alias("failed"),
        F.when(e % 2 == 0, F.lit("completed")).otherwise(F.lit("failed"))
        .alias("status"))
    requests = ev.where(e < 48).select(
        e.alias("req_id"),
        F.concat(F.lit("task-"), (e % 32).cast("string")).alias("task_id"),
        F.when(e % 4 == 1, F.lit(""))
        .when(e % 4 == 2, F.concat(F.lit("u"), (e % 5).cast("string")))
        .when(e % 4 == 3, F.lit("u9")).alias("owner_user"),
        F.when(e % 3 == 1, F.concat(F.lit("k"), (e % 6).cast("string")))
        .when(e % 3 == 2, F.lit("k9")).alias("owner_key"),
        F.element_at(F.array(
            F.lit(None).cast("string"), F.lit("0"), F.lit("7"),
            F.lit("abc"), F.lit("-3"), F.lit("15x")),
            (e % 6).cast("int") + 1).alias("limit_raw"),
        F.element_at(F.array(
            F.lit(None).cast("string"), F.lit("3"), F.lit("-2"),
            F.lit("x"), F.lit("55")),
            (e % 5).cast("int") + 1).alias("offset_raw"))
    return task_executions_page(tasks, executions, jobs, requests)


@register(
    "job_cancel_gate",
    """WITH jobs AS (
         SELECT '00000000-0000-4000-8000-'
                    || lpad(event_id::VARCHAR, 12, '0') AS job_id,
                ['pending','scraping','completed','failed','cancelled']
                    [CAST(event_id % 5 AS INT) + 1] AS status,
                'https://site.test/j/' || event_id::VARCHAR AS url
         FROM events WHERE event_id < 40),
       req AS (
         SELECT event_id AS req_id,
                CASE WHEN event_id % 7 = 0 THEN 'not-a-uuid'
                     WHEN event_id % 7 = 3 THEN '00000000-0000-4000-8000-'
                          || lpad((600 + event_id)::VARCHAR, 12, '0')
                     ELSE '00000000-0000-4000-8000-'
                          || lpad((event_id % 40)::VARCHAR, 12, '0')
                END AS job_id_raw,
                event_id % 7 <> 0 AS uuid_ok
         FROM events WHERE event_id < 60)
     SELECT r.req_id, r.job_id_raw AS job_id,
            CASE WHEN NOT r.uuid_ok THEN 400
                 WHEN j.job_id IS NULL THEN 404
                 WHEN j.status IN ('completed', 'failed', 'cancelled')
                   THEN 409
                 ELSE 200 END AS http_status,
            CASE WHEN NOT r.uuid_ok THEN 'Invalid job ID'
                 WHEN j.job_id IS NULL THEN 'Not found'
                 WHEN j.status IN ('completed', 'failed', 'cancelled')
                   THEN 'Job already finished' END AS error,
            CASE WHEN r.uuid_ok AND j.job_id IS NOT NULL
                      AND j.status NOT IN ('completed', 'failed',
                                           'cancelled')
                 THEN 'cancelled' END AS new_status,
            CASE WHEN r.uuid_ok AND j.job_id IS NOT NULL
                      AND j.status NOT IN ('completed', 'failed',
                                           'cancelled')
                 THEN 'crawl.cancelled' END AS webhook_event,
            CASE WHEN r.uuid_ok AND j.job_id IS NOT NULL
                      AND j.status NOT IN ('completed', 'failed',
                                           'cancelled')
                 THEN j.url END AS webhook_url
     FROM req r LEFT JOIN jobs j ON r.job_id_raw = j.job_id""",
    "Cancel-endpoint transition gate (CrawlController.ts:349-435): "
    "invalid uuid -> 400, missing job -> 404 (unlike results' 400), "
    "finished statuses -> 409 'Job already finished', else the cancel "
    "plus the crawl.cancelled webhook event with the job's url "
    "(WebhookEvents CRAWL_CANCELLED payload).",
)
def q_job_cancel_gate(spark, sf_dir):
    from anycrawl_spark.controllers import job_cancel_gate

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")

    def uuid(n):
        return F.concat(F.lit("00000000-0000-4000-8000-"),
                        F.lpad(n.cast("string"), 12, "0"))

    jobs = ev.where(e < 40).select(
        uuid(e).alias("job_id"),
        F.element_at(F.array(F.lit("pending"), F.lit("scraping"),
                             F.lit("completed"), F.lit("failed"),
                             F.lit("cancelled")),
                     (e % 5).cast("int") + 1).alias("status"),
        F.concat(F.lit("https://site.test/j/"), e.cast("string"))
        .alias("url"))
    requests = ev.where(e < 60).select(
        e.alias("req_id"),
        F.when(e % 7 == 0, F.lit("not-a-uuid"))
        .when(e % 7 == 3, uuid(e + 600))
        .otherwise(uuid(e % 40)).alias("job_id_raw"))
    return job_cancel_gate(jobs, requests)


_CMP_SQL_IMG = r"'!\[[^\]]*\]\([^)]+\)'"
_CMP_SQL_LNK = r"'\[([^\]]+)\]\([^)]+\)'"


def _duck_nt(col: str) -> str:
    return f"trim(regexp_replace(coalesce({col}, ''), '\\s+', ' ', 'g'))"


def _duck_cmp(col: str) -> str:
    return ("lower(trim(regexp_replace(regexp_replace(regexp_replace("
            f"regexp_replace({_duck_nt(col)}, {_CMP_SQL_IMG}, ' ', 'g'), "
            f"{_CMP_SQL_LNK}, '\\1', 'g'), "
            "'[#>*_~`|]', ' ', 'g'), '\\s+', ' ', 'g')))")


_CACHE_GATE_ORACLE = f"""WITH d AS (
      SELECT doc_id, CAST(doc_id % 12 AS INT) AS m,
             CAST(doc_id % 5 AS INT) AS u, CAST(doc_id % 4 AS INT) AS o,
             (doc_id % 97)::VARCHAR AS k,
             substr(text, 1, 40) AS t40, substr(text, 1, 300) AS t300,
             substr(text, 50, 20) AS t20, substr(text, 1, 100) AS t100
      FROM documents),
    syn AS (
      SELECT doc_id, m, u, o,
             CASE WHEN m = 0 THEN '# ' || t40 || ' |'
                  WHEN m IN (1, 7) THEN t300
                  WHEN m = 11 THEN '# > * _' END AS markdown,
             CASE WHEN m = 0 THEN t40 WHEN m = 1 THEN t20 END AS title,
             CASE WHEN m = 9 THEN '<p>x</p>' END AS html,
             CASE WHEN m = 8 THEN t100 END AS text_out,
             CASE WHEN m = 10 THEN 's' END AS summary,
             CASE WHEN m = 3
                  THEN 'shot-' || doc_id::VARCHAR || '.jpeg' END
                 AS screenshot,
             CASE WHEN m = 5 THEN 2 WHEN m = 6 THEN 0 END AS json_size,
             CASE WHEN m = 4 THEN 3 END AS links_count,
             CASE WHEN m = 7 THEN false END AS store_in_cache,
             CASE WHEN m = 8 THEN 'tpl-9' END AS template_id,
             CASE WHEN m = 9 THEN 2 END AS n_headers,
             CASE WHEN m = 10 THEN 1 END AS n_actions,
             CASE u WHEN 0 THEN 'https://site.test/p' || k
                    WHEN 1 THEN 'https://site.test/p' || k
                    WHEN 2 THEN 'https://site.test/p' || k || '?a=1&b=2'
                    WHEN 3 THEN 'https://site.test/p' || k || '?q=' || k
                    ELSE 'https://site.test/' END AS normalized_url
      FROM d),
    g AS (
      SELECT *, {_duck_nt('markdown')} AS md_nt, {_duck_nt('title')} AS ti_nt
      FROM syn),
    g2 AS (
      SELECT *, {_duck_cmp('markdown')} AS md_cmp,
             {_duck_cmp('title')} AS ti_cmp
      FROM g),
    v AS (
      SELECT *,
             (length({_duck_nt('html')}) > 0
              OR length({_duck_nt('text_out')}) > 0
              OR length({_duck_nt('summary')}) > 0
              OR length({_duck_nt('screenshot')}) > 0
              OR coalesce(json_size, 0) > 0
              OR coalesce(links_count, 0) > 0
              OR (length(md_nt) > 0 AND length(md_cmp) > 0
                  AND (length(ti_nt) = 0 OR md_cmp <> ti_cmp)))
                 AS meaningful
      FROM g2),
    r AS (
      SELECT *,
             CASE WHEN store_in_cache = false THEN 'store_in_cache'
                  WHEN template_id IS NOT NULL AND template_id <> ''
                       THEN 'template'
                  WHEN coalesce(n_headers, 0) > 0 THEN 'headers'
                  WHEN coalesce(n_actions, 0) > 0 THEN 'actions'
                  WHEN NOT meaningful THEN 'empty_result'
                  ELSE 'store' END AS gate_reason,
             '{{"engine":"' ||
             CASE o WHEN 1 THEN 'playwright' WHEN 2 THEN 'playwright'
                    ELSE 'cheerio' END || '",' ||
             CASE o WHEN 1 THEN '"browser_runtime":"default",'
                    WHEN 2 THEN '"browser_runtime":"cloakbrowser",'
                    ELSE '' END ||
             '"formats":' ||
             CASE o WHEN 1 THEN '["markdown","text"]'
                    ELSE '["markdown"]' END || ',' ||
             '"json_options":null,"only_main_content":' ||
             CASE o WHEN 1 THEN 'false' ELSE 'true' END || ',' ||
             '"extract_source":"markdown","ocr_options":false,' ||
             '"wait_for":' || CASE o WHEN 2 THEN '500' ELSE 'null' END ||
             ',"wait_until":null,"wait_for_selector":null,"proxy":"' ||
             CASE o WHEN 0 THEN 'none' WHEN 1 THEN 'auto'
                    WHEN 2 THEN 'custom:' ||
                         substr(sha256('http://u:p@x.test:8080'), 1, 12)
                    ELSE 'stealth' END || '"}}' AS cache_options_json
      FROM v)
    SELECT doc_id, gate_reason, gate_reason = 'store' AS should_store,
           normalized_url, sha256(normalized_url) AS url_hash,
           cache_options_json, sha256(cache_options_json) AS options_hash
    FROM r"""


@register(
    "cache_store_gate",
    _CACHE_GATE_ORACLE,
    "Write-side page-cache admission + key derivation "
    "(libs/cache/index.ts): computeCacheKey's URL normalization "
    "(trailing-slash strip, tracking-param removal, key-sorted query) and "
    "fixed-key-order cacheable-options JSON -> sha256 pair, plus the "
    "shouldCache gates (store_in_cache=false, template, custom headers, "
    "actions) and hasMeaningfulResultContent's title-only-markdown "
    "rejection via the markdown-comparable normalization chain. All pure "
    "JVM expressions (regex chains, higher-order array sort, sha2) — the "
    "oracle recomputes the gate with the same regex chain and predicts "
    "every normalized URL and options-JSON byte from doc_id arithmetic.",
)
def q_cache_store_gate(spark, sf_dir):
    from anycrawl_spark.cache import cache_key_cols, store_gate_cols

    docs = load_wide(spark, sf_dir, "documents")
    d = F.col("doc_id")
    m = (d % 12).cast("int")
    u = (d % 5).cast("int")
    o = (d % 4).cast("int")
    k = (d % 97).cast("string")
    t40 = F.substring("text", 1, 40)
    t300 = F.substring("text", 1, 300)
    t20 = F.substring("text", 50, 20)
    t100 = F.substring("text", 1, 100)
    ns = F.lit(None).cast("string")
    ni = F.lit(None).cast("int")

    base = F.concat(F.lit("https://site.test/p"), k)
    syn = docs.select(
        "doc_id",
        F.when(m == 0, F.concat(F.lit("# "), t40, F.lit(" |")))
        .when(m.isin(1, 7), t300)
        .when(m == 11, F.lit("# > * _")).alias("markdown"),
        F.when(m == 0, t40).when(m == 1, t20).alias("title"),
        F.when(m == 9, F.lit("<p>x</p>")).alias("html"),
        ns.alias("raw_html"),
        F.when(m == 8, t100).alias("text_out"),
        F.when(m == 10, F.lit("s")).alias("summary"),
        F.when(m == 3, F.concat(F.lit("shot-"), d.cast("string"),
                                F.lit(".jpeg"))).alias("screenshot"),
        ns.alias("screenshot_full"),
        F.when(m == 5, F.lit(2)).when(m == 6, F.lit(0)).alias("json_size"),
        F.when(m == 4, F.lit(3)).alias("links_count"),
        F.when(m == 7, F.lit(False)).alias("store_in_cache"),
        F.when(m == 8, F.lit("tpl-9")).alias("template_id"),
        F.when(m == 9, F.lit(2)).alias("n_headers"),
        F.when(m == 10, F.lit(1)).alias("n_actions"),
        # the INPUT url: trailing slash / unsorted+tracking params / root
        F.when(u == 0, base)
        .when(u == 1, F.concat(base, F.lit("/")))
        .when(u == 2, F.concat(base, F.lit("?b=2&a=1")))
        .when(u == 3, F.concat(base, F.lit("?utm_source=x&q="), k))
        .otherwise(F.lit("https://site.test/?gclid=1")).alias("url"),
        F.when(o == 0, F.lit("cheerio")).when(o == 1, F.lit("playwright"))
        .when(o == 2, F.lit("auto")).alias("engine"),
        F.when(o == 2, F.lit("playwright")).alias("auto_resolved_engine"),
        F.when(o.isin(2, 3), F.lit("cloakbrowser"))
        .alias("browser_runtime"),
        F.when(o == 1, F.array(F.lit("text"), F.lit("markdown")))
        .when(o.isin(0, 2), F.array(F.lit("markdown"))).alias("formats"),
        F.when(o == 1, F.lit("auto"))
        .when(o == 2, F.lit("http://u:p@x.test:8080"))
        .when(o == 3, F.lit("STEALTH")).alias("proxy"),
        F.when(o == 1, F.lit(False)).when(o == 3, F.lit(True))
        .alias("only_main_content"),
        F.when(o == 2, F.lit(500).cast("long")).alias("wait_for"),
    )
    out = store_gate_cols(cache_key_cols(syn))
    return out.select(
        "doc_id", "gate_reason", "should_store", "normalized_url",
        "url_hash", "cache_options_json", "options_hash")


@register(
    "screenshot_ready_hint",
    """WITH s AS (
         SELECT 'd' || (event_id % 64)::VARCHAR AS domain,
                event_id AS seq,
                CAST(CASE WHEN (event_id % 64) % 7 = 0
                          THEN (event_id % 50) + 10
                          ELSE (event_id * 37) % 9000 + 120 END
                     AS BIGINT) AS actual_ms
         FROM events WHERE event_id < 1600),
       r AS (
         SELECT domain, actual_ms,
                row_number() OVER (PARTITION BY domain ORDER BY seq) AS i,
                count(*) OVER (PARTITION BY domain) AS n
         FROM s),
       a AS (
         SELECT domain, CAST(min(n) AS BIGINT) AS samples,
                CAST(sum(2 * i * actual_ms) AS DOUBLE)
                  / (min(n) * (min(n) + 1)) AS avg_ms
         FROM r GROUP BY domain)
     SELECT domain, samples, avg_ms,
            CASE WHEN avg_ms > 100
                 THEN CAST(ceil(avg_ms) AS BIGINT) END AS hint_ms
     FROM a""",
    "Screenshot-readiness adaptive wait hint "
    "(utils/screenshotReady.ts:300-344): fold each domain's readiness "
    "times through the reference's sample-capped EWMA (alpha = "
    "2/(min(samples,50)+1)) and read back the ceil(avg)-over-100ms wait "
    "hint. The sequential fold telescopes to a triangular-weighted mean "
    "with an exact-integer numerator (docstring derivation), so the "
    "batch is one keyed window + one aggregation on the same key — a "
    "single shuffle, no sequential pass, bit-equal across engines.",
)
def q_screenshot_ready_hint(spark, sf_dir):
    from anycrawl_spark.autoengine import screenshot_ready_hint

    e = F.col("event_id")
    dom = (e % 64).cast("long")
    samples = load(spark, sf_dir, "events").where(e < 1600).select(
        F.concat(F.lit("d"), dom.cast("string")).alias("domain"),
        e.alias("seq"),
        F.when(dom % 7 == 0, (e % 50) + 10)
        .otherwise((e * 37) % 9000 + 120).cast("long").alias("actual_ms"))
    return screenshot_ready_hint(samples)


@register(
    "dedup_representatives",
    """WITH d AS (
         SELECT doc_id, md5(substr(text, 1, 100)) AS group_hash,
                CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
                    AS quality
         FROM documents),
       r AS (
         SELECT *,
                row_number() OVER (PARTITION BY group_hash
                                   ORDER BY quality DESC, doc_id ASC)
                    AS rn,
                CAST(count(*) OVER (PARTITION BY group_hash) AS BIGINT)
                    AS group_size
         FROM d),
       k AS (
         SELECT group_hash, doc_id AS keeper_doc_id FROM r WHERE rn = 1)
     SELECT r.doc_id, r.group_hash, r.group_size, r.quality,
            r.rn = 1 AS keep, k.keeper_doc_id
     FROM r JOIN k USING (group_hash)""",
    "Dedup canonical-representative selection — the production stage "
    "AFTER duplicate grouping: within each content-hash group keep the "
    "highest-quality document (deterministic tiebreak on doc_id) and map "
    "every dropped duplicate to its keeper, so downstream joins can "
    "rewrite references instead of losing them. One shuffle on the "
    "content hash; the per-group ranking window and the keeper lookup "
    "reuse the same partitioning, and groups are tiny (dup cardinality), "
    "so the window state never grows with corpus size — the 100-TB "
    "shape is hash-partition + per-group top-1, no global ordering.",
)
def q_dedup_representatives(spark, sf_dir):
    documents = load(spark, sf_dir, "documents")
    d = documents.select(
        "doc_id",
        F.md5(F.substring("text", 1, 100)).alias("group_hash"),
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("bigint").alias("quality"))
    w = Window.partitionBy("group_hash")
    ranked = (d
              .withColumn("rn", F.row_number().over(
                  w.orderBy(F.desc("quality"), F.asc("doc_id"))))
              .withColumn("group_size", F.count("*").over(w)
                          .cast("bigint")))
    keepers = ranked.where("rn = 1").select(
        F.col("group_hash").alias("__gh"),
        F.col("doc_id").alias("keeper_doc_id"))
    return (ranked
            .join(keepers, ranked["group_hash"] == keepers["__gh"])
            .select("doc_id", "group_hash", "group_size", "quality",
                    (F.col("rn") == 1).alias("keep"), "keeper_doc_id"))


def _fuzzy_dedup_pipeline_oracle() -> str:
    """Recursive-CTE closure over the LSH pair SQL (as the cluster
    oracles) extended with the quality-ranked keeper selection."""
    lsh = REGISTRY["lsh_candidate_pairs"].oracle
    body, _, final = lsh.rpartition("SELECT DISTINCT")
    return (
        body.replace("WITH", "WITH RECURSIVE", 1)
        + ", pairs AS (SELECT DISTINCT" + final + """),
       edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach(src, dst) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
       clusters AS (
         SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS cluster
         FROM reach GROUP BY src),
       q AS (
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
                    AS quality
         FROM documents),
       j AS (
         SELECT c.doc_id, c.cluster, q.quality,
                row_number() OVER (PARTITION BY c.cluster
                                   ORDER BY q.quality DESC, c.doc_id ASC)
                    AS rn,
                CAST(count(*) OVER (PARTITION BY c.cluster) AS BIGINT)
                    AS cluster_size
         FROM clusters c JOIN q USING (doc_id)),
       k AS (SELECT cluster, doc_id AS keeper_doc_id FROM j WHERE rn = 1)
       SELECT j.doc_id, j.cluster, j.cluster_size, j.quality,
              j.rn = 1 AS keep, k.keeper_doc_id
       FROM j JOIN k USING (cluster)""")


@register(
    "fuzzy_dedup_pipeline",
    None,  # oracle attached below (recursive closure + keeper window)
    "The COMPLETE production fuzzy-dedup pass in one call: MinHash "
    "signatures -> banded LSH candidate pairs -> two-star connected "
    "components (O(log n) rounds at any component diameter) -> per-"
    "cluster keep-best-quality representative with every drop mapped to "
    "its keeper. Each stage is the documented scale path (digest-once "
    "signatures, band equi-join, alternating star CC, keyed top-1 "
    "window); at 100 TB the only all-pairs structure ever materialized "
    "is the banded candidate set.",
)
def q_fuzzy_dedup_pipeline(spark, sf_dir):
    from anycrawl_spark.operators.dedup import connected_components_two_star

    documents = load(spark, sf_dir, "documents")
    pairs = REGISTRY["lsh_candidate_pairs"].fn(spark, sf_dir)
    comps = connected_components_two_star(
        documents.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")))
    quality = documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("bigint").alias("quality"))
    clustered = (comps.select(F.col("id").alias("doc_id"),
                              F.col("cluster").cast("long").alias("cluster"))
                 .join(quality, "doc_id"))
    w = Window.partitionBy("cluster")
    ranked = (clustered
              .withColumn("rn", F.row_number().over(
                  w.orderBy(F.desc("quality"), F.asc("doc_id"))))
              .withColumn("cluster_size",
                          F.count("*").over(w).cast("bigint")))
    keepers = ranked.where("rn = 1").select(
        F.col("cluster").alias("__c"),
        F.col("doc_id").alias("keeper_doc_id"))
    return (ranked.join(keepers, ranked["cluster"] == keepers["__c"])
            .select("doc_id", "cluster", "cluster_size", "quality",
                    (F.col("rn") == 1).alias("keep"), "keeper_doc_id"))


REGISTRY["fuzzy_dedup_pipeline"].oracle = _fuzzy_dedup_pipeline_oracle()


# ===========================================================================
# Driver-visible ordering
# ===========================================================================
#
# The correctness driver records only the FIRST 50 entries of
# ``__spark_entry__.queries()``; registration order above is file layout,
# not priority.  DRIVER_ORDER makes the driver-visible window explicit:
# one query per distinct operator family, strongest oracle first.  The
# demoted tail (positions 51+) is redundant sf-small twins of queries in
# the window (block-join oracles of candidate-bounded scorers, simple
# variants of spec-complete matchers, duplicate TPC-H shapes); all remain
# registered, pytest-covered, and checked by tools/validate_oracle.py.

DRIVER_ORDER: list[str] = [
    # Crawl-engine core: seen-set, politeness, cache, limits, progress
    "seen_antijoin", "bloom_seen_filter", "perhost_topk", "cache_ttl_tiers",
    "limit_admission", "progress_agg", "status_classify",
    # URL kernel + filters (§2.7, F-family)
    "canonicalize", "url_hash", "base_domain",
    "robots_spec_filter", "strategy_filter",
    "glob_path_filter", "failure_classify",
    # r6 swap, fourth wave (rationale in COVERAGE.md): promoted
    # cache_store_gate — the write-side cache admission + key derivation
    # (computeCacheKey/shouldCache, libs/cache/index.ts), pairing S8's
    # in-window read path (cache_ttl_tiers) with its write gate; demoted
    # sitemap_parse — S4's spec-parse family stays gated in-window via
    # robots_spec_filter (same raw-text-to-rules shape), sitemap's
    # urlset+index parse stays oracled in the tail
    "cache_store_gate",
    # Webhook / scheduler / billing subsystems (S10, Scheduler.ts, A10)
    "webhook_match", "webhook_retry_schedule", "scheduled_runs",
    "credit_rollup",
    # r6 promotions: the three reference subsystems VERDICT r5 ranked as
    # the remaining deterministic cores — template merge+render
    # (templateHandler.ts), execution finalize transitions
    # (ExecutionLifecycle.ts), billing ledger (Billing.ts)
    "template_render", "execution_finalize", "ledger_rollup",
    # r6 promotions, second wave: the proxy subsystem's deterministic
    # core (Proxy.ts/ProxyCacheManager.ts — the largest remaining
    # scope-out outside live browser/network machinery), the API
    # access-control layer (ipUtils.ts), and the zod intake gate
    # (BaseSchema/CrawlSchema/ScrapeSchema)
    "proxy_cache_replay", "proxy_select_replay", "ip_allowlist",
    "request_validate",
    # Crawl rounds + extraction parity (+ T18 LLM-extract pipeline, r5)
    "fetch_join", "crawl_e2e", "extraction_text_parity",
    "extraction_markdown_parity", "link_explode", "llm_extract_stats",
    # SERP + map
    "serp_parse", "auto_engine_decision",
    "serp_scrape_merge", "map_union_dedup",
    # r6 promotion, third wave: the v1 controller response-assembly layer
    # (CrawlController.ts results endpoint — JS skip coercion, 100-row
    # pages, next-URL/envelope fallbacks, hash-oracled page content);
    # swapped in for searxng_parse per the frozen-gate rule (rationale in
    # COVERAGE.md)
    "crawl_results_page",
    # LLM-data pipeline: text quality + fingerprints
    "dedup_exact", "token_count", "lang_id",
    "gopher_quality", "fingerprint",
    # Dedup/similarity scale paths
    "lsh_candidate_pairs", "dedup_clusters_two_star",
    "cosine_over_candidates",
    # ANN + multimodal
    "ann_ivf_real", "media_decode_meta",
    # Time-series / relational
    "sessionize_events", "asof_join_events",
    "hypertable_rollup",
    # --- driver cutoff: first 50 above are the correctness-gate window ---
    # r6 swaps, second wave (rationale in COVERAGE.md): promoted
    # proxy_cache_replay, proxy_select_replay, ip_allowlist; demoted the
    # named twins — winnow_fingerprints (document-fingerprint family
    # stays gated via fingerprint; the winnowing window machinery is
    # pytest-covered), simhash_near_pairs (banded near-dup candidate
    # family via lsh_candidate_pairs + cosine_over_candidates),
    # ann_bruteforce_topk (ANN family via ann_ivf_real, whose full-probe
    # oracle must EQUAL the brute-force result exactly, subsuming it),
    # bandwidth_rollup (A-family counter-rollup machinery twin of
    # progress_agg, which stays in-window)
    "winnow_fingerprints", "simhash_near_pairs", "ann_bruteforce_topk",
    "bandwidth_rollup",
    # §2.7 scalar sibling (r6): snake_case response serialization —
    # oracled outside the window; the API-surface family is gated
    # in-window through request_validate
    "serialize_snake",
    # intake-gate sibling (r6): search-schema parse over the same zod
    # runtime — oracled outside the window next to request_validate
    "search_request_validate",
    # API-surface sibling (r6): middleware-chain replay composing the
    # in-window ip_allowlist with the auth/credit/deduction gates
    "auth_gateway",
    # training-data pipeline additions (r6): benchmark decontamination
    # (hash-shingle equi-join family twin of lsh_candidate_pairs' banded
    # join), PII scrubbing (JVM-regexp text transform family twin of
    # c4_filters/gopher_quality), and deterministic stratified sampling
    # (hash-threshold map, no RNG state) — oracled outside the window
    "decontaminate_ngrams", "pii_scrub", "stratified_sample",
    # training-data pipeline (r6 third wave): fixed-length training
    # sequence packing — per-shard keyed-window running sum, closed-form
    # placement; machinery twin of the sessionize/hypertable keyed windows
    "sequence_packing",
    # training-data pipeline (r6 fourth wave, oracled outside the window):
    # span-level exact dedup (C4 three-sentence rule / Lee et al. 2022,
    # hash-window first-occurrence-wins — machinery twin of dedup_exact +
    # perhost_topk's keyed windows), bigram-LM surprisal quality filter
    # (CCNet shape with integer-exact bit quantization — twin of the
    # gopher_quality text-quality family), and data-mixing weights
    # (group-grain aggregation + broadcast totals)
    "span_dedup", "bigram_surprisal", "domain_mix_weights",
    # the capstone composition: quality floor -> exact dedup ->
    # decontamination -> stratified sample -> sequence packing as ONE
    # dataflow with a single CTE-chain oracle; every stage is also
    # individually oracled above, so it sits in the tail by the twin rule
    "pretrain_data_pipeline",
    # SemDeDup (Abbas et al. 2023): cluster-then-dedup over embeddings —
    # fixed-medoid assignment keeps the oracle exact; machinery twin of
    # embed_cosine_pairs (blocked pair join) + the IVF assignment shape
    "semantic_dedup",
    # continuous-ingestion dedup: new batch vs the standing catalog's
    # fingerprint + LSH-band index tables — machinery twin of
    # dedup_exact + lsh_candidate_pairs with the batch/catalog split
    "incremental_dedup",
    # r6 swaps (rationale in COVERAGE.md): promoted template_render,
    # execution_finalize, ledger_rollup; demoted the named twins —
    # ac_engine_parse (G-family JSON-SERP parsing stays gated via
    # serp_parse + searxng_parse), c4_filters (text-quality family via
    # gopher_quality, which shares the heuristic machinery),
    # jaccard_over_candidates (candidate-bounded exact scorer family via
    # cosine_over_candidates + lsh_candidate_pairs).
    "ac_engine_parse", "c4_filters", "jaccard_over_candidates",
    # counter-delta sibling of execution_finalize (same resolved
    # transitions, per-task grain) — oracled outside the window
    "execution_task_stats",
    # r5 swap 2: promoted llm_extract_stats (T18 — a reference format the
    # window lacked entirely); demoted range_join_events (generic bucketed
    # interval join, twin of asof_join_events' union+window machinery and
    # not a reference operator; stays oracled via validate_oracle.py).
    "range_join_events",
    # summary twin of llm_extract_stats (same pipeline family, text
    # generation instead of schema extraction) — oracled outside the window
    "llm_summary_stats",
    # r6 swap, third wave (rationale in COVERAGE.md): promoted
    # crawl_results_page; demoted searxng_parse — the G-family JSON-SERP
    # parse stays gated in-window via serp_parse (same parse machinery,
    # Google variant) and serp_scrape_merge. The two controller siblings
    # (executions listing with owner precedence + pagination, cancel
    # transition gate) are oracled outside the window alongside it.
    "searxng_parse", "task_executions_page", "job_cancel_gate",
    # scheduler sweep family (r5): timeout classification twins
    # failure_classify/status_classify; quota top-k twins perhost_topk —
    # both oracled outside the window
    "stale_executions", "subscription_excess_tasks",
    # itemized CreditCalculator (r5): rollup gating already in-window via
    # credit_rollup; the item math is its sibling — oracled outside
    "billing_charge_details",
    # template pre-navigation gate (r5): exact-mode domain restriction;
    # glob candidate-set matching is pytest-only — oracled outside
    "template_domain_filter",
    # r5 swaps (rationale in COVERAGE.md): promoted webhook_retry_schedule,
    # scheduled_runs, credit_rollup, extraction_markdown_parity; demoted
    # the named twins below — kv_key_base64 (§2.7 stays covered by
    # url_hash/canonicalize/base_domain/fingerprint), map_search_rank
    # (A4 covered by map_union_dedup + perhost_topk ordering),
    # quality_score (text-quality family covered by gopher_quality +
    # c4_filters), tpch_q5_region (generic TPC-H shape, not a reference
    # operator; q1/q3 twins already demoted).
    "kv_key_base64", "map_search_rank", "quality_score", "tpch_q5_region",
    # cuckoo_seen_filter outside the window by the twin rule: F2's
    # pre-filter + exact-anti-join contract is already gated through
    # bloom_seen_filter; the cuckoo family adds deletion/merge semantics
    # covered by tests/test_cuckoo.py + validate_oracle.py
    "cuckoo_seen_filter",
    "sitemap_parse",
    # browser-family deterministic garnish (r6): the screenshot readiness
    # EWMA wait hint — oracled in the tail, the browser wait itself is
    # live-infrastructure by design
    "screenshot_ready_hint",
    # dedup canonical-representative selection (r6): the keep-best stage
    # between duplicate grouping (dedup_exact, in-window) and the corpus
    # rewrite — oracled in the tail as a machinery twin of the keyed
    # top-k shapes already gated in-window (perhost_topk)
    "dedup_representatives",
    # the one-call composition of the full fuzzy-dedup pass (signatures ->
    # LSH -> two-star CC -> keep-best) — every stage already gated
    # in-window individually; the composition is oracled in the tail
    "fuzzy_dedup_pipeline",
    "cache_newest", "robots_filter", "windowed_events",
    "supplier_region_rollup", "part_brand_stats", "tpch_q1_pricing",
    "tpch_q3_revenue", "minhash_signature", "dedup_clusters", "simhash16",
    "ngram_jaccard_pairs", "embed_cosine_pairs", "ann_ivf_topk",
    "multimodal_meta", "extract_markdown", "gopher_repetition",
    # frontier_order demoted for webhook_match (r4): BFS priority-queue
    # ordering stays driver-checked through crawl_e2e (recursive-CTE
    # visit-order oracle) and perhost_topk (keyed ordering window)
    "frontier_order",
]


def ordered_registry() -> dict[str, QuerySpec]:
    """REGISTRY reordered for the driver contract; asserts DRIVER_ORDER is
    exactly a permutation of the registered names so a new @register can't
    silently fall outside the correctness gate."""
    missing = [n for n in DRIVER_ORDER if n not in REGISTRY]
    unlisted = [n for n in REGISTRY if n not in DRIVER_ORDER]
    if missing or unlisted:
        raise AssertionError(
            f"DRIVER_ORDER drift: missing={missing} unlisted={unlisted}")
    return {name: REGISTRY[name] for name in DRIVER_ORDER}
