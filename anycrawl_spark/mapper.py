"""Map (URL discovery) operators (SURVEY.md §2.4/§2.5 A4, F9, L1).

Re-expresses ``MapService`` (``/root/reference/packages/scrape/src/services/
MapService.ts:40-164``): multi-source union (sitemap ∪ search ∪ page-links ∪
cache-index) with first-wins field merge per url, domain filtering, and the
result limit — as ``unionByName`` + ``groupBy(url).agg(first ignorenulls)``
+ broadcast-friendly filters.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

MAP_SOURCE_ORDER = {"sitemap": 0, "search": 1, "crawl": 2, "cache": 3}


def union_dedup(sources: dict[str, DataFrame],
                limit: int | None = 5000) -> DataFrame:
    """``sources`` maps source-name → DataFrame(url, title, description).

    First-wins per field across sources in MAP_SOURCE_ORDER (the reference
    merges into a Map in source order, coalescing title/description —
    MapService.ts:56-163); deterministic via min_by over the source rank.

    ``limit=None`` skips the slice — the reference applies the limit AFTER
    domain filtering (MapService.ts:151-153), so callers that domain-filter
    must pass None here and slice afterwards (see main.cmd_map).
    """
    tagged = []
    for name, df in sources.items():
        tagged.append(
            df.select(
                "url",
                F.col("title"),
                F.col("description"),
                F.lit(MAP_SOURCE_ORDER.get(name, 99)).alias("source_rank"),
                F.lit(name).alias("source"),
            )
        )
    unioned = tagged[0]
    for t in tagged[1:]:
        unioned = unioned.unionByName(t)
    merged = (
        unioned.groupBy("url")
        .agg(
            F.min_by("title", F.when(F.col("title").isNotNull(), F.col("source_rank"))
                     .otherwise(F.lit(10**9))).alias("title"),
            F.min_by("description", F.when(F.col("description").isNotNull(), F.col("source_rank"))
                     .otherwise(F.lit(10**9))).alias("description"),
            F.min("source_rank").alias("first_rank"),
        )
        .orderBy("first_rank", "url")
    )
    if limit is not None:
        merged = merged.limit(limit)       # MapService.ts:151-153
    return merged.drop("first_rank")


def domain_filter(df: DataFrame, seed_host: str,
                  include_subdomains: bool = False) -> DataFrame:
    """Keep exact-hostname urls, or same base-domain with
    ``include_subdomains`` (MapService.ts:301-329; the reference defaults
    ``includeSubdomains ?? false`` → exact hostname)."""
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    from anycrawl_spark.kernel.canonical import map_base_domain_col, map_base_domain_of

    if include_subdomains:
        return df.where(map_base_domain_col(host) == map_base_domain_of(seed_host))
    return df.where(host == seed_host.lower())


def expand_sitemaps(robots: DataFrame, pages: DataFrame) -> DataFrame:
    """Sitemap discovery (MapService.ts:172-201 re-expressed): explode the
    robots fixture's sitemap urls and join to the corpus host's pages —
    sitemap expansion = explode + equi-join."""
    hosts = robots.select("host", F.explode("sitemaps").alias("sitemap_url"))
    page_hosts = pages.select(
        F.col("url"),
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host"),
    )
    return hosts.join(page_hosts, "host", "inner").select(
        "host", "url", F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("description"),
    )


def rank_by_search(df: DataFrame, search: str) -> DataFrame:
    """Search-relevance ranking of map links (the reference's observable
    contract in ``MapService.test.ts:164-235`` "Search Filtering"): for each
    lowercase whitespace-split term, +3 if the url contains it, +2 if the
    title does, +1 if the description does; order by (score DESC, url ASC).

    Pure JVM expressions — one ``contains`` chain per term, no shuffle
    beyond the final sort (which at scale is a range sort; callers that only
    need the top-N follow with ``.limit(n)`` → TakeOrderedAndProject)."""
    terms = [t for t in search.lower().split() if t]
    score = F.lit(0)
    url_l = F.lower(F.col("url"))
    title_l = F.lower(F.coalesce(F.col("title"), F.lit("")))
    desc_l = F.lower(F.coalesce(F.col("description"), F.lit("")))
    for term in terms:
        score = (score
                 + F.when(url_l.contains(term), 3).otherwise(0)
                 + F.when(title_l.contains(term), 2).otherwise(0)
                 + F.when(desc_l.contains(term), 1).otherwise(0))
    return (df.withColumn("score", score.cast("long"))
            .orderBy(F.desc("score"), F.asc("url")))


# ---------------------------------------------------------------------------
# Sitemap XML (urlset + sitemapindex) — what crawlee's Sitemap parser gives
# the reference's getSitemapUrls (MapService.ts:172-201). The fixture-join
# shortcut above (expand_sitemaps) models discovery; these functions parse
# actual sitemap bodies.
# ---------------------------------------------------------------------------

SITEMAP_ENTRY_SCHEMA = "array<struct<loc:string, lastmod:string, is_index:boolean>>"


def parse_sitemap_xml(body: str) -> list[tuple[str, str | None, bool]]:
    """One sitemap body → [(loc, lastmod, is_index_child)]. Handles
    ``<urlset>`` page entries and ``<sitemapindex>`` child references
    (is_index_child=True), namespace-agnostic; malformed XML → []."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(body or "")
    except ET.ParseError:
        return []
    tag = root.tag.rsplit("}", 1)[-1].lower()
    child_tag = "sitemap" if tag == "sitemapindex" else "url"
    is_index = tag == "sitemapindex"
    out = []
    for child in root:
        if child.tag.rsplit("}", 1)[-1].lower() != child_tag:
            continue
        loc, lastmod = None, None
        for field in child:
            name = field.tag.rsplit("}", 1)[-1].lower()
            if name == "loc":
                loc = (field.text or "").strip()
            elif name == "lastmod":
                lastmod = (field.text or "").strip()
        if loc:
            out.append((loc, lastmod, is_index))
    return out


def parse_sitemap_bodies(bodies: DataFrame, body_col: str = "body") -> DataFrame:
    """(host, sitemap_url, body) rows → exploded entries (host, loc, lastmod,
    is_index). Arrow-batched UDF (XML parsing has no JVM expression); one
    ``sitemapindex`` level resolves by re-joining child locs back to the
    bodies table — the batch analogue of crawlee's recursive fetch."""
    @F.pandas_udf(SITEMAP_ENTRY_SCHEMA)
    def parse_udf(body: pd.Series) -> pd.Series:
        return body.map(parse_sitemap_xml)

    parsed = (
        bodies.withColumn("entries", parse_udf(F.col(body_col)))
        .select("host", "sitemap_url",
                F.explode("entries").alias("e"))
        .select("host", "sitemap_url", F.col("e.loc").alias("loc"),
                F.col("e.lastmod").alias("lastmod"),
                F.col("e.is_index").alias("is_index"))
    )
    pages = parsed.where(~F.col("is_index")).drop("is_index")
    # one index level: child sitemap locs -> their own bodies -> page entries
    children = parsed.where(F.col("is_index")).select(
        "host", F.col("loc").alias("child_url"))
    child_bodies = children.join(
        bodies.select(F.col("sitemap_url").alias("child_url"),
                      F.col(body_col).alias("__cbody")),
        "child_url")
    child_pages = (
        child_bodies.withColumn("entries", parse_udf(F.col("__cbody")))
        .select("host", F.col("child_url").alias("sitemap_url"),
                F.explode("entries").alias("e"))
        .where(~F.col("e.is_index"))
        .select("host", "sitemap_url", F.col("e.loc").alias("loc"),
                F.col("e.lastmod").alias("lastmod"))
    )
    return pages.unionByName(child_pages).dropDuplicates(["host", "loc"])
