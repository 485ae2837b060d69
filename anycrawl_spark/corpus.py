"""Deterministic Common-Crawl-style fixture corpus (FIXTURES.md §1-§4).

Input table shape is the BASELINE.json ``input_hint`` exactly:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Generation is Spark-native (``spark.range`` → Arrow-batched ``mapInPandas``)
and **order-independent**: every value is a pure function of the page's
global id via sha256-derived integers, so the same (num_pages, num_hosts)
always yields byte-identical rows regardless of partitioning or cluster
size. Host sizes follow a Zipf(s=1.2) law so one or two hosts dominate —
this intentionally exercises the skew/salting path (SURVEY.md §4).

The page graph is a deterministic per-host tree (page i links to children
3i+1..3i+3) plus tracked cross-host/subdomain/malformed/utm/fragment links,
and the HTML template pool exercises every extraction operator T1-T15
(FIXTURES.md §1.1). ``text`` is the golden plain-text extraction produced by
the same kernel the pipeline uses — the byte-identical per-row invariant.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone

import numpy as np

LANGS = ["en", "zh", "de", "fr", "ja"]
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)


def h64(s: str) -> int:
    return int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")


def host_name(k: int) -> str:
    """Host k; every 5th host is a subdomain of its predecessor's domain so
    same-domain vs same-hostname strategies diverge in fixtures."""
    if k % 5 == 4 and k > 0:
        return f"sub.site{k - 1:03d}.test"
    return f"site{k:03d}.test"


def host_plan(num_pages: int, num_hosts: int,
              zipf_s: float = 1.2) -> np.ndarray:
    """Pages per host, Zipf(s), deterministic; returns cumulative bounds.
    s=1.2 is the default mixed-skew corpus; s>=4 concentrates ~90% of pages
    on host 0 (the hot-host regime for skew probes)."""
    ranks = np.arange(1, num_hosts + 1, dtype=np.float64)
    weights = ranks ** -zipf_s
    weights /= weights.sum()
    counts = np.maximum(1, np.floor(weights * num_pages)).astype(np.int64)
    # distribute the remainder to the largest hosts
    deficit = num_pages - counts.sum()
    i = 0
    while deficit > 0:
        counts[i % num_hosts] += 1
        deficit -= 1
        i += 1
    while deficit < 0:
        j = int(np.argmax(counts))
        take = min(counts[j] - 1, -deficit)
        counts[j] -= take
        deficit += take
        if take == 0:
            break
    return np.concatenate([[0], np.cumsum(counts)])


def page_path(local_idx: int) -> str:
    if local_idx % 13 == 7:
        return f"/private/p/{local_idx}"
    if local_idx % 7 == 3:
        return f"/blog/p/{local_idx}"
    return f"/p/{local_idx}"


def page_url(host: str, local_idx: int) -> str:
    return f"https://{host}{page_path(local_idx)}"


def child_indices(local_idx: int, n_pages: int) -> list[int]:
    return [c for c in (local_idx * 3 + 1, local_idx * 3 + 2, local_idx * 3 + 3) if c < n_pages]


def build_page_html(host_idx: int, num_hosts: int, local_idx: int,
                    n_pages_host: int, lang: str) -> str:
    """Deterministic page HTML exercising T1-T15 (FIXTURES.md §1.1)."""
    host = host_name(host_idx)
    seed = h64(f"{host}/{local_idx}")
    children = child_indices(local_idx, n_pages_host)
    thin = local_idx % 20 == 19

    title = f"Page {local_idx} of {host}"
    metas = (
        f'<meta name="description" content="Synthetic page {local_idx} on {host}">'
        f'<meta property="og:title" content="{title}">'
        f'<meta name="keywords" content="k{seed % 97},k{seed % 31}">'
        '<meta charset="utf-8">'
    )
    head = f"<head><title>{title}</title>{metas}<style>body{{margin:0}}</style></head>"

    nav_links = "".join(
        f'<a href="/p/{c}">nav {c}</a> ' for c in children[:1]
    )
    chrome_top = (
        f'<header><h1>{host} chrome</h1></header>'
        f"<nav>{nav_links}<a href=\"/\">home</a></nav>"
        '<div class="sidebar"><a href="/p/0">side</a> sidebar text</div>'
        '<div class="cookie-banner">We use cookies.</div>'
        '<a href="#main-content">Skip to Content</a>'
    )
    # one excluded-class wrapper that CONTAINS .post-content → must be kept
    kept_wrapper = (
        '<div class="related"><div class="post-content">'
        f"Related-but-kept content {seed % 1000}.</div></div>"
        if local_idx % 6 == 2 else ""
    )

    child_links = "".join(
        f'<li><a href="{page_path(c)}">child page {c}</a></li>' for c in children
    )
    cross_host = ""
    if local_idx % 9 == 4 and num_hosts > 1:
        other = host_name((host_idx + 1) % num_hosts)
        cross_host = f'<a href="https://{other}/p/0">partner site</a>'
    tricky_links = (
        f'<a href="{page_path(local_idx)}?utm_source=news&b=2&a=1">tracked self</a>'
        f'<a href="{page_path(local_idx)}#section-2">fragment self</a>'
        f'<a href="http:/{host}/p/0">malformed</a>'
        f'<a href="//{host}/p/0">protocol relative</a>'
        '<a href="mailto:owner@example.test">mail</a>'
    )

    if thin:
        main = f'<main id="main-content"><p>tiny {seed % 100}</p><ul>{child_links}</ul></main>'
    else:
        # body prose varies deterministically per page
        words = " ".join(
            f"word{(seed >> (i % 48)) % 211}" for i in range(40 + seed % 20)
        )
        table = (
            "<table><thead><tr><th>Key</th><th>Value</th></tr></thead>"
            f"<tbody><tr><td>id</td><td>{local_idx}</td></tr>"
            f"<tr><td>hash</td><td>{seed % 10**6}</td></tr></tbody></table>"
        )
        pre = (
            '<pre><code class="language-python">def page():\n'
            f"    return {seed % 7}\n</code></pre>"
        )
        img = (
            f'<figure><img srcset="/img/{local_idx}-s.png 400w, /img/{local_idx}-l.png 800w" '
            f'src="/img/{local_idx}.png" alt="Figure {local_idx}">'
            f"<figcaption>Caption {local_idx}</figcaption></figure>"
        )
        linked_img = (
            f'<a href="/p/{children[0]}"><img src="/thumb/{children[0]}.png" alt="thumb"></a>'
            if children else ""
        )
        lazy_img = f'<img data-src="/lazy/{local_idx}.png" src="/ph.gif" alt="lazy">'
        main = (
            f'<main id="main-content"><article><h2>Article {local_idx}</h2>'
            f"<p>Intro with <em>emphasis</em>, <strong>bold</strong>, "
            f"<code>call({local_idx})</code> and <del>old</del> text "
            f"&amp; entities &lt;ok&gt;.</p>"
            f"<p>{words}</p>"
            f"<!-- hidden comment {seed % 50} -->"
            f"<blockquote><p>Quote {seed % 300}</p></blockquote>"
            f"<ul><li>alpha {seed % 5}</li><li>beta<ul><li>nested</li></ul></li></ul>"
            f"<ol><li>first</li><li>second</li></ol>"
            f"{table}{pre}{img}{linked_img}{lazy_img}<hr>"
            f"<section><span>s1</span><span>s2</span> trailing</section>"
            f"<h3>Links</h3><ul>{child_links}</ul>{cross_host}{tricky_links}"
            f"</article></main>"
        )

    chrome_bottom = '<footer id="footer"><a href="/about">about</a> footer text</footer>'
    script = f'<script>var t={seed % 999};</script><noscript>enable js</noscript>'
    return (
        f'<!DOCTYPE html><html lang="{lang}">{head}<body>'
        f"{chrome_top}{kept_wrapper}{main}{chrome_bottom}{script}</body></html>"
    )


# ---------------------------------------------------------------------------
# Spark generation
# ---------------------------------------------------------------------------

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def generate_pages(spark, num_pages: int, num_hosts: int = 40,
                   partitions: int | None = None, zipf_s: float = 1.2):
    """Distributed deterministic corpus: (url, warc_ts, html, text, lang)."""
    from anycrawl_spark.kernel.text import html_to_text

    bounds = host_plan(num_pages, num_hosts, zipf_s=zipf_s)
    bounds_list = bounds.tolist()

    def gen(iterator):
        import pandas as pd

        b = np.asarray(bounds_list)
        for pdf in iterator:
            rows = []
            for gid in pdf["id"].to_numpy():
                host_idx = int(np.searchsorted(b, gid, side="right") - 1)
                local_idx = int(gid - b[host_idx])
                n_host = int(b[host_idx + 1] - b[host_idx])
                host = host_name(host_idx)
                lang = LANGS[host_idx % len(LANGS)]
                html = build_page_html(host_idx, num_hosts, local_idx, n_host, lang)
                url = page_url(host, local_idx)
                ts = EPOCH.fromtimestamp(
                    EPOCH.timestamp() + (h64(url) % (30 * 86400)), tz=timezone.utc
                ).replace(tzinfo=None)
                rows.append((url, ts, html.encode("utf-8"), html_to_text(html), lang))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    n_parts = partitions or max(8, num_pages // 4000)
    return (
        spark.range(0, num_pages, numPartitions=n_parts)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


ROBOTS_SCHEMA = "host string, disallow array<string>, crawl_delay int, sitemaps array<string>"


def generate_robots(spark, num_hosts: int = 40):
    """Per-host robots fixture (FIXTURES.md §3): every 3rd host denies
    /private, every 11th denies everything, others allow all."""
    rows = []
    for k in range(num_hosts):
        host = host_name(k)
        if k % 11 == 10:
            disallow = ["/"]
        elif k % 3 == 0:
            disallow = ["/private"]
        else:
            disallow = []
        rows.append((host, disallow, 1 + k % 5, [f"https://{host}/sitemap.xml"]))
    return spark.createDataFrame(rows, schema=ROBOTS_SCHEMA)


# ---------------------------------------------------------------------------
# SERP fixtures (FIXTURES.md §4) — Google parser input
# ---------------------------------------------------------------------------

def build_serp_html(query: str, page: int, n_results: int = 10) -> str:
    """Synthesized Google SERP with `div[jscontroller="SC7lYd"]` result blocks
    plus decoys missing title/url/snippet that the parser must skip
    (Google.ts:201-257)."""
    blocks = []
    for i in range(n_results):
        rank = (page - 1) * n_results + i
        url = f"https://result{rank:02d}.test/{query.replace(' ', '-')}"
        blocks.append(
            f'<div jscontroller="SC7lYd">'
            f'<a href="{url}"><h3>Result {rank} for {query}</h3></a>'
            f'<div data-sncf="1">Snippet {rank} about {query}.'
            f"<script>junk()</script></div></div>"
        )
    decoys = (
        '<div jscontroller="SC7lYd"><a href="https://no-title.test/x"></a>'
        '<div data-sncf="1">no title</div></div>'
        '<div jscontroller="SC7lYd"><a><h3>No url result</h3></a>'
        '<div data-sncf="1">snippet</div></div>'
        '<div jscontroller="SC7lYd"><a href="https://no-snippet.test/x">'
        "<h3>No snippet</h3></a></div>"
        '<div jscontroller="OTHER"><a href="https://decoy.test/x"><h3>Decoy</h3></a>'
        '<div data-sncf="1">wrong controller</div></div>'
    )
    return (
        f"<html><head><title>{query} - Search</title></head><body>"
        f"<div id='search'>{blocks[0]}{decoys}{''.join(blocks[1:])}</div>"
        "</body></html>"
    )


SERP_SCHEMA = "engine string, query string, page int, html string"


def generate_serp_pages(spark, queries: list[str] | None = None, pages_per_query: int = 3):
    queries = queries or ["spark crawl", "web extraction", "frontier dedup"]
    rows = [
        ("google", q, p, build_serp_html(q, p))
        for q in queries
        for p in range(1, pages_per_query + 1)
    ]
    return spark.createDataFrame(rows, schema=SERP_SCHEMA)


# ---------------------------------------------------------------------------
# SERP JSON fixtures (G3 SearXNG / G4 AC-engine) — deterministic responses
# derived from the documents table, so the parse queries are oracle-able:
# the oracle recomputes the expected flat rows directly from doc_id, while
# the Spark path must round-trip build-JSON → from_json → flatten.
# ---------------------------------------------------------------------------

def searxng_responses_from_documents(docs_df):
    """(query, page, body) rows: body is a SearXNG-style JSON response whose
    results array is built per-document (Searxng.ts:97-180 field set), with
    decoys the parser must handle — missing url (skipped), missing
    title/content/engine (defaults), malformed resolution (no dims)."""
    from pyspark.sql import functions as F

    d = F.col("doc_id")
    is_img = d % 4 == 1
    is_news = d % 4 == 2
    item = F.struct(
        d.alias("doc_id"),  # sort key; ignored by the parser's JSON schema
        F.when(d % 11 != 0, F.concat(F.lit("https://sx.test/"), d)).alias("url"),
        F.when(d % 13 != 0, F.concat(F.lit("Doc "), d)).alias("title"),
        F.when(d % 5 != 0, F.concat(F.lit("content-"), d)).alias("content"),
        F.concat(F.lit("snippet-"), d).alias("snippet"),
        F.when(d % 7 != 0, F.concat(F.lit("engine"), d % 3)).alias("engine"),
        F.when(d % 4 == 0, "web").when(is_img, "images")
         .when(is_news, "news").alias("category"),
        F.when(is_img & (d % 9 == 0), F.lit("N/A"))
         .when(is_img & (d % 2 == 0),
               F.concat((d + 100), F.lit("×"), (d + 200)))
         .when(is_img, F.concat((d + 100), F.lit(" x "), (d + 200)))
         .alias("resolution"),
        F.when(is_img, F.concat(F.lit("https://img.test/"), d)).alias("img_src"),
        F.when(is_img, F.array((d % 10).cast("int"), F.lit(99))).alias("positions"),
        F.when(is_img, F.concat(F.lit("https://ts.test/"), d)).alias("thumbnail_src"),
        F.when(is_img, "jpeg").alias("img_format"),
        F.when(is_img, "123 kB").alias("filesize"),
        F.when(is_news & (d % 2 == 1),
               F.concat(F.lit("2026-01-"), F.lpad((d % 28 + 1), 2, "0")))
         .alias("publishedDate"),
        F.when(is_news, "2026-02-01").alias("pubdate"),
        F.when(is_news & (d % 3 != 0),
               F.concat(F.lit("https://t.test/"), d)).alias("thumbnail"),
    )
    return (
        docs_df.select(
            F.concat(F.lit("q"), d % 7).alias("query"),
            (F.floor(d / 7) % 3 + 1).alias("page"),
            item.alias("item"))
        .groupBy("query", "page")
        .agg(F.sort_array(F.collect_list("item")).alias("results"))
        .select("query", "page",
                F.to_json(F.struct(F.col("results"))).alias("body"))
    )


def ac_responses_from_documents(docs_df):
    """(query, page, body) rows with AC-engine-style JSON results
    (ACEngine.ts:61-115 field set): typed image dims, defaulted source,
    description||snippet fallback chain, skip-no-url decoys."""
    from pyspark.sql import functions as F

    d = F.col("doc_id")
    is_img = d % 3 == 0
    is_news = d % 3 == 1
    item = F.struct(
        d.alias("doc_id"),
        F.when(d % 10 != 0, F.concat(F.lit("https://ac.test/"), d)).alias("url"),
        F.when(d % 12 != 0, F.concat(F.lit("AC Doc "), d)).alias("title"),
        F.when(d % 4 != 0, F.concat(F.lit("desc-"), d)).alias("description"),
        F.when(d % 8 != 0, F.concat(F.lit("snip-"), d)).alias("snippet"),
        F.when(d % 6 != 0, F.concat(F.lit("src"), d % 2)).alias("source"),
        F.when(is_img, "images").when(is_news, "news").alias("category"),
        F.when(is_img | is_news,
               F.concat(F.lit("https://aci.test/"), d)).alias("imageUrl"),
        F.when(is_img & (d % 5 != 0), (d * 2)).alias("imageWidth"),
        F.when(is_img & (d % 5 != 0), (d * 3)).alias("imageHeight"),
        F.when(is_img, (d % 10)).alias("position"),
        F.when(is_img, "png").alias("img_format"),
        F.when(is_news & (d % 2 == 1),
               F.concat(F.lit("2026-03-"), F.lpad((d % 28 + 1), 2, "0")))
         .alias("date"),
    )
    return (
        docs_df.select(
            F.concat(F.lit("acq"), d % 5).alias("query"),
            (F.floor(d / 5) % 2 + 1).alias("page"),
            item.alias("item"))
        .groupBy("query", "page")
        .agg(F.sort_array(F.collect_list("item")).alias("results"))
        .select("query", "page",
                F.to_json(F.struct(F.col("results"))).alias("body"))
    )


def sitemap_bodies_from_documents(docs_df):
    """(host, sitemap_url, body) fixture: per host one ``sitemapindex``
    referencing two child sitemaps, children carrying ``<urlset>`` page
    entries derived from doc_id (XML built JVM-side, deterministic order)."""
    from pyspark.sql import functions as F

    d = F.col("doc_id")
    host = F.concat(F.lit("smsite"), d % 3, F.lit(".test"))
    child = F.when((d / 3).cast("long") % 2 == 0, "a").otherwise("b")
    loc = F.concat(F.lit("https://"), host, F.lit("/d/"), d)
    lastmod = F.when(
        d % 2 == 0,
        F.concat(F.lit("<lastmod>2026-0"), d % 9 + 1, F.lit("-01</lastmod>")),
    ).otherwise(F.lit(""))
    entry = F.concat(F.lit("<url><loc>"), loc, F.lit("</loc>"),
                     lastmod, F.lit("</url>"))
    per_child = (
        docs_df.select(host.alias("host"), child.alias("child"),
                       F.struct(d.alias("doc_id"), entry.alias("e")).alias("s"))
        .groupBy("host", "child")
        .agg(F.array_join(
            F.transform(F.sort_array(F.collect_list("s")), lambda s: s["e"]),
            "").alias("body_inner"))
    )
    children = per_child.select(
        "host",
        F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap-"),
                 F.col("child"), F.lit(".xml")).alias("sitemap_url"),
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.col("body_inner"), F.lit("</urlset>")).alias("body"),
    )
    index = (
        children.groupBy("host")
        .agg(F.array_join(
            F.transform(
                F.sort_array(F.collect_list("sitemap_url")),
                lambda u: F.concat(F.lit("<sitemap><loc>"), u,
                                   F.lit("</loc></sitemap>"))), "")
             .alias("refs"))
        .select(
            "host",
            F.concat(F.lit("https://"), F.col("host"),
                     F.lit("/sitemap.xml")).alias("sitemap_url"),
            F.concat(
                F.lit('<sitemapindex xmlns="http://www.sitemaps.org/'
                      'schemas/sitemap/0.9">'),
                F.col("refs"), F.lit("</sitemapindex>")).alias("body"))
    )
    return children.unionByName(index)


# ---------------------------------------------------------------------------
# Pages derived from the driver's documents table (sf-scaled harness input)
# ---------------------------------------------------------------------------

def pages_from_documents(docs_df, host: str = "docs.test"):
    """Wrap each documents row into a deterministic page over the input_hint
    schema; the link graph is a 3-ary tree over doc_id (doc i → 3i+1..3i+3),
    so a crawl of this corpus is fully deterministic given the row count."""
    from pyspark.sql import functions as F

    n_docs = docs_df.count()

    def gen(iterator):
        import pandas as pd

        from anycrawl_spark.kernel.text import html_to_text

        for pdf in iterator:
            rows = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                doc_id = int(doc_id)
                children = [c for c in (doc_id * 3 + 1, doc_id * 3 + 2, doc_id * 3 + 3)
                            if c < n_docs]
                links = "".join(
                    f'<li><a href="/d/{c}">doc {c}</a></li>' for c in children
                )
                html = (
                    f'<!DOCTYPE html><html lang="{lang}"><head>'
                    f"<title>Doc {doc_id}</title>"
                    f'<meta name="description" content="document {doc_id}"></head>'
                    f"<body><header>chrome</header>"
                    f'<main><article><h1>Document {doc_id}</h1>'
                    f"<p>{text}</p><ul>{links}</ul></article></main>"
                    f"<footer>footer</footer></body></html>"
                )
                url = f"https://{host}/d/{doc_id}"
                ts = EPOCH.fromtimestamp(
                    EPOCH.timestamp() + (h64(url) % (30 * 86400)), tz=timezone.utc
                ).replace(tzinfo=None)
                rows.append((url, ts, html.encode("utf-8"), html_to_text(html), lang))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return docs_df.select("doc_id", "text", "lang").mapInPandas(gen, schema=PAGES_SCHEMA)
