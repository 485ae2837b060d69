"""Result memoization: page-cache lookup + upsert semantics
(SURVEY.md §2.1 S8, §2.5 A6, §4 "Result memoization").

Re-expresses ``managers/Cache.ts:24-214`` + ``libs/src/cache/index.ts:153-211``:

- cache key = (urlHash = sha256(canonical url), optionsHash = sha256 of the
  sorted-keys JSON of the cacheable options) — unique index
  ``PostgreSQL.ts:393``;
- lookup = newest-first within max_age (``Cache.ts:50-60``) — a join +
  row_number window;
- save = MERGE-style upsert keyed by (url_hash, options_hash) — expressed as
  "latest snapshot wins" over the union of old cache + new rows, which is
  exactly Iceberg ``MERGE INTO`` at deployment scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

CACHE_COLS = ["url_hash", "options_hash", "url", "markdown", "text", "title",
              "status", "scraped_at"]

# Reference default TTL tiers (libs/src/config.ts:186-191): a per-call
# max_age always wins; otherwise the tier default applies — 2 days for the
# page cache (ANYCRAWL_CACHE_DEFAULT_MAX_AGE), 7 days for the map/sitemap
# cache (ANYCRAWL_CACHE_SITEMAP_MAX_AGE).
DEFAULT_MAX_AGE_SECONDS = 2 * 24 * 3600
SITEMAP_MAX_AGE_SECONDS = 7 * 24 * 3600
TTL_TIERS = {"page": DEFAULT_MAX_AGE_SECONDS,
             "sitemap": SITEMAP_MAX_AGE_SECONDS}


def ttl_for_tier(tier: str) -> int:
    return TTL_TIERS[tier]


def kv_key_col(job_id: str, url_col) -> "F.Column":
    """crawlee key-value-store key for crawl results:
    ``crawl-data-{jobId}-{base64(url)}`` (Base.ts:561). Our result sink is
    parquet/Iceberg-keyed, but the scalar is part of the reference's
    observable key scheme, so it is provided (and oracle-checked) for
    consumers that address results the reference's way."""
    return F.concat(
        F.lit(f"crawl-data-{job_id}-"),
        F.base64(F.encode(url_col, "utf-8")),
    )


def cache_lookup(frontier: DataFrame, cache: DataFrame, opts_hash: str,
                 max_age_seconds: int | None = None,
                 now_expr: str = "current_timestamp()",
                 tier: str | None = "page") -> DataFrame:
    """Left-join the frontier against the cache on (url_hash, options_hash);
    keep only fresh entries, newest first, limit 1 per key (Cache.ts:50-60).
    ``max_age_seconds`` overrides per call; otherwise the ``tier`` default
    TTL applies (page 2d / sitemap 7d, config.ts:186-191); tier=None with no
    max_age disables the age filter entirely.
    Returns frontier columns + ``cache_hit`` flag + cached payload columns.
    ``max_age_seconds=0`` is force-refresh: every row misses (Cache.ts:40-43
    returns null before touching the cache)."""
    if max_age_seconds is None and tier is not None:
        max_age_seconds = ttl_for_tier(tier)
    if max_age_seconds == 0:
        return (  # same column order as the join path below
            frontier
            .withColumn("cached_markdown", F.lit(None).cast("string"))
            .withColumn("cached_text", F.lit(None).cast("string"))
            .withColumn("cached_title", F.lit(None).cast("string"))
            .withColumn("cached_at", F.lit(None).cast("timestamp"))
            .withColumn("cache_hit", F.lit(False))
        )
    fresh = cache.where(F.col("options_hash") == opts_hash)
    if max_age_seconds is not None:
        # strictly greater, matching the reference's gt(scrapedAt, minScrapedAt)
        fresh = fresh.where(
            F.col("scraped_at") > F.expr(f"{now_expr} - INTERVAL {max_age_seconds} SECOND"))
    w = Window.partitionBy("url_hash").orderBy(F.desc("scraped_at"))
    newest = (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("url_hash").alias("__c_hash"),
            F.col("markdown").alias("cached_markdown"),
            F.col("text").alias("cached_text"),
            F.col("title").alias("cached_title"),
            F.col("scraped_at").alias("cached_at"),
        )
    )
    return (
        frontier.join(newest, frontier["url_hash"] == F.col("__c_hash"), "left")
        .withColumn("cache_hit", F.col("__c_hash").isNotNull())
        .drop("__c_hash")
    )


def cache_upsert(cache: DataFrame | None, new_rows: DataFrame) -> DataFrame:
    """MERGE-equivalent: newest row per (url_hash, options_hash) wins across
    old ∪ new; on a scraped_at TIE the new row wins (the reference's
    saveToCache is an unconditional upsert — without the tiebreak a
    re-scrape landing in the same second as the cached entry would
    nondeterministically keep the stale payload). At deployment scale this
    is ``MERGE INTO page_cache USING new ON (url_hash, options_hash)``."""
    new_rows = new_rows.select(*CACHE_COLS).withColumn("__is_new", F.lit(1))
    if cache is None:
        unioned = new_rows
    else:
        unioned = (cache.select(*CACHE_COLS).withColumn("__is_new", F.lit(0))
                   .unionByName(new_rows))
    w = Window.partitionBy("url_hash", "options_hash").orderBy(
        F.desc("scraped_at"), F.desc("__is_new"))
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__is_new")
    )


# ===========================================================================
# Write-side cache admission + key derivation (libs/src/cache/index.ts)
# ===========================================================================
#
# The read path above answers "is there a fresh entry?"; this section
# answers the two write-side questions every completed scrape runs through
# before touching the cache table:
#
#   1. ``computeCacheKey`` (cache/index.ts:170-211) — which (urlHash,
#      optionsHash) cell does this result live in?  URL normalization
#      (cache/index.ts:130-148: lowercase host, single-trailing-slash
#      strip, tracking-param removal, sorted query) + a FIXED-KEY-ORDER
#      cacheable-options JSON whose sha256 is the options hash.
#   2. ``shouldCache`` (cache/index.ts:216-244) — is the payload worth
#      storing at all?  Option gates (store_in_cache=false, template,
#      custom headers, actions) then ``hasMeaningfulResultContent``
#      (:79-121): any plain-text signal, non-empty structured json, links,
#      or markdown whose *comparable* normalization (:56-64) differs from
#      the title's — the "title-only markdown" rejection.
#
# Both exist twice, deliberately: exact-parity Python scalars (UDF paths +
# pytest ground truth, incl. the reference's own cache.test.ts cases) and
# JVM column builders used by the batch operator so the hot path never
# leaves whole-stage codegen.

CACHE_TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign",
                         "utm_term", "utm_content", "fbclid", "gclid")

# JS \s (used by normalizeText's /\s+/g) — Unicode whitespace incl. BOM.
_JS_WS = "[ \\t\\n\\v\\f\\r\\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000\\ufeff]+"


def js_normalize_text(value) -> str:
    """normalizeText (cache/index.ts:49-54): non-strings -> ''; collapse
    whitespace runs to one space and trim."""
    if not isinstance(value, str):
        return ""
    import re as _re
    # after the collapse every JS-whitespace run is a single space,
    # so trimming the plain space IS the JS trim()
    return _re.sub(_JS_WS, " ", value).strip(" ")


def md_comparable_text(value) -> str:
    """normalizeMarkdownComparableText (cache/index.ts:56-64): strip
    markdown images, unwrap links to their text, blank out markdown
    punctuation, re-collapse whitespace, lowercase."""
    import re as _re
    s = js_normalize_text(value)
    s = _re.sub(r"!\[[^\]]*\]\([^)]+\)", " ", s)
    s = _re.sub(r"\[([^\]]+)\]\([^)]+\)", r"\1", s)
    s = _re.sub(r"[#>*_~`|]", " ", s)
    s = _re.sub(_JS_WS, " ", s).strip()
    return s.lower()


def has_meaningful_result_content(result) -> bool:
    """hasMeaningfulResultContent (cache/index.ts:79-121)."""
    if not isinstance(result, dict):
        return False
    for key in ("html", "rawHtml", "text", "summary", "screenshot",
                "screenshot@fullPage"):
        if js_normalize_text(result.get(key)):
            return True
    json_v = result.get("json")
    if json_v is not None:
        if isinstance(json_v, (list, dict)):
            if len(json_v) > 0:
                return True
        else:
            return True          # scalar: plain JS truthiness-free "true"
    links = result.get("links")
    if isinstance(links, list) and len(links) > 0:
        return True
    markdown = js_normalize_text(result.get("markdown"))
    if not markdown:
        return False
    normalized_markdown = md_comparable_text(markdown)
    if not normalized_markdown:
        return False
    title = js_normalize_text(result.get("title"))
    if not title:
        return True
    return normalized_markdown != md_comparable_text(title)


def should_cache(options, result) -> tuple[bool, str]:
    """shouldCache (cache/index.ts:216-244), with the first failing gate
    as a reason label ('store' when every gate passes)."""
    opts = options if isinstance(options, dict) else {}
    if opts.get("store_in_cache") is False:
        return False, "store_in_cache"
    if opts.get("template_id"):
        return False, "template"
    headers = opts.get("headers")
    if isinstance(headers, dict) and len(headers) > 0:
        return False, "headers"
    actions = opts.get("actions")
    if isinstance(actions, list) and len(actions) > 0:
        return False, "actions"
    if not has_meaningful_result_content(result):
        return False, "empty_result"
    return True, "store"


def normalize_cache_url(url: str) -> str:
    """normalizeUrl (cache/index.ts:130-148): the page-cache's OWN URL
    canonicalization (distinct from the crawl kernel's crawlee parity in
    kernel/canonical.py): lowercase scheme+host, strip ONE trailing slash
    when the path is more than '/', delete the seven tracking params, and
    sort the remaining query pairs by key.  A URL ``new URL()`` would
    throw on is returned verbatim (the reference's catch).

    Percent-encoding is kept verbatim rather than re-encoded through the
    WHATWG form serializer (same documented approximation as
    template._split_js_url — the inputs here are the pipeline's already-
    canonicalized URLs)."""
    from urllib.parse import parse_qsl, quote_plus

    from anycrawl_spark.template import _split_js_url

    pieces = _split_js_url(url)
    if pieces is None:
        return url
    origin, _host, pathname, query, fragment = pieces
    if len(pathname) > 1 and pathname.endswith("/"):
        pathname = pathname[:-1]
    if query:
        pairs = [(k, v) for k, v in
                 parse_qsl(query[1:], keep_blank_values=True)
                 if k not in CACHE_TRACKING_PARAMS]
        pairs.sort(key=lambda kv: kv[0])     # stable, key-only — JS
        # URLSearchParams.sort() compares keys and preserves value order
        query = ("?" + "&".join(
            f"{quote_plus(k)}={quote_plus(v)}" for k, v in pairs)
        ) if pairs else ""
    return f"{origin}{pathname}{query}{fragment}"


def compute_cache_key(params: dict) -> tuple[str, str]:
    """computeCacheKey (cache/index.ts:170-211): (urlHash, optionsHash).

    The options hash is sha256 of a FIXED-KEY-ORDER JSON (the object
    literal's insertion order); keys whose value is JS ``undefined``
    (engine-gated browser_runtime, absent include/exclude_tags) are
    omitted exactly as ``JSON.stringify`` omits them.  Quirks pinned:

    * engine 'auto' resolves through ``_autoResolvedEngine || 'cheerio'``;
    * browser_runtime participates ONLY for playwright/puppeteer (the
      cache.test.ts "does not let browser runtime affect cheerio" case);
    * ``formats`` defaults to ['markdown'] and is sorted (JS default
      string sort);
    * ``include_tags: []`` is truthy in JS — an EMPTY array is kept,
      only undefined drops the key;
    * proxy normalizes to none/true/unknown/auto/base/stealth or
      ``custom:`` + first 12 hex of sha256(proxy url);
    * ``only_main_content ?? true`` / ``extract_source ?? 'markdown'`` /
      ``ocr_options ?? false`` — nullish coalescing, so explicit false
      survives.
    """
    import hashlib as _hashlib
    import json as _json

    url_hash = _hashlib.sha256(
        normalize_cache_url(params["url"]).encode("utf-8")).hexdigest()

    proxy_value = params.get("proxy")
    if not proxy_value:
        normalized_proxy = "none"
    elif proxy_value is True:
        normalized_proxy = "true"
    elif not isinstance(proxy_value, str):
        normalized_proxy = "unknown"
    else:
        lowered = proxy_value.lower()
        if lowered in ("auto", "base", "stealth"):
            normalized_proxy = lowered
        else:
            normalized_proxy = "custom:" + _hashlib.sha256(
                proxy_value.encode("utf-8")).hexdigest()[:12]

    engine = (params.get("_autoResolvedEngine") or "cheerio") \
        if params.get("engine") == "auto" else (params.get("engine")
                                                or "cheerio")
    _undef = object()
    browser_runtime = _undef if engine not in ("playwright", "puppeteer") \
        else (params.get("browser_runtime") or "default")

    def _sort_keys(obj):
        if isinstance(obj, dict):
            return {k: _sort_keys(obj[k]) for k in sorted(obj)}
        if isinstance(obj, list):
            return [_sort_keys(x) for x in obj]
        return obj

    def _stringify(obj):
        return _json.dumps(obj, separators=(",", ":"), ensure_ascii=False)

    def _nullish(key, default):
        v = params.get(key, None)
        return default if v is None else v

    cacheable = {
        "engine": engine,
        "browser_runtime": browser_runtime,
        # `params.formats || ['markdown']`: [] is truthy in JS, so an
        # explicit empty formats array survives (Python's `or` must not
        # swallow it); only null/undefined take the default
        "formats": sorted(params["formats"])
        if params.get("formats") is not None else ["markdown"],
        # `params.json_options ? stringify : null` — JS objects are ALWAYS
        # truthy, so an empty {} still stringifies (Python's falsy-{} must
        # not fall to null)
        "json_options": _stringify(_sort_keys(params["json_options"]))
        if params.get("json_options") is not None else None,
        "include_tags": sorted(params["include_tags"])
        if params.get("include_tags") is not None else _undef,
        "exclude_tags": sorted(params["exclude_tags"])
        if params.get("exclude_tags") is not None else _undef,
        "only_main_content": _nullish("only_main_content", True),
        "extract_source": _nullish("extract_source", "markdown"),
        "ocr_options": _nullish("ocr_options", False),
        "wait_for": _nullish("wait_for", None),
        "wait_until": _nullish("wait_until", None),
        "wait_for_selector": _stringify(
            _sort_keys(params["wait_for_selector"]))
        if params.get("wait_for_selector") is not None else None,
        "proxy": normalized_proxy,
    }
    # `params.include_tags ? [...] : undefined` — [] is truthy in JS, so
    # an explicit empty array is KEPT (renders "include_tags":[]); only
    # undefined/null drop the key.
    rendered = {k: v for k, v in cacheable.items() if v is not _undef}
    options_hash = _hashlib.sha256(
        _stringify(rendered).encode("utf-8")).hexdigest()
    return url_hash, options_hash


def compute_domain_hash(url: str) -> str:
    """computeDomainHash (cache/index.ts:281-289): sha256 of the
    lowercased hostname; unparseable URLs hash verbatim (the catch)."""
    import hashlib as _hashlib

    from anycrawl_spark.template import _split_js_url
    pieces = _split_js_url(url)
    subject = pieces[1] if pieces is not None else url
    return _hashlib.sha256(subject.encode("utf-8")).hexdigest()


# --- JVM column builders (the batch hot path: no Python in the loop) ------

# Java regex equivalents of the md-comparable chain.  The synthesized
# corpus is ASCII, where Java/RE2/JS whitespace classes agree; the Python
# scalars above are the exact-parity fallback for exotic whitespace.
_IMG_RE = r"!\[[^\]]*\]\([^)]+\)"
_LINK_RE = r"\[([^\]]+)\]\([^)]+\)"
_PUNCT_RE = r"[#>*_~`|]"


def normalize_text_col(c: F.Column) -> F.Column:
    """normalizeText as a codegen-friendly column (NULL-safe -> '')."""
    return F.trim(F.regexp_replace(F.coalesce(c, F.lit("")),
                                   r"\s+", " "))


def md_comparable_col(c: F.Column) -> F.Column:
    """normalizeMarkdownComparableText as a column expression."""
    s = normalize_text_col(c)
    s = F.regexp_replace(s, _IMG_RE, " ")
    s = F.regexp_replace(s, _LINK_RE, "$1")
    s = F.regexp_replace(s, _PUNCT_RE, " ")
    return F.lower(F.trim(F.regexp_replace(s, r"\s+", " ")))


def store_gate_cols(df: DataFrame) -> DataFrame:
    """shouldCache + hasMeaningfulResultContent over a batch of completed
    scrapes, appending ``gate_reason`` (first failing gate, reference
    check order) and ``should_store``.

    Expected columns (absent signals ride NULL): store_in_cache boolean,
    template_id string, n_headers int (Object.keys(headers).length),
    n_actions int, html / raw_html / text_out / summary / screenshot /
    screenshot_full strings, json_size int (NULL = no json; the pipeline's
    json output is always the extracted object/array, so scalar json stays
    out of the batch encoding), links_count int, markdown, title.
    """
    nt = normalize_text_col
    plain = (
        (F.length(nt(F.col("html"))) > 0)
        | (F.length(nt(F.col("raw_html"))) > 0)
        | (F.length(nt(F.col("text_out"))) > 0)
        | (F.length(nt(F.col("summary"))) > 0)
        | (F.length(nt(F.col("screenshot"))) > 0)
        | (F.length(nt(F.col("screenshot_full"))) > 0)
    )
    json_ok = F.col("json_size").isNotNull() & (F.col("json_size") > 0)
    links_ok = F.col("links_count").isNotNull() & (F.col("links_count") > 0)
    md = nt(F.col("markdown"))
    md_cmp = md_comparable_col(F.col("markdown"))
    title = nt(F.col("title"))
    md_ok = (
        (F.length(md) > 0) & (F.length(md_cmp) > 0)
        & ((F.length(title) == 0)
           | (md_cmp != md_comparable_col(F.col("title"))))
    )
    meaningful = plain | json_ok | links_ok | md_ok

    reason = (
        F.when(F.col("store_in_cache").eqNullSafe(F.lit(False)),
               F.lit("store_in_cache"))
        .when(F.col("template_id").isNotNull()
              & (F.col("template_id") != ""), F.lit("template"))
        .when(F.coalesce(F.col("n_headers"), F.lit(0)) > 0,
              F.lit("headers"))
        .when(F.coalesce(F.col("n_actions"), F.lit(0)) > 0,
              F.lit("actions"))
        .when(~meaningful, F.lit("empty_result"))
        .otherwise(F.lit("store"))
    )
    return df.withColumn("gate_reason", reason) \
             .withColumn("should_store", F.col("gate_reason") == "store")


def normalize_cache_url_col(url: F.Column) -> F.Column:
    """normalizeUrl as pure JVM expressions, for the URL grammar the cache
    actually receives: absolute, already percent-encoded http(s) URLs
    with lowercase scheme+host, no fragment, and unique un-encoded query
    keys — i.e. the output of the crawl kernel's canonicalization.  (The
    Python scalar above is the full JS-URL-parity implementation; pytest
    pins the two to byte equality on this grammar.)"""
    has_q = F.instr(url, "?") > 0
    base = F.substring_index(url, "?", 1)
    # pathname.length > 1 && endsWith('/') -> slice(0, -1): exactly ONE
    # trailing slash, never the root's
    base = F.regexp_replace(base, r"^(https?://[^/]+/.+)/$", "$1")
    # JS URL serializes an empty path as '/'
    base = F.when(base.rlike(r"^https?://[^/]+$"),
                  F.concat(base, F.lit("/"))).otherwise(base)

    query = F.when(has_q,
                   F.substring(url, F.instr(url, "?") + 1, F.length(url)))
    key = lambda p: F.substring_index(p, "=", 1)          # noqa: E731
    pairs = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~key(p).isin(*CACHE_TRACKING_PARAMS))
    # URLSearchParams serializes a bare key as 'key='
    pairs = F.transform(
        pairs, lambda p: F.when(F.instr(p, "=") == 0,
                                F.concat(p, F.lit("="))).otherwise(p))
    # searchParams.sort(): by key only (values ride along)
    pairs = F.array_sort(
        pairs, lambda l, r: F.when(key(l) < key(r), F.lit(-1))
        .when(key(l) > key(r), F.lit(1)).otherwise(F.lit(0)))
    return F.when(has_q & (F.size(pairs) > 0),
                  F.concat(base, F.lit("?"), F.array_join(pairs, "&"))
                  ).otherwise(base)


def cache_key_cols(df: DataFrame) -> DataFrame:
    """computeCacheKey over a batch: appends ``normalized_url``,
    ``url_hash``, ``cache_options_json`` (the exact JSON.stringify text —
    surfaced so the oracle can compare the string, not just its hash) and
    ``options_hash``.

    Expected columns (NULL = JS undefined): url, engine,
    auto_resolved_engine, browser_runtime, formats array<string>, proxy
    string, only_main_content boolean, wait_for long.  The remaining
    cacheable keys (json_options / include_tags / exclude_tags /
    extract_source / ocr_options / wait_until / wait_for_selector) render
    their documented defaults — per-row variation of those shapes is
    covered by the Python ``compute_cache_key`` tests.
    """
    normalized = normalize_cache_url_col(F.col("url"))

    resolved = F.when(
        F.col("engine") == "auto",
        F.coalesce(F.col("auto_resolved_engine"), F.lit("cheerio"))
    ).otherwise(F.coalesce(F.col("engine"), F.lit("cheerio")))
    runtime = F.when(
        resolved.isin("playwright", "puppeteer"),
        F.coalesce(F.col("browser_runtime"), F.lit("default")))

    fmts = F.array_sort(F.coalesce(
        F.col("formats"), F.array(F.lit("markdown"))))
    fmts_json = F.to_json(fmts)

    lowered = F.lower(F.col("proxy"))
    proxy_norm = (
        F.when(F.col("proxy").isNull() | (F.col("proxy") == ""),
               F.lit("none"))
        .when(lowered.isin("auto", "base", "stealth"), lowered)
        .otherwise(F.concat(F.lit("custom:"),
                            F.substring(F.sha2(F.col("proxy"), 256),
                                        1, 12)))
    )

    omc = F.coalesce(F.col("only_main_content"), F.lit(True))
    wait_for = F.coalesce(F.col("wait_for").cast("string"), F.lit("null"))

    options_json = F.concat(
        F.lit('{"engine":"'), resolved, F.lit('",'),
        F.coalesce(F.concat(F.lit('"browser_runtime":"'), runtime,
                            F.lit('",')), F.lit("")),
        F.lit('"formats":'), fmts_json, F.lit(","),
        F.lit('"json_options":null,'),
        F.lit('"only_main_content":'), omc.cast("string"), F.lit(","),
        F.lit('"extract_source":"markdown",'),
        F.lit('"ocr_options":false,'),
        F.lit('"wait_for":'), wait_for, F.lit(","),
        F.lit('"wait_until":null,"wait_for_selector":null,'),
        F.lit('"proxy":"'), proxy_norm, F.lit('"}'),
    )
    return (df.withColumn("normalized_url", normalized)
              .withColumn("url_hash", F.sha2(F.col("normalized_url"), 256))
              .withColumn("cache_options_json", options_json)
              .withColumn("options_hash",
                          F.sha2(F.col("cache_options_json"), 256)))


def build_page_cache(results: DataFrame, *, engine: str = "cheerio",
                     formats: tuple[str, ...] = ("markdown",),
                     proxy: str | None = None,
                     only_main_content: bool | None = None,
                     scraped_at_expr: str = "current_timestamp()",
                     existing: DataFrame | None = None) -> DataFrame:
    """The reference worker's save path, composed end to end: successful
    scrapes pass ``shouldCache``, get their ``computeCacheKey`` cell, and
    MERGE into the page-cache table (Worker.ts save step ->
    cache/index.ts:170-244 -> managers/Cache.ts upsert).

    ``results`` is the engine's results table (crawl.py sink schema).
    ``proxy`` must be the job's ORIGINAL requested proxy option, not the
    per-row resolved mode the results table records — the reference keys
    the cache on ``_originalProxy ?? options.proxy`` (Base.ts:1206)
    precisely so a later request with the same options hits the same
    cell.  Job-level options the corpus replay holds constant (engine,
    formats, only_main_content, proxy) arrive as arguments.  Returns the upserted cache table in CACHE_COLS
    shape — note the cache's ``url_hash`` is sha256 of the cache-
    normalized URL, NOT the crawl kernel's xx-hash column, which this
    replaces."""
    gate_in = results.where(F.col("status") == 200).select(
        "url", "markdown", "title",
        F.col("text").alias("text_out"),
        F.col("html_clean").alias("html"),
        F.lit(None).cast("string").alias("raw_html"),
        F.lit(None).cast("string").alias("summary"),
        F.lit(None).cast("string").alias("screenshot"),
        F.lit(None).cast("string").alias("screenshot_full"),
        F.lit(None).cast("int").alias("json_size"),
        F.lit(None).cast("int").alias("links_count"),
        F.lit(None).cast("boolean").alias("store_in_cache"),
        F.lit(None).cast("string").alias("template_id"),
        F.lit(None).cast("int").alias("n_headers"),
        F.lit(None).cast("int").alias("n_actions"),
        F.lit(engine).alias("engine"),
        F.lit(None).cast("string").alias("auto_resolved_engine"),
        F.lit(None).cast("string").alias("browser_runtime"),
        F.array(*[F.lit(f) for f in formats]).alias("formats"),
        F.lit(proxy).cast("string").alias("proxy"),
        F.lit(only_main_content).cast("boolean")
        .alias("only_main_content"),
        F.lit(None).cast("long").alias("wait_for"),
        F.col("status"),
    )
    admitted = store_gate_cols(gate_in).where("should_store")
    keyed = cache_key_cols(admitted).select(
        "url_hash", "options_hash", "url", "markdown",
        F.col("text_out").alias("text"), "title", "status",
        F.expr(scraped_at_expr).cast("timestamp").alias("scraped_at"))
    return cache_upsert(existing, keyed)
