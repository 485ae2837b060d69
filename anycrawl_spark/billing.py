"""Credit/charge rollup (SURVEY §2 A10 stretch; reference
packages/libs/src/credits.ts + packages/scrape/src/managers/Progress.ts).

The reference charges crawl jobs per successful page inside a DB
transaction; the deterministic math is:

- per-page cost (credits.ts ``buildCrawlPageChargeDetails``, :191-204):
  ``crawl_page_success`` = 1, plus ``proxy_stealth`` (default 2, only when
  the resolved proxy mode is stealth), plus ``json_llm_extract`` (env
  ``ANYCRAWL_EXTRACT_JSON_CREDITS``, default 0 — DOUBLED when
  ``extract_source == 'html'``, zero unless 'json' ∈ formats with
  json_options), plus ``summary_generation`` (env default 0, only when
  'summary' ∈ formats). Items with credits <= 0 are dropped
  (``normalizeChargeItem`` :62-79).
- deduction gates (Progress.ts:182-309): charge only successful pages
  (``wasSuccess``), only within the job limit (``done > jobLimit`` →
  skip), and never page 1 (``done <= 1`` — the crawl-initial fee already
  covers it, :225-229).
- idempotency (Progress.ts:283): key ``crawl:page-success:{jobId}:{done}``
  — a replayed/duplicated page event must charge once.

``credit_rollup`` replays a page-event log into per-job credit totals:
two hash aggregations (idempotency dedup keyed by the (job_id, done)
pair, then the per-job rollup); the second shuffle moves one already-
deduped row per page, so the raw-log exchange dominates at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PAGE_EVENT_SCHEMA = (
    "job_id string, done int, was_success boolean, job_limit int, "
    "proxy string, has_json boolean, extract_source string, "
    "formats array<string>"
)

DEFAULT_STEALTH_CREDITS = 2   # credits.ts:7 DEFAULT_PROXY_STEALTH_CREDITS
DEFAULT_JSON_CREDITS = 0      # credits.ts:8 DEFAULT_EXTRACT_JSON_CREDITS
DEFAULT_SUMMARY_CREDITS = 0   # credits.ts:9 DEFAULT_SUMMARY_CREDITS


def per_page_cost(stealth_credits: int = DEFAULT_STEALTH_CREDITS,
                  json_credits: int = DEFAULT_JSON_CREDITS,
                  summary_credits: int = DEFAULT_SUMMARY_CREDITS,
                  stealth_configured: bool = True):
    """Column expression: crawl per-page charge total for one page event
    (credits.ts buildCrawlPageChargeDetails = 1 + the shared option-driven
    parts). Single source of truth with charge_details — both go through
    _scrape_credit_parts, so the rollup and the itemized calculator can
    never disagree on a page's cost."""
    proxy, jsonc, summary = _scrape_credit_parts(
        "", stealth_credits, json_credits, summary_credits,
        stealth_configured)
    return F.lit(1) + proxy + jsonc + summary


def credit_rollup(page_events: DataFrame,
                  stealth_credits: int = DEFAULT_STEALTH_CREDITS,
                  json_credits: int = DEFAULT_JSON_CREDITS,
                  summary_credits: int = DEFAULT_SUMMARY_CREDITS) -> DataFrame:
    """Per-job charge rollup from a page-event log: apply the Progress.ts
    deduction gates, dedup by the reference idempotency key, sum the
    per-page costs. Output: (job_id, pages_charged, credits_used,
    pages_seen, pages_skipped)."""
    # coalesce: a NULL was_success (unrecorded outcome) is not a success —
    # without it the NULL poisons `charged` and the skipped count drops rows
    chargeable = F.coalesce(
        F.col("was_success")
        & (F.col("job_limit").isNull() | (F.col("done") <= F.col("job_limit")))
        & (F.col("done") > 1),          # page 1 covered by the initial fee
        F.lit(False),
    )
    cost = per_page_cost(stealth_credits, json_credits, summary_credits)
    # Per-event charge decision BEFORE the idempotency dedup: the dedup
    # aggregation then carries only primitive buffers (bool/long), which
    # keeps it a HashAggregate — min_by over a struct with strings falls
    # back to a per-partition SortAggregate at scale. The idempotency key
    # ``crawl:page-success:{jobId}:{done}`` (Progress.ts:283) is exactly
    # the (job_id, done) pair, so grouping on the pair IS the key dedup;
    # events agree on cost inputs by key in a faithful log, and min/max
    # keep the fold deterministic even when they don't.
    per_event = page_events.select(
        "job_id", "done", chargeable.alias("charged"),
        F.when(chargeable, cost).otherwise(0).cast("long").alias("cost"))
    deduped = (per_event.groupBy("job_id", "done")
               .agg(F.max("charged").alias("charged"),
                    F.max("cost").alias("cost")))
    return (deduped
            .groupBy("job_id")
            .agg(F.sum(F.col("charged").cast("int")).cast("long")
                 .alias("pages_charged"),
                 F.sum("cost").cast("long").alias("credits_used"),
                 F.count("*").cast("long").alias("pages_seen"),
                 F.sum((~F.col("charged")).cast("int")).cast("long")
                 .alias("pages_skipped")))


# --- Itemized charge details (credits.ts CreditCalculator, :60-310) --------

def resolved_proxy_mode_col(proxy_col, stealth_configured: bool = True):
    """proxy.ts getResolvedProxyMode:54-71 — falsy/'base'/'auto' -> base
    ('auto' charges the base rate initially), 'stealth' -> stealth only
    when stealth proxy URLs are configured (a deployment flag here), any
    other value is a custom URL."""
    base_like = (proxy_col.isNull() | (proxy_col == "")
                 | (proxy_col == "base") | (proxy_col == "auto"))
    return (F.when(base_like, F.lit("base"))
            .when(proxy_col == "stealth",
                  F.lit("stealth" if stealth_configured else "base"))
            .otherwise(F.lit("custom")))


def _item(code: str, credits_col):
    return F.struct(F.lit(code).alias("code"),
                    credits_col.cast("long").alias("credits"))


def _scrape_credit_parts(prefix: str, stealth_credits: int,
                         json_credits: int, summary_credits: int,
                         stealth_configured: bool):
    """The three option-driven charge components shared by every
    scrape-shaped calculator, reading columns ``{prefix}proxy``,
    ``{prefix}has_json``, ``{prefix}formats``, ``{prefix}extract_source``."""
    col = lambda n: F.col(prefix + n)  # noqa: E731
    formats = F.coalesce(col("formats"), F.array().cast("array<string>"))
    proxy = F.when(
        resolved_proxy_mode_col(col("proxy"), stealth_configured)
        == "stealth", F.lit(stealth_credits)).otherwise(F.lit(0))
    json_on = (F.coalesce(col("has_json"), F.lit(False))
               & F.array_contains(formats, "json"))
    # JS `options.extract_source || 'markdown'`: NULL or '' -> markdown
    src = col("extract_source")
    source = F.when(src.isNull() | (src == ""), F.lit("markdown")) \
        .otherwise(src)
    jsonc = F.when(
        json_on & (F.lit(json_credits) > 0),
        F.when(source == "html", F.lit(json_credits * 2))
        .otherwise(F.lit(json_credits))).otherwise(F.lit(0))
    summary = F.when(
        F.array_contains(formats, "summary") & (F.lit(summary_credits) > 0),
        F.lit(summary_credits)).otherwise(F.lit(0))
    return proxy, jsonc, summary


_SCRAPE_BASE_CODES = {
    "scrape_v1": ("base_scrape", True),
    "crawl_initial_v1": ("crawl_initial_page", True),
    "crawl_page_v1": ("crawl_page_success", False),  # no template item
}


def charge_details(options: DataFrame, calculator: str,
                   stealth_credits: int = DEFAULT_STEALTH_CREDITS,
                   json_credits: int = DEFAULT_JSON_CREDITS,
                   summary_credits: int = DEFAULT_SUMMARY_CREDITS,
                   stealth_configured: bool = True) -> DataFrame:
    """Itemized billing charge details (credits.ts buildScrapeChargeDetails
    / buildCrawlInitialChargeDetails / buildCrawlPageChargeDetails /
    buildSearchChargeDetails / buildMapChargeDetails): per job-option row,
    the charge items that survive normalizeChargeItem (credits <= 0
    dropped, credits.ts:62-79) plus the job total — entirely JVM-side
    (array build + filter + aggregate; the explode is the only row
    expansion, there is no shuffle).

    ``options`` columns by calculator: always ``job_id`` and
    ``template_credits`` (except crawl_page_v1, which has no template
    item); scrape-shaped ones read (proxy, has_json, formats,
    extract_source); search_v1 additionally (pages,
    completed_scrape_count, has_scrape_options, follow_template_credits)
    with the follow-up scrape options under ``scrape_*`` columns.
    Output: (job_id, calculator, item_code, item_credits, job_total).
    """
    tpl = _item("template_per_call",
                F.coalesce(F.col("template_credits"), F.lit(0)))
    if calculator in _SCRAPE_BASE_CODES:
        base_code, has_tpl = _SCRAPE_BASE_CODES[calculator]
        proxy, jsonc, summary = _scrape_credit_parts(
            "", stealth_credits, json_credits, summary_credits,
            stealth_configured)
        parts = ([tpl] if has_tpl else []) + [
            _item(base_code, F.lit(1)),
            _item("proxy_stealth", proxy),
            _item("json_llm_extract", jsonc),
            _item("summary_generation", summary),
        ]
    elif calculator == "search_v1":
        pages = F.coalesce(F.col("pages"), F.lit(1))        # JS `?? 1`
        n = F.coalesce(F.col("completed_scrape_count"), F.lit(0))
        charge_scrapes = (F.coalesce(F.col("has_scrape_options"),
                                     F.lit(False)) & (n > 0))
        s_proxy, s_json, s_summary = _scrape_credit_parts(
            "scrape_", stealth_credits, json_credits, summary_credits,
            stealth_configured)
        per_scrape = F.lit(1) + s_proxy + s_json + s_summary
        follow = F.coalesce(F.col("follow_template_credits"), F.lit(0))
        parts = [
            tpl,
            _item("search_pages", pages),
            _item("search_result_scrape",
                  F.when(charge_scrapes, n * per_scrape).otherwise(F.lit(0))),
            _item("search_result_scrape_template",
                  F.when(charge_scrapes & (follow > 0), n * follow)
                  .otherwise(F.lit(0))),
        ]
    elif calculator == "map_v1":
        parts = [tpl, _item("base_map", F.lit(1))]
    else:
        raise ValueError(f"unknown calculator {calculator!r}")

    items = F.filter(F.array(*parts), lambda x: x["credits"] > 0)
    total = F.aggregate(items, F.lit(0).cast("long"),
                        lambda acc, x: acc + x["credits"])
    return (options
            .select("job_id", F.lit(calculator).alias("calculator"),
                    total.alias("job_total"),
                    F.explode(items).alias("__i"))
            .select("job_id", "calculator",
                    F.col("__i.code").alias("item_code"),
                    F.col("__i.credits").alias("item_credits"),
                    "job_total"))


# -- Billing ledger model (packages/db/src/model/Billing.ts) -----------------
#
# The reference books every charge as a ledger row inside the job's DB
# transaction: chargeDeltaByJobId (mode 'delta') adds a positive delta to
# the job's creditsUsed, chargeToUsedByJobId (mode 'target') raises it to a
# target watermark; both reserve an idempotency-keyed ledger entry first
# (ON CONFLICT DO NOTHING — a duplicate key books nothing and charges
# nothing) and then deduct the charged amount from the api key's credits.
# Replay = a global first-per-explicit-key pass (the constraint is a
# GLOBAL unique index; caller keys need not embed the jobId) + a per-job
# sequential fold (default keys are job-scoped by construction) + a
# per-api-key running balance.

import math as _math


def _js_number(v) -> float:
    """Number() coercion for the JSON scalars a charge payload can hold."""
    if v is None:
        return 0.0
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        t = v.strip()
        if t == "":
            return 0.0
        try:
            return float(t)
        except ValueError:
            return float("nan")
    return float("nan")


def normalize_positive_number(value) -> float:
    """Billing.ts:52-56: non-finite or <= 0 -> 0."""
    n = _js_number(value)
    return n if _math.isfinite(n) and n > 0 else 0.0


def normalize_non_negative_number(value) -> float:
    """Billing.ts:58-62: non-finite or < 0 -> 0."""
    n = _js_number(value)
    return n if _math.isfinite(n) and n >= 0 else 0.0


def normalize_idempotency_key(value) -> str | None:
    """Billing.ts:64-68: trimmed non-empty strings only (JS String.trim's
    whitespace set, which differs from Python str.strip on e.g. \\x85)."""
    from anycrawl_spark.template_handler import js_trim

    if not isinstance(value, str):
        return None
    t = js_trim(value)
    return t or None


def _num_str(x: float) -> str:
    """JS template-literal number rendering for default idempotency keys
    (`${beforeUsed}` interpolates via Number::toString)."""
    from anycrawl_spark.template_handler import js_number_to_string

    return js_number_to_string(x)


def build_default_idempotency_key(mode: str, job_id: str, reason: str,
                                  before_used: float,
                                  after_used: float) -> str:
    """Billing.ts:143-155: target keys pin only the watermark, delta keys
    pin the before->after pair."""
    if mode == "target":
        return f"billing:target:{job_id}:{_num_str(after_used)}:{reason}"
    return (f"billing:delta:{job_id}:{_num_str(before_used)}->"
            f"{_num_str(after_used)}:{reason}")


def normalize_charge_details(charge_details, charged, reason: str):
    """Billing.ts:76-141 normalizeChargeDetails: validate the itemization
    against the charged amount; on any mismatch (or no valid items) fall
    back to a single unattributed_adjustment item carrying the source
    total.  Returns None when nothing was charged or no items were sent."""
    normalized_charged = normalize_positive_number(charged)
    if (normalized_charged <= 0 or not charge_details
            or not isinstance(charge_details.get("items"), list)):
        return None

    calculator = charge_details.get("calculator")
    calculator = (calculator.strip()
                  if isinstance(calculator, str) and calculator.strip()
                  else "billing_v1")

    items = []
    for item in charge_details["items"]:
        if not item or not isinstance(item, dict):
            continue
        code = item.get("code")
        code = code.strip() if isinstance(code, str) else ""
        credits = _js_number(item.get("credits", None))
        if not code or not _math.isfinite(credits) or credits <= 0:
            continue
        normalized = {"code": code, "credits": credits}
        if isinstance(item.get("meta"), dict):
            normalized["meta"] = item["meta"]
        items.append(normalized)

    items_total = sum(i["credits"] for i in items)
    if items and abs(items_total - normalized_charged) < 1e-9:
        return {"version": 1, "basis": "charged_delta",
                "calculator": calculator, "total": normalized_charged,
                "items": items}
    return {"version": 1, "basis": "charged_delta",
            "calculator": calculator, "total": normalized_charged,
            "items": [{"code": "unattributed_adjustment",
                       "credits": normalized_charged,
                       "meta": {"reason": reason,
                                "source_total": items_total}}]}


_LEDGER_FOLD_SCHEMA = (
    "job_id string, api_key string, seq long, mode string, reason string, "
    "idempotency_key string, charged double, before_used double, "
    "after_used double, detail_calculator string, detail_total double, "
    "detail_code string, detail_n_items int"
)


def _fold_job_charges(pdf):
    """Sequential replay of one job's charge calls (the reference
    serializes them through the job-row transaction).  Emits one ledger
    row per RESERVED charge; deduped/no-op calls book nothing and leave
    the fold state untouched.  A duplicate target-mode key aborts the
    reference's transaction (throw) — state unchanged, no row, same as a
    no-op here; in a sequential replay it is unreachable anyway because a
    repeated target watermark yields delta <= 0 first."""
    import pandas as pd

    pdf = pdf.sort_values("seq")
    job_id = pdf["job_id"].iloc[0]
    api_key = pdf["api_key"].iloc[0]
    # Number(creditsUsed ?? 0): a NULL arrives as pandas NaN (truthy!) —
    # guard it explicitly or NaN poisons every before/after in the fold
    init = pdf["init_used"].iloc[0]
    used = (float(init) if init is not None
            and not (isinstance(init, float) and _math.isnan(init))
            else 0.0)
    seen: set[str] = set()
    rows = []
    for ev in pdf.itertuples(index=False):
        reason = ev.reason if isinstance(ev.reason, str) else "unknown"
        if ev.mode == "target":
            target = normalize_non_negative_number(ev.amount)
            delta = target - used
            if delta <= 0:
                continue
            before, after = used, target
        else:
            delta = normalize_positive_number(ev.amount)
            if delta <= 0:
                continue
            before, after = used, used + delta
        key = (normalize_idempotency_key(ev.idempotency_key)
               or build_default_idempotency_key(ev.mode, job_id, reason,
                                                before, after))
        if key in seen:
            continue   # ON CONFLICT DO NOTHING: nothing booked or charged
        seen.add(key)
        details = None
        items = ev.items
        if items is not None and not (isinstance(items, float)
                                      and _math.isnan(items)):
            details = normalize_charge_details(
                {"calculator": ev.calculator,
                 "items": [dict(i) for i in items]},
                delta, reason)
        rows.append({
            "job_id": job_id, "api_key": api_key, "seq": ev.seq,
            "mode": ev.mode, "reason": reason, "idempotency_key": key,
            "charged": delta, "before_used": before, "after_used": after,
            "detail_calculator": details["calculator"] if details else None,
            "detail_total": details["total"] if details else None,
            "detail_code": details["items"][0]["code"] if details else None,
            "detail_n_items": len(details["items"]) if details else None,
        })
        used = after
    cols = [c.split()[0] for c in _LEDGER_FOLD_SCHEMA.split(", ")]
    return pd.DataFrame(rows, columns=cols)


def ledger_rollup(charge_events: DataFrame, jobs: DataFrame,
                  api_keys: DataFrame) -> DataFrame:
    """Replay a charge-call log into the billing ledger plus running
    api-key balances (Billing.ts:176-445).

    ``charge_events``: CHARGE_EVENT_SCHEMA (amount = delta for mode
    'delta', target watermark for mode 'target'; idempotency_key NULL =
    derive the default key); ``jobs``: (job_id, api_key, credits_used)
    initial job state; ``api_keys``: (api_key, credits) starting balances.

    Scale shape: one hash shuffle groups each job's calls for the
    sequential fold (applyInPandas — jobs fold in parallel, mirroring the
    reference's per-job transaction serialization), then one keyed window
    per api_key turns charged amounts into before/after balance snapshots
    (fillLedgerCreditsSnapshot, :201-218).  The jobs and api_keys dims are
    broadcast; no self-joins over the log.
    """
    from pyspark.sql import Window

    enriched = charge_events.join(
        F.broadcast(jobs.select("job_id", "api_key",
                                F.col("credits_used").alias("init_used"))),
        "job_id", "inner")

    # The reference's idempotency constraint is GLOBAL (the ledger's unique
    # key index), while the fold's dedup state is job-local. Reference-
    # generated keys embed the jobId, but caller-supplied explicit keys
    # need not — so explicit-key DELTA events that would attempt a
    # reservation (positive finite amounts) keep only their first
    # occurrence across jobs before the fold: a positive delta ALWAYS
    # attempts reservation, so first-wins is exact. Target-mode keys stay
    # fold-local by contract: whether a target even reaches reservation
    # depends on the fold state (an already-reached watermark returns
    # before touching the key), so a global pre-pass would mis-consume
    # keys — and every reference chargeToUsed call site uses default or
    # job-embedding keys, so cross-job target-key collisions cannot occur
    # in replayed logs (documented contract, not silent truncation).
    # Trim with the JS String.trim whitespace set, matching the fold's
    # normalize_idempotency_key byte-for-byte.
    from anycrawl_spark.template_handler import _JS_TRIM_CHARS

    cls = "[" + "".join(f"\\u{ord(c):04x}" for c in _JS_TRIM_CHARS) + "]"
    trimmed = F.regexp_replace(F.col("idempotency_key"),
                               f"^{cls}+|{cls}+$", "")
    norm_key = F.when(trimmed == "", F.lit(None)).otherwise(trimmed)
    attempts = F.coalesce(
        norm_key.isNotNull() & (F.col("mode") != "target")
        & (F.col("amount") > 0) & ~F.isnan("amount")
        & (F.col("amount") != float("inf")),
        F.lit(False))
    # seq is the global call order; job_id breaks (malformed) ties
    # deterministically so the surviving event never flips between runs
    w_key = Window.partitionBy(norm_key).orderBy("seq", "job_id")
    first_attempts = (
        enriched.where(attempts)
        .withColumn("__rn", F.row_number().over(w_key))
        .where(F.col("__rn") == 1).drop("__rn"))
    enriched = enriched.where(~attempts).unionByName(first_attempts)

    ledger = enriched.groupBy("job_id").applyInPandas(
        _fold_job_charges, schema=_LEDGER_FOLD_SCHEMA)

    w = (Window.partitionBy("api_key").orderBy("seq")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        ledger.join(F.broadcast(api_keys.select(
            "api_key", F.col("credits").alias("__init_credits"))),
            "api_key", "inner")
        .withColumn("after_credits",
                    F.col("__init_credits") - F.sum("charged").over(w))
        .withColumn("before_credits",
                    F.col("after_credits") + F.col("charged"))
        .select("job_id", "seq", "api_key", "mode", "reason",
                "idempotency_key", "charged", "before_used", "after_used",
                "before_credits", "after_credits", "detail_calculator",
                "detail_total", "detail_code", "detail_n_items"))
