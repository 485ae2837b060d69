"""v1 controller response assembly replayed as batch operators.

The reference's Express controllers contain a deterministic core a user
observes directly in every API response: results pagination with next-URL
assembly, screenshot path prefixing, envelope field fallbacks, execution
listings with duration/icon decoration, and the cancel transition gate.
This module re-expresses those rules as JVM-side DataFrame operators over
request/response logs, so the exact envelope a reference deployment would
have produced can be recomputed (and audited) at any scale.

Sources (read for behavior, re-expressed Spark-first — no code copied):

* ``apps/api/src/controllers/v1/CrawlController.ts:281-343`` — results
  endpoint: ``skip = Math.max(0, Number(rawSkip ?? 0) || 0)``,
  ``MAX_PER_PAGE = 100``, ``hasMore = skip + results.length < total``,
  ``next = base + '/v1/crawl/' + jobId + '/results?skip=' + nextSkip``,
  screenshot / ``screenshot@fullPage`` values prefixed with
  ``base + '/v1/public/storage/file/'``, envelope fallbacks
  ``job.total ?? total`` / ``job.completed ?? 0`` /
  ``job.creditsUsed ?? 0``, and the 400 branches (invalid uuid via
  ``CrawlSchemaInput`` = ``z.string().uuid()``, job not found).
* ``packages/db/src/model/Job.ts:289-305`` — the page itself is
  ``ORDER BY created_at ASC LIMIT limit OFFSET skip``.
* ``apps/api/src/controllers/v1/CrawlController.ts:349-435`` — cancel
  gate: invalid uuid -> 400, missing job -> 404 (note: the *status* and
  *results* endpoints use 400 for a missing job, cancel uses 404),
  finished (completed/failed/cancelled) -> 409 "Job already finished",
  else cancel + ``crawl.cancelled`` webhook with ``{url, status}``.
* ``apps/api/src/controllers/v1/ScheduledTasksController.ts:580-652`` —
  executions listing: ``normalizePagination`` over limit/offset query
  params, executions of the owned task ordered ``created_at DESC``,
  LEFT JOIN jobs on ``job_uuid`` (credits_used / total / completed /
  failed / status / is_success), ``durationMs = completedAt - startedAt``
  (ms, null unless both set), ``EXECUTION_STATUS_ICONS[status] ||
  "Clock"``, snake_case field names via the serializer.
* ``packages/libs/src/pagination.ts`` — ``normalizePagination``: JS
  ``parseInt(raw || '', 10)``; non-finite or ``<= 0`` limit -> 100
  (default, no maxLimit at this call site); non-finite or ``< 0``
  offset -> 0.
* ``packages/db/src/model/OwnerAccess.ts:7-17`` — owner precedence is
  JS-truthy: a non-empty ``userId`` filters by user; otherwise a
  non-empty ``apiKeyId`` filters by key; otherwise no owner filter
  (``''`` falls through — truthiness, not null-ness).

Scale shape: each operator is one keyed window over the child table
(rank results per job / executions per task — computed once) plus
equi-joins keyed on the parent id; page bounds are applied as a filter
directly on the join output, so nothing beyond the joined rows is ever
materialized.  Dimension tables (jobs, tasks) broadcast when small.  No
UDFs, no collects; everything stays inside whole-stage codegen.

JS numeric parsing fidelity notes: ``Number()`` is modeled as trim ->
'' = 0 -> try_cast(double) (NaN -> null -> ``|| 0`` -> 0); hex strings
(``Number('0x10') = 16``) are out of the modeled query-string domain.
``parseInt`` is the leading-decimal-integer rule shared with
``ipaccess._js_int``.  Fractional skips pass through the ``rn > skip``
page filter (equivalent to OFFSET ceil(skip)); the reference's backends
disagree with each other here (SQLite truncates, Postgres rounds), so
the fixture domain stays integral.
"""
from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anycrawl_spark.ipaccess import _js_int, _js_trim

# CrawlController.ts:300 / 309 / 316-321
RESULTS_PER_PAGE = 100
FILE_ROUTE = "/v1/public/storage/file/"

# zod v3 z.string().uuid() — the same loose pattern schemas._UUID_RE ports
# (any hex digits in the 8-4-4-4-12 shape; no version/variant pinning).
UUID_SQL_RE = (
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)

# ScheduledTasksController.ts:41-47 (verbatim-by-spec constants)
EXECUTION_STATUS_ICONS = {
    "completed": "CircleCheck",
    "failed": "CircleX",
    "running": "Loader",
    "pending": "Clock",
    "cancelled": "Ban",
}
DEFAULT_EXECUTION_ICON = "Clock"

# CrawlController.ts:380 — statuses that reject cancellation
FINISHED_STATUSES = ("completed", "failed", "cancelled")


def resolve_wait_timeout_ms(
    options: dict | None,
    has_explicit_timeout: bool,
    stealth_timeout_env: str | None = None,
) -> int:
    """ScrapeController.resolveWaitTimeoutMs (ScrapeController.ts:16-39):
    how long the sync scrape endpoint waits for its job.

    An explicit request timeout (the ``timeout`` key present AND
    Number(options.timeout) finite and > 0) wins, floored to an int.
    Otherwise proxy mode 'auto'/'stealth' falls back to
    ANYCRAWL_STEALTH_TIMEOUT_MS (parseInt; non-finite or <= 0 -> 120000),
    every other mode to 60000.  ``stealth_timeout_env`` injects the env
    var (deployment config, not corpus data).
    """
    options = options or {}
    proxy_mode = options.get("proxy")
    proxy_mode = proxy_mode if isinstance(proxy_mode, str) else ""

    explicit = None
    if has_explicit_timeout:
        raw = options.get("timeout")
        try:
            # JS Number(): None -> 0, bool -> 0/1, str -> trimmed parse
            if raw is None:
                num = 0.0
            elif isinstance(raw, bool):
                num = float(raw)
            elif isinstance(raw, (int, float)):
                num = float(raw)
            elif isinstance(raw, str):
                s = raw.strip()
                num = float(s) if s else 0.0
            else:
                num = float("nan")
        except ValueError:
            num = float("nan")
        if num == num and num not in (float("inf"), float("-inf")) \
                and num > 0:
            explicit = math.floor(num)

    raw_env = stealth_timeout_env or ""
    m = re.match(r"^[+-]?\d+", raw_env.strip())
    stealth = int(m.group(0)) if m else None
    if stealth is None or stealth <= 0:
        stealth = 120_000

    if proxy_mode in ("auto", "stealth"):
        return explicit if explicit is not None else stealth
    return explicit if explicit is not None else 60_000


def browser_runtime_for_cache(engine: str | None) -> str | None:
    """ScrapeController.ts:13-14: browser engines key the page cache under
    the 'cloakbrowser' runtime; HTTP engines carry no runtime."""
    return "cloakbrowser" if engine in ("playwright", "puppeteer") else None


def should_check_cache(
    page_cache_enabled: bool,
    has_template: bool,
    max_age,
) -> bool:
    """ScrapeController.ts:112-115: the cache is consulted only when the
    deployment enables it, the request is NOT template-driven, and max_age
    is absent (undefined) or > 0 (max_age=0 forces a fresh fetch)."""
    return bool(page_cache_enabled) and not has_template \
        and (max_age is None or max_age > 0)


def _js_number(expr: str) -> str:
    """JS ``Number(x)`` for string x, as a double-or-NULL SQL fragment
    (NULL = NaN).  trim -> '' is 0 -> decimal/scientific cast."""
    t = _js_trim(expr)
    return (f"CASE WHEN {t} = '' THEN CAST(0.0 AS DOUBLE) "
            f"ELSE try_cast({t} AS DOUBLE) END")


def _skip_col() -> F.Column:
    """CrawlController.ts:297-298: Math.max(0, Number(rawSkip ?? 0) || 0).

    Absent param -> 0; NaN -> 0 (the ``|| 0``); negative -> 0 (the max)."""
    num = F.expr(_js_number("skip_raw"))
    return F.when(F.col("skip_raw").isNull(), F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.coalesce(num, F.lit(0.0))))


def _page_limit(raw: str, default: int = 100) -> F.Column:
    """pagination.ts:24-31 limit leg: parseInt; non-finite or <=0 ->
    default (100 here — executions passes no maxLimit)."""
    ji = F.expr(_js_int(raw))
    return F.when(ji.isNull() | (ji <= 0), F.lit(default)).otherwise(ji)


def _page_offset(raw: str, default: int = 0) -> F.Column:
    """pagination.ts:33-36 offset leg: parseInt; non-finite or <0 ->
    default."""
    ji = F.expr(_js_int(raw))
    return F.when(ji.isNull() | (ji < 0), F.lit(default)).otherwise(ji)


def _truthy(c: F.Column) -> F.Column:
    """JS truthiness for the string owner fields ('' and NULL falsy)."""
    return c.isNotNull() & (c != "")


def crawl_results_page(
    jobs: DataFrame,
    results: DataFrame,
    requests: DataFrame,
    base: str = "https://api.example.com",
) -> DataFrame:
    """CrawlController.results replay: one envelope row per request.

    jobs(job_id, status, total?, completed?, credits_used?);
    results(job_id, seq, url, screenshot?, screenshot_full?) with seq the
    created_at order (unique per job); requests(req_id, job_id_raw,
    skip_raw?).  ``base`` models ANYCRAWL_DOMAIN.
    """
    req = requests.select(
        "req_id", "job_id_raw",
        _skip_col().alias("skip"),
        F.col("job_id_raw").rlike(UUID_SQL_RE).alias("uuid_ok"),
    )

    # Rank each job's results once (Job.ts:299 ORDER BY created_at ASC);
    # every request then pages over the shared ranking.
    ranked = results.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("job_id").orderBy("seq")))

    shot = F.when(
        F.col("screenshot").isNotNull(),
        F.concat(F.lit(base + FILE_ROUTE), F.col("screenshot")))
    shotf = F.when(
        F.col("screenshot_full").isNotNull(),
        F.concat(F.lit(base + FILE_ROUTE), F.col("screenshot_full")))
    line = F.concat_ws(
        "|", F.col("url"), F.coalesce(shot, F.lit("-")),
        F.coalesce(shotf, F.lit("-")))

    page_rows = (
        req.where("uuid_ok")
        .join(ranked, req["job_id_raw"] == ranked["job_id"])
        .where((F.col("rn") > F.col("skip"))
               & (F.col("rn") <= F.col("skip") + RESULTS_PER_PAGE))
        .select("req_id", "rn", line.alias("line"),
                (shot.isNotNull().cast("int")
                 + shotf.isNotNull().cast("int")).alias("n_prefixed"))
    )
    page = page_rows.groupBy("req_id").agg(
        F.count("*").alias("page_count"),
        F.md5(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "line"))),
                lambda x: x["line"]),
            "\n")).alias("page_sig"),
        F.sum("n_prefixed").cast("bigint").alias("screenshots_prefixed"),
    )

    counts = results.groupBy("job_id").agg(
        F.count("*").alias("n_results"))

    env = (
        req
        .join(jobs, req["job_id_raw"] == jobs["job_id"], "left")
        .join(counts, req["job_id_raw"] == counts["job_id"], "left")
        .join(page, "req_id", "left")
    )
    found = F.col("uuid_ok") & jobs["job_id"].isNotNull()
    n_results = F.coalesce(F.col("n_results"), F.lit(0))
    page_count = F.coalesce(F.col("page_count"), F.lit(0))
    has_more = (F.col("skip") + page_count) < n_results
    next_skip = (F.col("skip") + page_count).cast("bigint")
    http_status = (
        F.when(~F.col("uuid_ok"), F.lit(400))
        .when(jobs["job_id"].isNull(), F.lit(400))
        .otherwise(F.lit(200)))
    error = (
        F.when(~F.col("uuid_ok"), F.lit("Invalid job ID"))
        .when(jobs["job_id"].isNull(), F.lit("Not found")))

    return env.select(
        F.col("req_id"),
        F.col("job_id_raw").alias("job_id"),
        http_status.alias("http_status"),
        error.alias("error"),
        F.when(found, jobs["status"]).alias("status"),
        F.when(found, F.coalesce(jobs["total"], n_results))
        .cast("bigint").alias("total"),
        F.when(found, F.coalesce(jobs["completed"], F.lit(0)))
        .cast("bigint").alias("completed"),
        F.when(found, F.coalesce(jobs["credits_used"], F.lit(0)))
        .cast("bigint").alias("credits_used"),
        F.when(found, page_count).cast("bigint").alias("page_count"),
        F.when(found & has_more, F.concat(
            F.lit(base + "/v1/crawl/"), F.col("job_id_raw"),
            F.lit("/results?skip="), next_skip.cast("string")))
        .alias("next_url"),
        F.when(found, F.col("page_sig")).alias("page_sig"),
        F.when(found, F.coalesce(F.col("screenshots_prefixed"), F.lit(0)))
        .cast("bigint").alias("screenshots_prefixed"),
    )


def task_executions_page(
    tasks: DataFrame,
    executions: DataFrame,
    jobs: DataFrame,
    requests: DataFrame,
) -> DataFrame:
    """ScheduledTasksController.executions replay: one row per execution
    in the requested page (snake_case response fields), one 200 row with
    NULL execution fields when the owned task's page is empty (the
    reference's ``{success: true, data: []}``), plus one 404 row per
    request whose task is absent or not owned.

    tasks(task_uuid, user_id?, api_key?); executions(execution_uuid,
    scheduled_task_uuid, execution_number, status, started_at?,
    completed_at?, job_uuid?, created_seq unique); jobs(job_uuid,
    credits_used?, total?, completed?, failed?, status, is_success?);
    requests(req_id, task_id, limit_raw?, offset_raw?, owner_user?,
    owner_key?).
    """
    req = requests.select(
        "req_id", "task_id", "owner_user", "owner_key",
        _page_limit("limit_raw").alias("limit"),
        _page_offset("offset_raw").alias("offset"),
    )

    # OwnerAccess.ts:7-17 — JS-truthy precedence, SQL-equality matching
    # (NULL task owner never matches a provided owner).
    own = (
        F.when(_truthy(req["owner_user"]),
               tasks["user_id"].eqNullSafe(req["owner_user"])
               & tasks["user_id"].isNotNull())
        .when(_truthy(req["owner_key"]),
              tasks["api_key"].eqNullSafe(req["owner_key"])
              & tasks["api_key"].isNotNull())
        .otherwise(F.lit(True)))
    owned = req.join(
        tasks, (req["task_id"] == tasks["task_uuid"]) & own, "left")

    not_found = owned.where(tasks["task_uuid"].isNull()).select(
        "req_id", "task_id", F.lit(404).alias("http_status"),
        F.lit("Task not found").alias("error"),
        F.lit(None).cast("bigint").alias("position"),
        F.lit(None).cast("string").alias("execution_uuid"),
        F.lit(None).cast("bigint").alias("execution_number"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("bigint").alias("duration_ms"),
        F.lit(None).cast("string").alias("icon"),
        F.lit(None).cast("bigint").alias("credits_used"),
        F.lit(None).cast("bigint").alias("items_processed"),
        F.lit(None).cast("bigint").alias("items_succeeded"),
        F.lit(None).cast("bigint").alias("items_failed"),
        F.lit(None).cast("string").alias("job_status"),
    )

    # Rank each task's executions once: created_at DESC
    # (ScheduledTasksController.ts:627), created_seq unique by contract.
    ranked = executions.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("scheduled_task_uuid")
            .orderBy(F.col("created_seq").desc())))

    got = owned.where(tasks["task_uuid"].isNotNull()).select(
        "req_id", "task_id", "limit", "offset")
    # Page bounds live in the join condition (equi-key + residual), so an
    # owned task whose page is empty still yields exactly one all-NULL row
    # — the reference's 200 `data: []` envelope is never dropped.
    picked = (
        got.join(ranked,
                 (got["task_id"] == ranked["scheduled_task_uuid"])
                 & (ranked["rn"] > got["offset"])
                 & (ranked["rn"] <= got["offset"] + got["limit"]),
                 "left")
        .join(jobs, ranked["job_uuid"] == jobs["job_uuid"], "left")
    )

    icon = F.lit(DEFAULT_EXECUTION_ICON)
    for k, v in EXECUTION_STATUS_ICONS.items():
        icon = F.when(ranked["status"] == k, F.lit(v)).otherwise(icon)
    icon = F.when(ranked["execution_uuid"].isNotNull(), icon)
    duration_ms = F.when(
        ranked["started_at"].isNotNull()
        & ranked["completed_at"].isNotNull(),
        F.unix_millis(ranked["completed_at"])
        - F.unix_millis(ranked["started_at"]))

    found = picked.select(
        "req_id", "task_id", F.lit(200).alias("http_status"),
        F.lit(None).cast("string").alias("error"),
        (ranked["rn"] - got["offset"]).cast("bigint").alias("position"),
        ranked["execution_uuid"].alias("execution_uuid"),
        ranked["execution_number"].cast("bigint")
        .alias("execution_number"),
        ranked["status"].alias("status"),
        duration_ms.cast("bigint").alias("duration_ms"),
        icon.alias("icon"),
        jobs["credits_used"].cast("bigint").alias("credits_used"),
        jobs["total"].cast("bigint").alias("items_processed"),
        jobs["completed"].cast("bigint").alias("items_succeeded"),
        jobs["failed"].cast("bigint").alias("items_failed"),
        jobs["status"].alias("job_status"),
    )
    return found.unionByName(not_found)


def job_cancel_gate(jobs: DataFrame, requests: DataFrame) -> DataFrame:
    """CrawlController.cancel replay: classify each cancel request.

    jobs(job_id, status, url); requests(req_id, job_id_raw).  Output one
    row per request with the HTTP disposition, the job's new status, and
    the webhook event the reference would emit (WebhookEvents.ts:19
    ``crawl.cancelled`` with ``{url, status: 'cancelled'}``).
    """
    req = requests.select(
        "req_id", "job_id_raw",
        F.col("job_id_raw").rlike(UUID_SQL_RE).alias("uuid_ok"))
    env = req.join(jobs, req["job_id_raw"] == jobs["job_id"], "left")

    finished = jobs["status"].isin(*FINISHED_STATUSES)
    http_status = (
        F.when(~F.col("uuid_ok"), F.lit(400))
        .when(jobs["job_id"].isNull(), F.lit(404))
        .when(finished, F.lit(409))
        .otherwise(F.lit(200)))
    error = (
        F.when(~F.col("uuid_ok"), F.lit("Invalid job ID"))
        .when(jobs["job_id"].isNull(), F.lit("Not found"))
        .when(finished, F.lit("Job already finished")))
    ok = http_status == 200

    return env.select(
        "req_id",
        F.col("job_id_raw").alias("job_id"),
        http_status.alias("http_status"),
        error.alias("error"),
        F.when(ok, F.lit("cancelled")).alias("new_status"),
        F.when(ok, F.lit("crawl.cancelled")).alias("webhook_event"),
        F.when(ok, jobs["url"]).alias("webhook_url"),
    )
