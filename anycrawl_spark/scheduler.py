"""Scheduled-task recurrence (SURVEY §2 stretch; reference
packages/scrape/src/managers/Scheduler.ts): the deterministic core of the
reference's BullMQ scheduler — 5-field cron expression + IANA timezone →
scheduled-run slots over a time window, each with the reference's
idempotency key — re-expressed as a batch operator.

Reference parity:

- Scheduler.ts:18,222,880: cron parsing via ``cron-parser`` with
  ``tz: task.timezone || "UTC"``; 5-field Vixie cron (minute hour
  day-of-month month day-of-week), names (JAN-DEC / SUN-SAT), steps,
  ranges, lists; when BOTH day fields are restricted the slot fires if
  EITHER matches (standard Vixie OR rule, kept by cron-parser).
- Scheduler.ts:44-48 (``buildScheduledExecutionIdempotencyKey``): the slot
  key is ```${taskUuid}-${scheduledFor.toISOString()}`` — a JS Date ISO
  string (millisecond precision, ``Z`` suffix); `:585` uses it to dedup
  scheduled runs (manual triggers use a different key family and are
  out of replay scope).
- DST semantics (cron-parser on luxon): local wall-clock times that do
  not exist on a spring-forward day produce no slot; ambiguous fall-back
  times fire ONCE at the first (earlier-offset) UTC instant.

Architecture: tasks are a dimension table (the reference loads them all
from Postgres per scheduler tick). The window is chunked into UTC days;
(task × day-chunk) rows fan out through one Arrow-batched
``mapInPandas`` that expands each chunk to its matching UTC minutes
using the parsed cron field sets and ``zoneinfo`` local conversion —
session-timezone independent, fully parallel across chunks. A final
``groupBy(task, local_minute).min(utc)`` enforces the fire-once rule for
ambiguous fall-back wall-clocks (the only cross-chunk interaction).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, functions as F

TASK_SCHEMA = ("task_uuid string, cron_expression string, timezone string, "
               "is_paused boolean")

_MONTH_NAMES = {n: i + 1 for i, n in enumerate(
    ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
     "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"])}
_DOW_NAMES = {n: i for i, n in enumerate(
    ["SUN", "MON", "TUE", "WED", "THU", "FRI", "SAT"])}

_FIELD_RANGES = [(0, 59), (0, 23), (1, 31), (1, 12), (0, 7)]


def _parse_field(spec: str, lo: int, hi: int, names: dict[str, int],
                 is_dow: bool) -> tuple[frozenset[int], bool]:
    """One cron field → (set of matching values, restricted?). Vixie
    grammar: ``*``, ``*/step``, ``a``, ``a-b``, ``a-b/step``, comma lists,
    and 3-letter names; dow 7 is an alias for 0 (Sunday)."""
    values: set[int] = set()
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
            if step < 1:
                raise ValueError(f"cron step must be >= 1: {spec!r}")
        if part == "*":
            a, b = lo, hi
        elif "-" in part[1:]:  # [1:] tolerates a leading minus never valid in cron
            a_s, b_s = part.split("-", 1)
            a, b = _num(a_s, names), _num(b_s, names)
        else:
            a = b = _num(part, names)
        if not (lo <= a <= hi and lo <= b <= hi and a <= b):
            raise ValueError(f"cron field out of range: {spec!r}")
        values.update(range(a, b + 1, step))
    if is_dow and 7 in values:          # 7 == Sunday == 0
        values.discard(7)
        values.add(0)
    # Vixie rule: a field is "restricted" for the dom/dow OR unless it
    # starts with '*' (so '*' and '*/n' are both unrestricted)
    return frozenset(values), not spec.startswith("*")


def _num(tok: str, names: dict[str, int]) -> int:
    t = tok.strip().upper()
    if t in names:
        return names[t]
    return int(t)


def parse_cron(expr: str) -> dict:
    """5-field cron → field sets. Raises ValueError on malformed input
    (the reference auto-pauses such tasks — Scheduler.ts:886-905)."""
    fields = expr.split()
    if len(fields) != 5:
        raise ValueError(f"expected 5 cron fields, got {len(fields)}: {expr!r}")
    out, keys = {}, ["minutes", "hours", "doms", "months", "dows"]
    for key, spec, (lo, hi) in zip(keys, fields, _FIELD_RANGES):
        names = _MONTH_NAMES if key == "months" else (
            _DOW_NAMES if key == "dows" else {})
        vals, restricted = _parse_field(spec, lo, hi, names, key == "dows")
        out[key] = vals
        out[key + "_restricted"] = restricted
    return out


def cron_matches_local(cron: dict, local: datetime) -> bool:
    """Does a local wall-clock minute match the parsed cron? dow: Monday=1
    … Sunday=0 (datetime.weekday(): Monday=0 … Sunday=6)."""
    dow = (local.weekday() + 1) % 7
    if local.minute not in cron["minutes"] or local.hour not in cron["hours"]:
        return False
    if local.month not in cron["months"]:
        return False
    dom_m, dow_m = local.day in cron["doms"], dow in cron["dows"]
    if cron["doms_restricted"] and cron["dows_restricted"]:
        return dom_m or dow_m          # Vixie OR rule
    return dom_m and dow_m


# Slots carry the UTC instant as epoch millis (long) so the fire-once
# min() aggregates a fixed-width buffer — HashAggregate, not the
# SortAggregate Spark falls back to for min(string) buffers. The ISO
# string is rebuilt JVM-side after the agg.
_SLOT_SCHEMA = ("task_uuid string, scheduled_for_ms long, local_minute string")


def scheduled_run_slots(tasks: DataFrame, window_start: str,
                        window_end: str) -> DataFrame:
    """All scheduled-run slots for every active task in
    ``[window_start, window_end)`` (UTC ISO-ish strings, minute
    granularity). Output: one row per fired slot with the reference's
    idempotency key ``{task_uuid}-{YYYY-MM-DDTHH:MM:SS.000Z}``.

    Scale shape: |tasks| × |days| chunk rows fan out over executors; each
    chunk enumerates only the cron's own candidate wall-clocks
    (|minutes|×|hours| per covered local date — 1-3 for typical crons,
    1440 worst-case for ``* * * * *``) instead of scanning all 1440 UTC
    minutes. Days without a UTC-offset transition (all but ~2/year/tz)
    take a fixed-offset arithmetic path; transition days run the exact
    per-fold roundtrip (fold=0 → earlier instant on ambiguous fall-back
    wall-clocks, roundtrip mismatch → nonexistent spring-forward skip).
    A 10k-task, one-year window is 3.65M chunk rows — an ordinary
    shuffle-free map plus one aggregation keyed by (task, local_minute).
    """
    spark = tasks.sparkSession
    start = datetime.fromisoformat(window_start)
    end = datetime.fromisoformat(window_end)
    if start.tzinfo is not None:
        start = start.astimezone(timezone.utc).replace(tzinfo=None)
        end = end.astimezone(timezone.utc).replace(tzinfo=None)

    day0 = start.replace(hour=0, minute=0, second=0, microsecond=0)
    n_days = (end - day0 + timedelta(days=1) - timedelta(minutes=1)).days
    chunks = spark.range(n_days).select(
        F.col("id").cast("int").alias("day_index"))

    grid = (tasks
            .where(~F.coalesce(F.col("is_paused"), F.lit(False)))
            .select("task_uuid", "cron_expression",
                    F.coalesce("timezone", F.lit("UTC")).alias("timezone"))
            .crossJoin(chunks))

    day0_iso, start_iso = day0.isoformat(), start.isoformat()
    end_iso = end.isoformat()

    def expand(iterator):
        from zoneinfo import ZoneInfo

        UTC = timezone.utc
        d0 = datetime.fromisoformat(day0_iso).replace(tzinfo=UTC)
        w_start = datetime.fromisoformat(start_iso).replace(tzinfo=UTC)
        w_end = datetime.fromisoformat(end_iso).replace(tzinfo=UTC)
        cron_cache: dict[str, tuple] = {}
        tz_cache: dict[str, ZoneInfo] = {}

        def day_matches(cron: dict, ld) -> bool:
            if ld.month not in cron["months"]:
                return False
            dow = (ld.weekday() + 1) % 7
            dom_m, dow_m = ld.day in cron["doms"], dow in cron["dows"]
            if cron["doms_restricted"] and cron["dows_restricted"]:
                return dom_m or dow_m          # Vixie OR rule
            return dom_m and dow_m

        for pdf in iterator:
            rows = []
            for uuid, expr, tz_name, day_index in zip(
                    pdf["task_uuid"], pdf["cron_expression"],
                    pdf["timezone"], pdf["day_index"]):
                cached = cron_cache.get(expr)
                if cached is None:
                    cron = parse_cron(expr)
                    cached = cron_cache[expr] = (
                        cron, sorted(cron["hours"]), sorted(cron["minutes"]))
                cron, hours, minutes = cached
                tz = tz_cache.get(tz_name)
                if tz is None:
                    # fixed offsets like '+08:00' ride through zoneinfo
                    # via datetime.strptime-style parsing fallback
                    if tz_name and (tz_name[0] in "+-"):
                        sign = 1 if tz_name[0] == "+" else -1
                        hh, mm = tz_name[1:].split(":")
                        tz = timezone(sign * timedelta(hours=int(hh),
                                                       minutes=int(mm)))
                    else:
                        tz = ZoneInfo(tz_name or "UTC")
                    tz_cache[tz_name] = tz
                base = d0 + timedelta(days=int(day_index))
                lo = max(base, w_start)
                hi = min(base + timedelta(days=1), w_end)
                if lo >= hi:
                    continue
                # local dates this UTC-day chunk covers (1 or 2)
                ld_a = lo.astimezone(tz).date()
                ld_b = (hi - timedelta(minutes=1)).astimezone(tz).date()
                for ld in ((ld_a,) if ld_a == ld_b else (ld_a, ld_b)):
                    if not day_matches(cron, ld):
                        continue
                    # fixed-offset day fast path: no UTC-offset transition
                    # touching this local date → local minus offset IS the
                    # UTC instant, no fold ambiguity, no roundtrip check
                    probe0 = datetime(ld.year, ld.month, ld.day, 0, 0,
                                      tzinfo=tz)
                    probe1 = datetime(ld.year, ld.month, ld.day, 23, 59,
                                      tzinfo=tz)
                    offs = {probe0.utcoffset(), probe1.utcoffset(),
                            probe0.replace(fold=1).utcoffset(),
                            probe1.replace(fold=1).utcoffset()}
                    if len(offs) == 1:
                        off = offs.pop()
                        for h in hours:
                            for m in minutes:
                                u = datetime(ld.year, ld.month, ld.day, h, m,
                                             tzinfo=UTC) - off
                                if u < lo or u >= hi:
                                    continue
                                rows.append((
                                    uuid, int(u.timestamp()) * 1000,
                                    f"{ld.isoformat()} {h:02d}:{m:02d}"))
                        continue
                    # transition day (~2/year/tz): exact per-fold mapping.
                    # Both folds of an ambiguous wall-clock roundtrip →
                    # emit both in-window instants (the fire-once groupBy
                    # keeps the earliest); a nonexistent spring-forward
                    # wall-clock roundtrips under neither fold → no slot.
                    for h in hours:
                        for m in minutes:
                            utcs = set()
                            for fold in (0, 1):
                                loc = datetime(ld.year, ld.month, ld.day,
                                               h, m, fold=fold, tzinfo=tz)
                                u = loc.astimezone(UTC)
                                back = u.astimezone(tz)
                                if (back.day, back.hour, back.minute,
                                        back.month, back.year) != (
                                        ld.day, h, m, ld.month, ld.year):
                                    continue
                                utcs.add(u)
                            for u in utcs:
                                if u < lo or u >= hi:
                                    continue
                                rows.append((
                                    uuid, int(u.timestamp()) * 1000,
                                    f"{ld.isoformat()} {h:02d}:{m:02d}"))
            yield pd.DataFrame(
                rows, columns=["task_uuid", "scheduled_for_ms",
                               "local_minute"])

    slots = grid.mapInPandas(expand, schema=_SLOT_SCHEMA)
    # fire-once on ambiguous fall-back wall-clocks: keep the earliest UTC
    # instant per (task, local wall-clock minute) — cron-parser semantics
    fired = (slots.groupBy("task_uuid", "local_minute")
             .agg(F.min("scheduled_for_ms").alias("ms")))
    # Rebuild the JS-Date ISO string (`${taskUuid}-${iso}` idempotency key,
    # Scheduler.ts:44-48) from epoch millis with pure date/int arithmetic —
    # session-timezone independent (date_format on TIMESTAMP would render
    # in spark.sql.session.timeZone). Slots sit on whole minutes, so the
    # seconds field is always "00.000".
    sod = ((F.col("ms") % 86400000) / 1000).cast("int")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    iso = F.concat(
        F.date_format(F.date_add(F.to_date(F.lit("1970-01-01")),
                                 (F.col("ms") / 86400000).cast("int")),
                      "yyyy-MM-dd"),
        F.lit("T"), two(F.floor(sod / 3600)),
        F.lit(":"), two(F.floor(sod / 60) % 60),
        F.lit(":00.000Z"))
    return fired.select(
        "task_uuid", iso.alias("scheduled_for"),
        F.concat(F.col("task_uuid"), F.lit("-"), iso)
        .alias("idempotency_key"))


# --- Stale-execution sweep (Scheduler.ts cleanupStaleExecutions /
# cleanupStaleRunningExecutions, :1620-1906) --------------------------------

STALE_PENDING_MIN = 5          # Scheduler.ts:1622 (5 * 60 * 1000)
RUNNING_NO_START_MIN = 10      # :1730
SCRAPE_TIMEOUT_MIN = 30        # :1725
SEARCH_TIMEOUT_MIN = 60        # :1726
MAP_TIMEOUT_MIN = 30           # :1728
CRAWL_INACTIVITY_MIN = 60      # :1729


def _ago(now_col, minutes: int):
    return now_col - F.expr(f"INTERVAL {minutes} MINUTE")


def _js_type(col, fallback: str):
    # JS `x?.toLowerCase() || fallback`: null OR empty string -> fallback
    low = F.lower(col)
    return F.when(low.isNull() | (low == ""), F.lit(fallback)).otherwise(low)


def stale_executions(executions: DataFrame, tasks: DataFrame,
                     jobs: DataFrame, now: str) -> DataFrame:
    """The scheduler's crash-recovery sweep as one batch query: which
    executions must be auto-failed, with the reference's exact error codes,
    reasons, and per-task-type timeout thresholds.

    Reference semantics (Scheduler.ts):
    - pending + startedAt NULL + createdAt older than 5 min
      -> STALE_PENDING_TIMEOUT / pending_timeout (:1625-1658)
    - pending + startedAt older than 5 min
      -> STALE_PENDING_STARTED / pending_started_timeout (:1666-1698)
    - running + startedAt NULL + createdAt older than 10 min
      -> RUNNING_NO_START_TIMEOUT / running_no_start (:1734-1771)
    - running + started (inner-join its task, left-join its job;
      template tasks resolve to the job's actual type, empty/NULL types
      default 'scrape' via JS-|| semantics, :1808-1816):
      crawl -> job activity older than 60 min (crawl_inactivity) or, with
      no job/updatedAt, running longer than 60 min (crawl_no_activity);
      search -> 60 min; map -> 30 min; scrape/default -> 30 min; all
      EXECUTION_TIMEOUT (:1818-1852).

    ``executions``: (execution_uuid, scheduled_task_uuid, job_uuid, status,
    created_at, started_at); ``tasks``: (task_uuid, task_type);
    ``jobs``: (job_uuid, job_type, updated_at). ``now`` is the sweep
    instant (timestamp string) — a parameter, not the wall clock, so the
    sweep is replayable.
    """
    now_col = F.lit(now).cast("timestamp")
    ex = executions

    pending_never = (
        ex.where((F.col("status") == "pending")
                 & F.col("started_at").isNull()
                 & (F.col("created_at") < _ago(now_col, STALE_PENDING_MIN)))
        .select("execution_uuid",
                F.lit("STALE_PENDING_TIMEOUT").alias("error_code"),
                F.lit("pending_timeout").alias("reason"),
                F.lit(STALE_PENDING_MIN).alias("threshold_minutes"),
                F.lit(None).cast("string").alias("actual_task_type")))

    pending_started = (
        ex.where((F.col("status") == "pending")
                 & F.col("started_at").isNotNull()
                 & (F.col("started_at") < _ago(now_col, STALE_PENDING_MIN)))
        .select("execution_uuid",
                F.lit("STALE_PENDING_STARTED").alias("error_code"),
                F.lit("pending_started_timeout").alias("reason"),
                F.lit(STALE_PENDING_MIN).alias("threshold_minutes"),
                F.lit(None).cast("string").alias("actual_task_type")))

    running_no_start = (
        ex.where((F.col("status") == "running")
                 & F.col("started_at").isNull()
                 & (F.col("created_at") < _ago(now_col, RUNNING_NO_START_MIN)))
        .select("execution_uuid",
                F.lit("RUNNING_NO_START_TIMEOUT").alias("error_code"),
                F.lit("running_no_start").alias("reason"),
                F.lit(RUNNING_NO_START_MIN).alias("threshold_minutes"),
                F.lit(None).cast("string").alias("actual_task_type")))

    # running + started: task dim is small -> broadcast both joins
    running = (
        ex.where((F.col("status") == "running")
                 & F.col("started_at").isNotNull())
        .join(F.broadcast(tasks.select("task_uuid", "task_type")),
              ex["scheduled_task_uuid"] == F.col("task_uuid"), "inner")
        .join(F.broadcast(jobs.select(
            F.col("job_uuid").alias("__job_uuid"), "job_type", "updated_at")),
            ex["job_uuid"] == F.col("__job_uuid"), "left"))

    scheduled_type = _js_type(F.col("task_type"), "scrape")
    actual_type = F.when(scheduled_type == "template",
                         _js_type(F.col("job_type"), "scrape")) \
        .otherwise(scheduled_type)

    run_long = lambda m: F.col("started_at") < _ago(now_col, m)  # noqa: E731
    has_activity = F.col("job_uuid").isNotNull() \
        & F.col("updated_at").isNotNull()
    crawl_rule = F.when(
        has_activity,
        F.when(F.col("updated_at") < _ago(now_col, CRAWL_INACTIVITY_MIN),
               F.struct(F.lit("crawl_inactivity").alias("reason"),
                        F.lit(CRAWL_INACTIVITY_MIN).alias("threshold")))
    ).otherwise(
        F.when(run_long(CRAWL_INACTIVITY_MIN),
               F.struct(F.lit("crawl_no_activity").alias("reason"),
                        F.lit(CRAWL_INACTIVITY_MIN).alias("threshold"))))
    verdict = (
        F.when(actual_type == "crawl", crawl_rule)
        .when(actual_type == "search",
              F.when(run_long(SEARCH_TIMEOUT_MIN),
                     F.struct(F.lit("search_timeout").alias("reason"),
                              F.lit(SEARCH_TIMEOUT_MIN).alias("threshold"))))
        .when(actual_type == "map",
              F.when(run_long(MAP_TIMEOUT_MIN),
                     F.struct(F.lit("map_timeout").alias("reason"),
                              F.lit(MAP_TIMEOUT_MIN).alias("threshold"))))
        .otherwise(
            F.when(run_long(SCRAPE_TIMEOUT_MIN),
                   F.struct(F.lit("scrape_timeout").alias("reason"),
                            F.lit(SCRAPE_TIMEOUT_MIN).alias("threshold")))))

    timed_out = (
        running.withColumn("__v", verdict).withColumn("__t", actual_type)
        .where(F.col("__v").isNotNull())
        .select("execution_uuid",
                F.lit("EXECUTION_TIMEOUT").alias("error_code"),
                F.col("__v.reason").alias("reason"),
                F.col("__v.threshold").alias("threshold_minutes"),
                F.col("__t").alias("actual_task_type")))

    return (pending_never.unionByName(pending_started)
            .unionByName(running_no_start).unionByName(timed_out))


# --- Subscription-limit enforcement (Scheduler.ts
# enforceSubscriptionLimits, :1911-1976; libs/scheduled-tasks.ts) -----------

LIMIT_FREE_DEFAULT = 1     # config.ts ANYCRAWL_SCHEDULED_TASKS_LIMIT_FREE
LIMIT_PAID_DEFAULT = 100   # config.ts ANYCRAWL_SCHEDULED_TASKS_LIMIT_PAID


def build_auto_pause_reason_col(limit_col):
    """libs/scheduled-tasks.ts:35-37 buildAutoPauseReason."""
    return F.concat(F.lit("Auto-paused: Subscription limit exceeded "
                          "(limit: "), limit_col.cast("string"), F.lit(")"))


def subscription_excess_tasks(tasks: DataFrame, api_keys: DataFrame,
                              limit_free: int = LIMIT_FREE_DEFAULT,
                              limit_paid: int = LIMIT_PAID_DEFAULT
                              ) -> DataFrame:
    """Auto-pause selection after a downgrade (Scheduler.ts:1911-1976):
    per user, keep the OLDEST ``limit`` active+unpaused tasks (createdAt
    ascending) and pause the rest, where limit comes from the api key's
    subscription tier (free -> limit_free else limit_paid; NULL/empty tier
    -> 'free' via JS-||, getScheduledTasksLimit).

    The reference counts per (user, api_key, tier) group but slices the
    pause list per USER; with one key per user (the real-world shape) the
    two agree exactly. For the multi-key degenerate case this implements
    the reference's net effect after its loop: a task is paused when its
    per-user age rank exceeds the limit of any over-quota group of that
    user (ties on created_at broken by task_uuid for determinism — the
    reference's unordered-tie behavior is DB-dependent).

    ``tasks``: (task_uuid, name, user_id, api_key, is_active, is_paused,
    created_at); ``api_keys``: (key_uuid, subscription_tier).
    Returns (task_uuid, name, user_id, pause_reason).
    """
    from pyspark.sql import Window

    active = tasks.where(F.col("is_active") & ~F.col("is_paused"))
    tiered = active.join(
        F.broadcast(api_keys.select(F.col("key_uuid"),
                                    F.col("subscription_tier"))),
        active["api_key"] == F.col("key_uuid"), "left")
    # tier uses plain JS-|| (no lowercasing — getScheduledTasksLimit
    # compares `tier === "free"` exactly, so 'Free' takes the paid limit)
    tier = F.when(F.col("subscription_tier").isNull()
                  | (F.col("subscription_tier") == ""), F.lit("free")) \
        .otherwise(F.col("subscription_tier"))

    counts = (tiered.groupBy("user_id", "api_key",
                             tier.alias("tier"))
              .agg(F.count("*").alias("n")))
    over = (counts.withColumn(
        "limit", F.when(F.col("tier") == "free",
                        F.lit(limit_free)).otherwise(F.lit(limit_paid)))
        .where(F.col("n") > F.col("limit"))
        .groupBy("user_id").agg(F.min("limit").alias("user_limit")))

    w = Window.partitionBy(F.col("user_id")).orderBy(
        F.col("created_at").asc(), F.col("task_uuid").asc())
    ranked = active.withColumn("__rank", F.row_number().over(w))
    return (ranked.join(F.broadcast(over), "user_id", "inner")
            .where(F.col("__rank") > F.col("user_limit"))
            .select("task_uuid", "name", "user_id",
                    build_auto_pause_reason_col(F.col("user_limit"))
                    .alias("pause_reason")))


# -- Execution finalize transitions (ExecutionLifecycle.ts:44-178) -----------

OPEN_STATUSES = ("pending", "running")


def _resolve_transitions(executions: DataFrame,
                         events: DataFrame) -> DataFrame:
    """The winning finalize call per execution: (execution_uuid,
    scheduled_task_uuid, winner_seq, final_status, stats_on, created).

    - only executions whose table status is pending/running can
      transition, and only their FIRST finalize call does (the reference's
      ``status IN ('pending','running')`` UPDATE guard,
      ExecutionLifecycle.ts:75-87);
    - a call for a missing execution row transitions nothing unless it is
      the first ``failed`` call with allowCreateIfMissing and a payload
      task uuid — that one INSERTs the row as failed (the
      recovered-from-rollback path, :91-126); earlier calls in the log
      no-op against the absent row, later ones hit a terminal row.

    Shuffle profile: hash partition by execution_uuid for the two winner
    windows and the equi-joins; nothing is broadcast, so the operator
    scales with the size of the call log.
    """
    from pyspark.sql import Window

    ex = executions.select(
        "execution_uuid", "scheduled_task_uuid",
        F.col("status").alias("initial_status"))
    w = Window.partitionBy("execution_uuid").orderBy("seq")
    # updateTaskStats !== false: absent/NULL means true (ts:129)
    stats_on = F.coalesce(F.col("update_task_stats"), F.lit(True))

    open_winners = (
        events.join(ex.where(F.col("initial_status").isin(*OPEN_STATUSES)),
                    "execution_uuid", "inner")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("execution_uuid", "scheduled_task_uuid",
                F.col("seq").alias("winner_seq"),
                F.col("status").alias("final_status"),
                stats_on.alias("stats_on"),
                F.lit(False).alias("created")))

    create_winners = (
        events.join(ex, "execution_uuid", "left_anti")
        .where((F.col("status") == "failed")
               & F.coalesce(F.col("allow_create_if_missing"), F.lit(False))
               & F.col("create_task_uuid").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("execution_uuid",
                F.col("create_task_uuid").alias("scheduled_task_uuid"),
                F.col("seq").alias("winner_seq"),
                F.col("status").alias("final_status"),
                stats_on.alias("stats_on"),
                F.lit(True).alias("created")))

    return open_winners.unionByName(create_winners)


def finalize_executions(executions: DataFrame,
                        events: DataFrame) -> DataFrame:
    """Replay a log of finalizeExecution calls over an executions table:
    one row per execution (existing or rollback-recovered) with its final
    status, the winning call's seq (NULL when no call transitioned it),
    and whether the row was created by the replay
    (ExecutionLifecycle.ts:45-126 — see _resolve_transitions).

    ``executions``: (execution_uuid, scheduled_task_uuid, status);
    ``events``: (seq, execution_uuid, status, update_task_stats,
    allow_create_if_missing, create_task_uuid).
    """
    winners = (_resolve_transitions(executions, events)
               .withColumnRenamed("scheduled_task_uuid", "__winner_task"))
    ex = executions.select(
        "execution_uuid", "scheduled_task_uuid",
        F.col("status").alias("initial_status"))
    return (
        ex.join(winners, "execution_uuid", "full_outer")
        .select(
            "execution_uuid",
            F.coalesce("scheduled_task_uuid", "__winner_task")
            .alias("scheduled_task_uuid"),
            F.coalesce("final_status", "initial_status")
            .alias("final_status"),
            "winner_seq",
            F.coalesce("created", F.lit(False)).alias("created"),
            F.col("winner_seq").isNotNull().alias("transitioned")))


def finalize_task_stats(executions: DataFrame, events: DataFrame,
                        tasks: DataFrame) -> DataFrame:
    """Scheduled-task counter updates driven by the replay
    (ExecutionLifecycle.ts:128-153): each transition with updateTaskStats
    not false bumps successfulExecutions (completed — and resets
    consecutiveFailures to 0) or failedExecutions (failed — and increments
    consecutiveFailures); cancelled transitions touch no counters.  The
    final consecutiveFailures is therefore the stats-updating failed
    transitions after the task's last stats-updating completed transition,
    stacked on the initial counter when the task never completed.

    ``tasks``: (task_uuid, successful_executions, failed_executions,
    consecutive_failures) initial counters; one output row per task.
    Single hash groupBy over the resolved transitions — map-side
    combinable, no window over the full log.
    """
    from pyspark.sql import Window

    # one keyed window (same hash partitioning the groupBy reuses) carries
    # each task's last completed seq onto every transition row — no
    # self-join of the resolved log against its own aggregate
    w = Window.partitionBy("scheduled_task_uuid")
    t = (_resolve_transitions(executions, events)
         .where(F.col("stats_on")
                & F.col("final_status").isin("completed", "failed"))
         .withColumn("__last_completed_seq",
                     F.max(F.when(F.col("final_status") == "completed",
                                  F.col("winner_seq"))).over(w)))

    per_task = t.groupBy("scheduled_task_uuid").agg(
        F.sum((F.col("final_status") == "completed").cast("int"))
        .alias("__n_completed"),
        F.sum((F.col("final_status") == "failed").cast("int"))
        .alias("__n_failed"),
        F.max("__last_completed_seq").alias("__last_completed_seq"),
        F.sum(((F.col("final_status") == "failed")
               & (F.col("__last_completed_seq").isNull()
                  | (F.col("winner_seq") > F.col("__last_completed_seq"))))
              .cast("int")).cast("int").alias("__tail_failed"))

    return (
        tasks.join(per_task, tasks["task_uuid"]
                   == per_task["scheduled_task_uuid"], "left")
        .select(
            "task_uuid",
            (F.col("successful_executions")
             + F.coalesce("__n_completed", F.lit(0)))
            .cast("int").alias("successful_executions"),
            (F.col("failed_executions") + F.coalesce("__n_failed", F.lit(0)))
            .cast("int").alias("failed_executions"),
            F.when(F.col("__last_completed_seq").isNotNull(),
                   F.coalesce("__tail_failed", F.lit(0)))
            .otherwise(F.col("consecutive_failures")
                       + F.coalesce("__tail_failed", F.lit(0)))
            .cast("int").alias("consecutive_failures")))
