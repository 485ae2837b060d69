"""Proxy-selection and proxy-cache decision core, replayed Spark-first.

The reference's proxy subsystem (``packages/scrape/src/managers/Proxy.ts``,
891 LoC, and ``managers/ProxyCacheManager.ts``, 470 LoC) mixes live
infrastructure (HTTP config fetch, Redis persistence, crawlee session
pools) with a fully deterministic decision core:

* mode -> tier resolution (``resolveProxyModeWithFallback``,
  Proxy.ts:592-661),
* config-rule matching with wildcard patterns (``findProxyForUrl``,
  Proxy.ts:726-780; matchers Proxy.ts:556-586),
* the per-request selection tree of the shipped ``newUrlFunction``
  (Proxy.ts:763-885): rule-first-attempt, cached-working-proxy lookup,
  auto->stealth cache upgrade, tier escalation on retry, and a single
  global rotation counter shared by every rotation branch,
* the domain/proxy cache state machine (ProxyCacheManager.ts:196-280 and
  :437-466 ``computeNewMode``) fed by the engine call sites
  (EngineConfigurator.ts:631-651 failures, Base.ts:1263-1283 successes).

This module ports the decision core as pure functions (unit-testable
one-request semantics) plus batch operators that replay a request log /
event log distributively:

* :func:`proxy_cache_replay` - per-domain fold of success/failure events
  into the final ``DomainCacheEntry``.  The fold is expressible as pure
  conditional aggregation (no sequential UDF state) because mode changes
  between successes are monotone base->stealth: ``computeNewMode`` never
  downgrades on failure, and every success overwrites ``mode`` with the
  mode it was recorded under.  One keyed window + one groupBy per domain,
  whole-stage-codegen throughout - scales to any number of domains.
* :func:`proxy_failure_state` - per (domain, proxy) failure cooldown
  entries (``recordProxyFailure`` / ``isProxyFailureActive``,
  ProxyCacheManager.ts:286-350: the entry OVERWRITES ``failureCount`` to
  1, it does not increment).
* :func:`proxy_select` - replay of the ``newUrlFunction`` over an ordered
  request log.  The global rotation counter (``proxyModeRotationIndex``,
  Proxy.ts:664) is reconstructed without an unpartitioned window: each
  row's "consumes a tick" flag is pure row logic, and the running count
  is assembled from range-bucketed partial sums plus driver-side offsets
  (same dense-sequence machinery as the crawl loop's BFS ordering).

Live behaviour that is NOT replayed (out of scope by design, SURVEY
S2.1): the HTTP/file config loader + TTL refresh (Proxy.ts:442-553),
Redis persistence, and crawlee's internal ``predictProxyTier`` domain
tracker - the latter is only reachable when the ``newUrlFunction``
returns null AND ``ANYCRAWL_PROXY_URL`` is set; the replay models that
terminal fallback as tier-0 of the env pool and labels it
``env_fallback`` so downstream consumers can see the seam.
"""
from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from anycrawl_spark.kernel.canonical import UrlSplit

PROXY_FAILURE_TTL_MS = 7 * 24 * 60 * 60 * 1000  # ProxyCacheManager.ts:127

# ---------------------------------------------------------------------------
# libs/src/proxy.ts pure helpers
# ---------------------------------------------------------------------------


def is_proxy_mode(value: Optional[str]) -> bool:
    """libs/proxy.ts:23-25: literal keyword check; anything else is a
    custom proxy URL."""
    return value in ("auto", "base", "stealth")


def parse_proxy_urls(env_value: Optional[str]) -> list[str]:
    """libs/proxy.ts:30-33: comma-split, trim, drop empties."""
    if not env_value:
        return []
    return [u.strip() for u in env_value.split(",") if u.strip()]


_SCHEME_RE = re.compile(r"^\w+://")


def normalize_proxy_url(value: Optional[str]) -> Optional[str]:
    """libs/utils.ts:31-36 (normalizeProxyUrl): prefix schemeless proxy
    URLs with http://; falsy inputs stay undefined."""
    if not value:
        return None
    return value if _SCHEME_RE.match(value) else f"http://{value}"


def get_resolved_proxy_mode(proxy_value: Optional[str],
                            stealth_urls: Sequence[str]) -> str:
    """libs/proxy.ts:54-71 (getResolvedProxyMode): the mode name used for
    responses and credit calculation.  'auto' charges the base rate;
    'stealth' degrades to 'base' when no stealth pool is configured."""
    if not proxy_value or proxy_value == "base":
        return "base"
    if proxy_value == "stealth":
        return "stealth" if stealth_urls else "base"
    if proxy_value == "auto":
        return "base"
    return "custom"


def resolve_proxy_mode_with_fallback(
    proxy_value: Optional[str],
    base_urls: Sequence[str],
    stealth_urls: Sequence[str],
) -> Optional[list[list[Optional[str]]]]:
    """Proxy.ts:592-661 (resolveProxyModeWithFallback): mode -> tiered
    URL pools.  base: single tier, no upgrade.  stealth: stealth tier 0,
    base fallback tier 1 (or base-only when stealth unconfigured).
    auto: base tier 0, stealth fallback tier 1.  Custom URL: one
    single-element tier, no fallback."""
    if not proxy_value:
        return None
    base = list(base_urls)
    stealth = list(stealth_urls)
    if proxy_value == "base":
        return [base] if base else None
    if proxy_value == "stealth":
        if not stealth:
            return [base] if base else None
        return [stealth, base] if base else [stealth]
    if proxy_value == "auto":
        if base:
            return [base, stealth] if stealth else [base]
        return [stealth] if stealth else None
    return [[proxy_value]]


def get_proxy_from_mode(proxy_value: Optional[str], proxy_tier: int,
                        rotation_index: int, base_urls: Sequence[str],
                        stealth_urls: Sequence[str]
                        ) -> tuple[Optional[str], bool]:
    """Proxy.ts:663-697 (getProxyFromMode), with the module-global
    ``proxyModeRotationIndex`` made explicit: returns ``(proxy, ticked)``
    where ``ticked`` says whether the global counter was consumed.  The
    requested tier clamps to the last available one (Proxy.ts:680)."""
    tiered = resolve_proxy_mode_with_fallback(proxy_value, base_urls,
                                              stealth_urls)
    if not tiered:
        return None, False
    idx = min(proxy_tier, len(tiered) - 1)
    if idx < 0:
        # JS tieredProxyUrls[Math.min(-1, ...)] is undefined -> null
        # (Python's negative indexing would wrap to the LAST tier)
        return None, False
    tier = tiered[idx]
    proxies = [u for u in tier if u is not None]
    if not proxies:
        return None, False
    return proxies[rotation_index % len(proxies)] or None, True


# ---------------------------------------------------------------------------
# Config-rule matching (Proxy.ts:556-586, 726-780)
# ---------------------------------------------------------------------------

_JS_REGEX_ESCAPE = re.compile(r"[.+^${}()|[\]\\]")


def wildcard_regex(pattern: str) -> str:
    """Proxy.ts:556-566: escape the JS special set (note: ``*`` and ``?``
    are NOT in it), then ``*`` -> ``.*`` and ``?`` -> ``.``; matched
    anchored and case-insensitively."""
    escaped = _JS_REGEX_ESCAPE.sub(lambda m: "\\" + m.group(0), pattern)
    return "^" + escaped.replace("*", ".*").replace("?", ".") + "$"


def matches_domain_pattern(domain_pattern: str, hostname: str) -> bool:
    """Proxy.ts:556-566 (matchesDomainPattern)."""
    return re.match(wildcard_regex(domain_pattern), hostname,
                    re.IGNORECASE) is not None


def matches_url_pattern(url_pattern: str, url: str) -> bool:
    """Proxy.ts:574-586 (matchesUrlPattern)."""
    return re.match(wildcard_regex(url_pattern), url,
                    re.IGNORECASE) is not None


def extract_domain(url: str) -> Optional[str]:
    """ProxyCacheManager.ts:163-170 (extractDomain): JS ``new URL(url)
    .hostname`` or null.  Reuses the template layer's JS-URL splitter for
    lowercasing/IDN parity."""
    from anycrawl_spark.template import _split_js_url

    pieces = _split_js_url(url)
    return pieces[1] if pieces else None


def find_proxy_for_url(request_url: str, rules: Sequence[dict]
                       ) -> Optional[str]:
    """Proxy.ts:726-780 (findProxyForUrl).  The URL is parsed FIRST - an
    unparseable URL matches nothing, even an exact ``url`` rule.  Rules
    are scanned in array order; within a rule the fields are tried as
    exact url, then full-URL pattern, then hostname pattern - the first
    rule any of whose fields matches wins (an earlier domain rule beats a
    later exact-url rule; the "priority order" comment in the reference
    describes field order within one rule, and the source is authoritative)."""
    hostname = extract_domain(request_url)
    if hostname is None:
        return None
    for rule in rules:
        if rule.get("url") and rule["url"] == request_url:
            return rule["proxy"]
        if rule.get("pattern") and matches_url_pattern(rule["pattern"],
                                                       request_url):
            return rule["proxy"]
        if rule.get("domain") and matches_domain_pattern(rule["domain"],
                                                         hostname):
            return rule["proxy"]
    return None


# ---------------------------------------------------------------------------
# Domain-cache state machine (ProxyCacheManager.ts)
# ---------------------------------------------------------------------------


def compute_new_mode(existing_mode: Optional[str], current_mode: str,
                     reason: str) -> str:
    """ProxyCacheManager.ts:437-466 (computeNewMode).  Callers guarantee
    ``current_mode`` is auto/base/stealth (EngineConfigurator.ts:631-634
    guards the failure path), but the function-level semantics are kept
    exactly: an already-stealth domain stays stealth; auto upgrades on
    the first failure; base upgrades only on cloudflare_challenge or
    blocked; every other mode string falls into the terminal stealth
    branch."""
    if existing_mode == "stealth":
        return "stealth"
    if current_mode == "auto":
        return "stealth"
    if current_mode == "base":
        if reason in ("cloudflare_challenge", "blocked"):
            return "stealth"
        return "base"
    return "stealth"


def _failure_triggers_stealth(mode: Column, reason: Column) -> Column:
    """Column form of computeNewMode's upgrade condition, ignoring the
    existing-mode term (which the fold handles separately): a recorded
    failure yields 'stealth' unless mode=='base' with a non-cf/blocked
    reason."""
    return ~((mode == "base")
             & ~reason.isin("cloudflare_challenge", "blocked"))


def proxy_cache_replay(events: DataFrame) -> DataFrame:
    """Fold an ordered proxy-cache event log into final per-domain
    ``DomainCacheEntry`` rows (ProxyCacheManager.ts:196-280).

    ``events`` columns: ``domain`` string, ``seq`` long (global recording
    order), ``ts`` long epoch-ms, ``kind`` 'success'|'failure', ``mode``
    string (the raw ``options.proxy`` the call sites pass: a mode keyword
    - or, on the success path, possibly a custom URL, Base.ts:1267-1275),
    ``proxy_url`` string (success: the proxy used; failure: ignored at
    domain level), ``reason`` string (failure classification from
    ``mapToFailureReason``; null for successes).

    Exact reference semantics reproduced:

    * failures with mode=='custom' are dropped before touching state
      (recordDomainFailure's early return, ProxyCacheManager.ts:203);
    * success OVERWRITES ``mode`` with the raw mode it was recorded under
      - including a stealth->base downgrade, and including non-keyword
      strings (recordDomainSuccess:243 sets ``mode: currentMode``
      verbatim);
    * a failure WIPES every cached working proxy: recordDomainFailure
      builds a complete replacement entry (ts:207-219) that simply has no
      workingProxyUrl / baseWorkingProxy / stealthWorkingProxy fields,
      and setDomainEntry replaces the whole JSON - so the per-mode
      working proxies at the end come only from successes AFTER the last
      recorded failure;
    * ``base_working_proxy`` / ``stealth_working_proxy`` update only when
      the success mode is exactly that keyword (ts:246-248);
    * ``total_failures`` resets to 0 on success (ts:251) and counts
      recorded failures since;
    * ``mode`` after trailing failures: monotone - once a failure
      computes stealth the domain stays stealth until the next success
      (computeNewMode's existing-stealth short-circuit), so the final
      mode is stealth iff the last success stored 'stealth' or any later
      failure triggers the upgrade;
    * ``first_stealth_at`` is the timestamp of the first event that ever
      put the domain in stealth (``existing?.firstStealthAt || now`` -
      the JS ``||`` would also replace a 0 timestamp; epoch-ms inputs are
      positive so the fold uses a plain min);
    * ``last_failure_at``/``reason`` survive successes (ts:249-250
      carries them), ``last_success_at`` survives failures (ts:214).

    Everything is conditional aggregation over one keyed window + one
    groupBy - no sequential state, no Python in the plan.
    """
    is_succ = F.col("kind") == "success"
    is_fail = (F.col("kind") == "failure") & (F.col("mode") != "custom")

    ev = events.where(is_succ | is_fail)
    w = Window.partitionBy("domain")
    ev = ev.withColumn(
        "__last_succ_seq",
        F.max(F.when(is_succ, F.col("seq"))).over(w))
    ev = ev.withColumn(
        "__last_fail_seq",
        F.max(F.when(is_fail, F.col("seq"))).over(w))
    after_last_succ = (F.col("seq")
                       > F.coalesce(F.col("__last_succ_seq"), F.lit(-1)))
    after_last_fail = (F.col("seq")
                       > F.coalesce(F.col("__last_fail_seq"), F.lit(-1)))
    trigger = _failure_triggers_stealth(F.col("mode"), F.col("reason"))

    out = ev.groupBy("domain").agg(
        F.max_by(F.col("mode"), F.when(is_succ, F.col("seq")))
        .alias("__last_succ_mode"),
        # working proxies survive only successes AFTER the last failure
        # (each recorded failure replaces the entry without these fields)
        F.max_by(F.col("proxy_url"),
                 F.when(is_succ & after_last_fail, F.col("seq")))
        .alias("working_proxy_url"),
        F.max_by(F.col("proxy_url"),
                 F.when(is_succ & after_last_fail
                        & (F.col("mode") == "base"), F.col("seq")))
        .alias("base_working_proxy"),
        F.max_by(F.col("proxy_url"),
                 F.when(is_succ & after_last_fail
                        & (F.col("mode") == "stealth"), F.col("seq")))
        .alias("stealth_working_proxy"),
        F.max(F.when(is_fail, F.col("ts"))).alias("last_failure_at"),
        F.max_by(F.col("reason"), F.when(is_fail, F.col("seq")))
        .alias("last_failure_reason"),
        F.sum(F.when(is_fail & after_last_succ, F.lit(1))
              .otherwise(F.lit(0))).cast("long").alias("total_failures"),
        F.max(F.when(is_succ, F.col("ts"))).alias("last_success_at"),
        F.min(F.col("ts")).alias("created_at"),
        F.max(F.col("ts")).alias("updated_at"),
        F.min(F.when((is_succ & (F.col("mode") == "stealth"))
                     | (is_fail & trigger), F.col("ts")))
        .alias("first_stealth_at"),
        F.max(F.when(is_fail & after_last_succ & trigger, F.lit(1))
              .otherwise(F.lit(0))).alias("__trigger_after"),
    )
    mode = (
        F.when(F.col("total_failures") == 0, F.col("__last_succ_mode"))
        .when((F.col("__last_succ_mode") == "stealth")
              | (F.col("__trigger_after") == 1), F.lit("stealth"))
        .otherwise(F.lit("base"))
    )
    return out.select(
        "domain", mode.alias("mode"), "working_proxy_url",
        "base_working_proxy", "stealth_working_proxy", "last_failure_at",
        "last_failure_reason", "total_failures", "last_success_at",
        "created_at", "updated_at", "first_stealth_at",
    )


def proxy_failure_state(failures: DataFrame, now_ms: int) -> DataFrame:
    """Per-(domain, proxy) failure cooldown entries
    (ProxyCacheManager.ts:286-350).  ``recordProxyFailure`` overwrites
    the whole entry - ``failure_count`` is always 1, never incremented -
    and ``isProxyFailureActive`` is a strict ``now < expiresAt`` check
    (the expired-entry deletion is Redis housekeeping, not semantics).

    ``failures`` columns: domain, proxy_url, seq, ts, reason.
    """
    out = failures.groupBy("domain", "proxy_url").agg(
        F.max(F.col("ts")).alias("last_failure_at"),
        F.max_by(F.col("reason"), F.col("seq")).alias("last_failure_reason"),
    )
    expires = F.col("last_failure_at") + F.lit(PROXY_FAILURE_TTL_MS)
    return out.select(
        "domain", "proxy_url", "last_failure_at", "last_failure_reason",
        F.lit(1).cast("long").alias("failure_count"),
        expires.alias("expires_at"),
        (F.lit(now_ms) < expires).alias("failure_active"),
    )


# ---------------------------------------------------------------------------
# newUrlFunction replay (Proxy.ts:763-885)
# ---------------------------------------------------------------------------


def select_proxy(
    *,
    url: str,
    original_url: Optional[str],
    retry_count,
    user_tier,
    proxy_option: Optional[str],
    rules: Sequence[dict],
    domain_cache: dict,
    active_failures: set,
    rotation_index: int,
    base_urls: Sequence[str],
    stealth_urls: Sequence[str],
) -> tuple[Optional[str], str, int]:
    """One-request form of the shipped ``newUrlFunction``
    (Proxy.ts:763-885), with the module/global state made explicit.
    Returns ``(selected_proxy, source, ticks_consumed)``.

    * ``domain_cache``: hostname -> DomainCacheEntry dict (see
      :func:`proxy_cache_replay` output).
    * ``active_failures``: set of (domain, proxy_url) currently inside
      the 7-day cooldown (``isProxyFailureActive``).
    * ``rotation_index``: current value of the single global
      ``proxyModeRotationIndex`` shared by ALL rotation branches.

    ``source`` is one of rule / cached / merge_rotation / mode_rotation /
    custom / env_rotation / env_fallback / none.  The crawlee
    ``predictProxyTier`` path (reached only when this function returns
    null while ``ANYCRAWL_PROXY_URL`` is set) is modelled as tier 0 of
    the env pool (``env_fallback``) - its live tier tracking is retry
    machinery outside the replay.
    """
    match_url = original_url or url  # JS ||: empty string falls through
    try:
        retry_raw = float(retry_count)
        retry = int(retry_raw) if retry_raw >= 0 else 0  # Math.floor >= 0
    except (TypeError, ValueError):
        retry = 0
    # JS `typeof userDataTier === 'number'`: booleans are not numbers
    tier = user_tier if isinstance(user_tier, (int, float)) \
        and not isinstance(user_tier, bool) else 0
    tier = int(tier)

    rule_match = find_proxy_for_url(match_url, rules) if match_url else None
    if rule_match and retry == 0:
        return rule_match, "rule", 0

    if proxy_option:
        if is_proxy_mode(proxy_option):
            domain = extract_domain(match_url) if match_url else None
            entry = domain_cache.get(domain) if domain else None
            effective_mode = proxy_option
            if proxy_option == "auto" and entry \
                    and entry.get("mode") == "stealth":
                effective_mode = "stealth"

            if domain and effective_mode in ("base", "stealth"):
                cached = (entry or {}).get(
                    "base_working_proxy" if effective_mode == "base"
                    else "stealth_working_proxy")
                if cached and (domain, cached) not in active_failures:
                    return cached, "cached", 0

            effective_tier = tier
            if effective_mode == "auto" and retry >= 1:
                effective_tier = 1

            if rule_match and retry > 0:
                tiered = resolve_proxy_mode_with_fallback(
                    effective_mode, base_urls, stealth_urls) or []
                pool = [rule_match] + [u for t in tiered for u in t
                                       if u and u != rule_match]
                return pool[rotation_index % len(pool)], "merge_rotation", 1

            resolved, ticked = get_proxy_from_mode(
                effective_mode, effective_tier, rotation_index,
                base_urls, stealth_urls)
            if resolved:
                return resolved, "mode_rotation", 1
            # empty pool consumed no tick (getProxyFromMode returns before
            # the increment when the tier filter comes up empty)
        else:
            return proxy_option, "custom", 0

    if rule_match and retry > 0:
        pool = [rule_match] + [u for u in base_urls if u != rule_match]
        return pool[rotation_index % len(pool)], "env_rotation", 1

    if rule_match:
        return rule_match, "rule", 0

    if base_urls:
        return base_urls[0], "env_fallback", 0
    return None, "none", 0


def _rotation_counter_before(df: DataFrame, seq: str, tick: str,
                             bounds_df: DataFrame | None = None) -> DataFrame:
    """Global ordered running count of consumed rotation ticks, without
    an unpartitioned window: range-bucket by ``seq`` (bounds from one
    tiny agg), cumulative-sum inside each bucket under a keyed window,
    then add driver-collected per-bucket offsets (a handful of rows).
    Same shape as the crawl loop's dense-sequence assignment - scales to
    any log length.  Adds ``__rot_before``.

    ``bounds_df``: an upstream row-preserving frame carrying ``seq`` (e.g.
    the raw request log before the decision columns are derived) — the
    min/max agg then scans one column instead of re-evaluating the whole
    decision subtree for its bounds."""
    spark = df.sparkSession
    bounds = (bounds_df if bounds_df is not None else df).agg(
        F.min(seq).alias("lo"), F.max(seq).alias("hi")).collect()
    if not bounds or bounds[0]["lo"] is None:
        return df.withColumn("__rot_before", F.lit(0).cast("long"))
    lo, hi = int(bounds[0]["lo"]), int(bounds[0]["hi"])
    n = max(1, spark.sparkContext.defaultParallelism)
    df = df.withColumn(
        "__bkt", F.width_bucket(F.col(seq), F.lit(lo), F.lit(hi + 1),
                                F.lit(n)).cast("int"))
    w = Window.partitionBy("__bkt").orderBy(seq)
    # Materialize the decided frame once (localCheckpoint): the per-bucket
    # sums collect AND the final projection otherwise each re-evaluate the
    # whole upstream decision subtree — row-local work, but the tree is
    # large (rule regexes, pools, broadcast joins) and the replay paid it
    # twice (r7: ~2.8 s → ~1.9 s warm at a 100k-row log). Lineage
    # truncation is the point; the decision-plan shape is asserted by
    # tools/explain_plans.py on the pre-rotation subtree.
    df = df.localCheckpoint()
    df = df.withColumn(
        "__rot_local",
        F.sum(F.col(tick)).over(w).cast("long") - F.col(tick))
    sums = {int(r["__bkt"]): r["s"] for r in
            df.groupBy("__bkt").agg(F.sum(tick).alias("s")).collect()}
    offsets, acc = {}, 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += int(sums[b] or 0)
    offset_col = F.element_at(
        F.create_map(*[F.lit(int(x)) for b in sorted(offsets)
                       for x in (b, offsets[b])]), F.col("__bkt"))
    return (df.withColumn("__rot_before",
                          (F.col("__rot_local")
                           + offset_col.cast("long")).cast("long"))
            .drop("__bkt", "__rot_local"))


def _rule_match_col(match_url: Column, host: Column,
                    rules: Sequence[dict]) -> Column:
    """findProxyForUrl as one driver-built CASE chain (proxy-config rule
    tables are config files — tens of rules — so the sequential scan
    compiles to a row-local expression with zero joins or shuffles).
    Rule order beats field priority, exactly like the reference loop;
    the host-null guard reproduces the parse-URL-first behaviour."""
    expr = F.lit(None).cast("string")
    for rule in reversed(list(rules)):
        conds = []
        if rule.get("url"):
            conds.append(match_url == rule["url"])
        if rule.get("pattern"):
            conds.append(F.regexp_like(
                match_url, F.lit(wildcard_regex(rule["pattern"])
                                 .replace("^", "(?i)^", 1))))
        if rule.get("domain"):
            conds.append(F.regexp_like(
                host, F.lit(wildcard_regex(rule["domain"])
                            .replace("^", "(?i)^", 1))))
        if not conds:
            continue
        any_field = conds[0]
        for c in conds[1:]:
            any_field = any_field | c
        expr = F.when(host.isNotNull() & any_field,
                      F.lit(rule["proxy"])).otherwise(expr)
    return expr


def proxy_select(
    requests: DataFrame,
    rules: Sequence[dict] | DataFrame,
    domain_cache: DataFrame,
    failure_state: DataFrame,
    base_urls: Sequence[str],
    stealth_urls: Sequence[str],
) -> DataFrame:
    """Distributed replay of the ``newUrlFunction`` decision tree over an
    ordered request log (Proxy.ts:763-885).

    Inputs:

    * ``requests``: seq long (global processing order), url, original_url
      (nullable - ``userData.original_url``), retry_count long,
      proxy_option (nullable - ``userData.options.proxy``), user_tier
      (nullable long - ``userData._proxyTier``).
    * ``rules``: the proxy-config rule list (dicts with url / pattern /
      domain / proxy, in array order), or a DataFrame with those columns
      plus ``rule_idx`` - config files are tens of rules by construction,
      so the sequential rule scan compiles to one row-local CASE chain
      (zero joins for rule matching).
    * ``domain_cache``: :func:`proxy_cache_replay` output (broadcast -
      one row per domain that ever recorded an event; for truly huge
      domain sets drop the hint and let AQE pick the join).
    * ``failure_state``: :func:`proxy_failure_state` output.
    * ``base_urls`` / ``stealth_urls``: the env pools (driver config).

    The hostname is the kernel's URL split (``UrlSplit.host``, lowered) -
    parity with JS ``URL.hostname`` for ASCII hosts; IDN hosts would need
    the kernel's punycode path and are out of the replay's synthetic scope.

    Every branch is JVM whole-stage-codegen; the only multi-pass piece is
    the rotation counter (see :func:`_rotation_counter_before`).
    """
    match_url = F.when(
        F.col("original_url").isNotNull() & (F.col("original_url") != ""),
        F.col("original_url")).otherwise(F.col("url"))
    host = UrlSplit(match_url).host
    retry = F.when(F.col("retry_count") >= 0, F.col("retry_count")) \
        .otherwise(F.lit(0)).cast("long")
    tier0 = F.coalesce(F.col("user_tier"), F.lit(0)).cast("int")

    if isinstance(rules, DataFrame):
        rules = [r.asDict() for r in
                 rules.orderBy("rule_idx").collect()]

    req = requests.select(
        "seq", "url", "proxy_option",
        match_url.alias("__match_url"), host.alias("__host"),
        retry.alias("__retry"), tier0.alias("__tier"),
    )

    # --- rule matching: first rule (array order) any of whose fields
    # hits, as one row-local CASE chain
    req = req.withColumn(
        "__rule",
        _rule_match_col(F.col("__match_url"), F.col("__host"), rules))

    # --- cache + failure-state joins
    cache = domain_cache.select(
        F.col("domain").alias("__c_domain"), F.col("mode").alias("__c_mode"),
        F.col("base_working_proxy").alias("__c_base"),
        F.col("stealth_working_proxy").alias("__c_stealth"))
    req = req.join(F.broadcast(cache),
                   F.col("__host") == F.col("__c_domain"), "left")

    is_mode = F.col("proxy_option").isin("auto", "base", "stealth")
    eff_mode = F.when(
        (F.col("proxy_option") == "auto") & (F.col("__c_mode") == "stealth"),
        F.lit("stealth")).otherwise(F.col("proxy_option"))
    cached_proxy = F.when(eff_mode == "base", F.col("__c_base")) \
        .when(eff_mode == "stealth", F.col("__c_stealth"))
    req = req.withColumn("__eff_mode", F.when(is_mode, eff_mode)) \
             .withColumn("__cached", F.when(is_mode, cached_proxy))

    fails = failure_state.where(F.col("failure_active")).select(
        F.col("domain").alias("__f_domain"),
        F.col("proxy_url").alias("__f_proxy"), F.lit(True).alias("__failed"))
    req = req.join(
        F.broadcast(fails),
        (F.col("__host") == F.col("__f_domain"))
        & (F.col("__cached") == F.col("__f_proxy")), "left")
    cached_ok = F.col("__cached").isNotNull() \
        & ~F.coalesce(F.col("__failed"), F.lit(False))

    # --- per-mode pools (driver config -> array literals)
    def arr(urls: Sequence[str]) -> Column:
        return F.array(*[F.lit(u) for u in urls]) if urls \
            else F.array().cast("array<string>")

    def flat_pool(mode: str) -> list[str]:
        tiered = resolve_proxy_mode_with_fallback(
            mode, base_urls, stealth_urls) or []
        return [u for t in tiered for u in t if u]

    def tier_pool(mode: str, t: int) -> list[str]:
        tiered = resolve_proxy_mode_with_fallback(
            mode, base_urls, stealth_urls)
        if not tiered:
            return []
        sel = tiered[min(t, len(tiered) - 1)]
        return [u for u in sel if u is not None]

    eff_tier = F.when((F.col("__eff_mode") == "auto") & (F.col("__retry") >= 1),
                      F.lit(1)).otherwise(F.col("__tier"))
    merge_pool = F.concat(
        F.array(F.col("__rule")),
        F.filter(
            F.when(F.col("__eff_mode") == "auto", arr(flat_pool("auto")))
            .when(F.col("__eff_mode") == "base", arr(flat_pool("base")))
            .when(F.col("__eff_mode") == "stealth", arr(flat_pool("stealth")))
            .otherwise(arr([])),
            lambda u: u != F.col("__rule")))
    mode_pool = (
        # negative tier: JS indexes undefined -> getProxyFromMode null
        F.when(eff_tier < 0, arr([]))
        .when((F.col("__eff_mode") == "auto") & (eff_tier <= 0),
              arr(tier_pool("auto", 0)))
        .when(F.col("__eff_mode") == "auto", arr(tier_pool("auto", 1)))
        .when((F.col("__eff_mode") == "base") & (eff_tier <= 0),
              arr(tier_pool("base", 0)))
        .when(F.col("__eff_mode") == "base", arr(tier_pool("base", 1)))
        .when((F.col("__eff_mode") == "stealth") & (eff_tier <= 0),
              arr(tier_pool("stealth", 0)))
        .when(F.col("__eff_mode") == "stealth", arr(tier_pool("stealth", 1)))
        .otherwise(arr([])))
    env_pool = F.concat(
        F.array(F.col("__rule")),
        F.filter(arr(list(base_urls)), lambda u: u != F.col("__rule")))

    # Materialize each pool CASE as ONE column and reference it by name:
    # inlining the array-literal trees into `source` AND `__pool` doubled
    # an already-large expression tree, and (bench posture: each query
    # compiled once per run) whole-stage-codegen compile time scales with
    # tree size (r7; warm runtimes were unaffected, first-run dropped).
    req = (req.withColumn("__mode_pool", mode_pool)
           .withColumn("__merge_pool", merge_pool)
           .withColumn("__env_pool", env_pool))
    has_rule = F.col("__rule").isNotNull()
    source = (
        F.when(has_rule & (F.col("__retry") == 0), F.lit("rule"))
        .when(is_mode & cached_ok, F.lit("cached"))
        .when(is_mode & has_rule & (F.col("__retry") > 0),
              F.lit("merge_rotation"))
        .when(is_mode & (F.size(F.col("__mode_pool")) > 0),
              F.lit("mode_rotation"))
        .when(F.col("proxy_option").isNotNull()
              & (F.col("proxy_option") != "") & ~is_mode, F.lit("custom"))
        .when(has_rule & (F.col("__retry") > 0), F.lit("env_rotation"))
        .when(has_rule, F.lit("rule"))
        .when(F.lit(bool(base_urls)), F.lit("env_fallback"))
        .otherwise(F.lit("none")))

    req = req.withColumn("__source", source).withColumn(
        "__pool",
        F.when(F.col("__source") == "merge_rotation", F.col("__merge_pool"))
        .when(F.col("__source") == "mode_rotation", F.col("__mode_pool"))
        .when(F.col("__source") == "env_rotation", F.col("__env_pool")))
    req = req.withColumn(
        "__tick",
        F.when(F.col("__source").isin("merge_rotation", "mode_rotation",
                                      "env_rotation"), F.lit(1))
        .otherwise(F.lit(0)).cast("long"))
    req = _rotation_counter_before(req, "seq", "__tick",
                                   bounds_df=requests.select("seq"))

    selected = (
        F.when(F.col("__source") == "rule", F.col("__rule"))
        .when(F.col("__source") == "cached", F.col("__cached"))
        .when(F.col("__source") == "custom", F.col("proxy_option"))
        .when(F.col("__source").isin("merge_rotation", "mode_rotation",
                                     "env_rotation"),
              F.element_at(
                  F.col("__pool"),
                  (F.col("__rot_before") % F.size(F.col("__pool")))
                  .cast("int") + 1))
        .when(F.col("__source") == "env_fallback",
              F.lit(base_urls[0]) if base_urls
              else F.lit(None).cast("string")))

    return req.select(
        "seq", "url",
        F.col("__host").alias("host"),
        F.col("__rule").alias("rule_proxy"),
        F.col("__eff_mode").alias("effective_mode"),
        F.when(F.col("__source").isin("merge_rotation", "mode_rotation"),
               eff_tier.cast("long")).alias("effective_tier"),
        F.col("__source").alias("source"),
        F.col("__rot_before").alias("rotation_before"),
        selected.alias("selected_proxy"),
    )
    # No global orderBy: a range sort of the replay output costs an extra
    # full evaluation of the decision subtree (range-partition sampling)
    # plus a full shuffle, for an ordering no consumer needs — the oracle
    # compares an order-insensitive multiset and callers that want log
    # order sort by `seq` themselves (r7 optimization; guide §2.4: an
    # orderBy used only to make output deterministic is an accidental
    # exchange).
