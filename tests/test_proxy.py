"""Proxy decision core: parity with Proxy.ts / ProxyCacheManager.ts.

Ground truth = sequential Python simulators that transliterate the
reference fold exactly (recordDomainSuccess/recordDomainFailure,
newUrlFunction with explicit rotation counter); the distributed
operators must reproduce them on randomized event/request logs.
"""
from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from anycrawl_spark.proxy import (
    PROXY_FAILURE_TTL_MS,
    compute_new_mode,
    extract_domain,
    find_proxy_for_url,
    get_proxy_from_mode,
    get_resolved_proxy_mode,
    is_proxy_mode,
    matches_domain_pattern,
    matches_url_pattern,
    parse_proxy_urls,
    proxy_cache_replay,
    proxy_failure_state,
    proxy_select,
    resolve_proxy_mode_with_fallback,
    select_proxy,
    wildcard_regex,
)

BASE = ["http://base-0:8080", "http://base-1:8080"]
STEALTH = ["http://stealth-0:9090"]


# ===========================================================================
# Pure helpers (libs/proxy.ts, Proxy.ts:556-720)
# ===========================================================================

class TestModeHelpers:
    def test_is_proxy_mode(self):
        assert is_proxy_mode("auto") and is_proxy_mode("base") \
            and is_proxy_mode("stealth")
        assert not is_proxy_mode("http://p:1") and not is_proxy_mode(None) \
            and not is_proxy_mode("")

    def test_parse_proxy_urls(self):
        assert parse_proxy_urls(" http://a:1 , ,http://b:2") == \
            ["http://a:1", "http://b:2"]
        assert parse_proxy_urls(None) == [] and parse_proxy_urls("") == []

    def test_resolved_mode(self):
        # libs/proxy.ts:54-71: auto charges base; stealth degrades to
        # base when the stealth pool is unconfigured
        assert get_resolved_proxy_mode(None, STEALTH) == "base"
        assert get_resolved_proxy_mode("base", STEALTH) == "base"
        assert get_resolved_proxy_mode("auto", STEALTH) == "base"
        assert get_resolved_proxy_mode("stealth", STEALTH) == "stealth"
        assert get_resolved_proxy_mode("stealth", []) == "base"
        assert get_resolved_proxy_mode("http://p:1", STEALTH) == "custom"

    def test_tiered_resolution(self):
        # Proxy.ts:592-661
        assert resolve_proxy_mode_with_fallback("base", BASE, STEALTH) == \
            [BASE]
        assert resolve_proxy_mode_with_fallback("base", [], STEALTH) is None
        assert resolve_proxy_mode_with_fallback("stealth", BASE, STEALTH) == \
            [STEALTH, BASE]
        assert resolve_proxy_mode_with_fallback("stealth", [], STEALTH) == \
            [STEALTH]
        assert resolve_proxy_mode_with_fallback("stealth", BASE, []) == \
            [BASE]  # degrade with warning
        assert resolve_proxy_mode_with_fallback("auto", BASE, STEALTH) == \
            [BASE, STEALTH]
        assert resolve_proxy_mode_with_fallback("auto", [], STEALTH) == \
            [STEALTH]
        assert resolve_proxy_mode_with_fallback("auto", [], []) is None
        assert resolve_proxy_mode_with_fallback("http://c:1", BASE,
                                                STEALTH) == [["http://c:1"]]
        assert resolve_proxy_mode_with_fallback(None, BASE, STEALTH) is None

    def test_primary_tier_and_counts(self):
        # Proxy.ts:668-720: the primary tier is the first tier, the tier
        # count is the tier list's length, and only stealth/auto modes have
        # a second tier to fall back to
        tiers = resolve_proxy_mode_with_fallback
        assert tiers("auto", BASE, STEALTH)[0] == BASE
        assert tiers("nope://x", BASE, STEALTH) == [["nope://x"]]
        assert len(tiers("auto", BASE, STEALTH)) == 2
        assert len(tiers("stealth", BASE, STEALTH)) == 2
        assert len(tiers("base", BASE, STEALTH)) == 1
        assert len(tiers("http://c:1", BASE, STEALTH)) == 1
        assert tiers("auto", [], []) is None and tiers(None, BASE, STEALTH) is None

    def test_get_proxy_from_mode_rotation_and_clamp(self):
        # Proxy.ts:663-697: tier clamps to last; counter ticks only when
        # the tier pool is non-empty
        assert get_proxy_from_mode("base", 0, 0, BASE, STEALTH) == \
            (BASE[0], True)
        assert get_proxy_from_mode("base", 0, 3, BASE, STEALTH) == \
            (BASE[1], True)
        assert get_proxy_from_mode("base", 5, 0, BASE, STEALTH) == \
            (BASE[0], True)  # clamp to tier 0 (only tier)
        assert get_proxy_from_mode("auto", 1, 0, BASE, STEALTH) == \
            (STEALTH[0], True)
        assert get_proxy_from_mode("auto", 0, 0, [], []) == (None, False)


class TestWildcardsAndRules:
    def test_wildcard_regex_js_escape_set(self):
        # '*' and '?' are NOT escaped (they're the wildcards); '.' is
        assert wildcard_regex("*.example.com") == r"^.*\.example\.com$"
        assert wildcard_regex("a+b?c") == r"^a\+b.c$"

    def test_domain_and_url_patterns(self):
        assert matches_domain_pattern("*.gov.au", "www.example.gov.au")
        assert matches_domain_pattern("*.GOV.au", "www.x.gov.AU")  # (?i)
        assert not matches_domain_pattern("*.gov.au", "gov.au")
        assert matches_url_pattern("https://*.github.com/api/*",
                                   "https://a.github.com/api/v1")
        assert not matches_url_pattern("https://*.github.com/api/*",
                                       "https://github.com/api/v1")

    def test_find_proxy_rule_order_beats_field_priority(self):
        # The rule loop is sequential: an earlier domain rule wins over a
        # later exact-url rule (Proxy.ts:761-777)
        rules = [
            {"domain": "*.example.com", "proxy": "http://p-domain:1"},
            {"url": "https://a.example.com/x", "proxy": "http://p-exact:1"},
        ]
        assert find_proxy_for_url("https://a.example.com/x", rules) == \
            "http://p-domain:1"

    def test_find_proxy_invalid_url_never_matches(self):
        # new URL() throws before any rule check (Proxy.ts:730-736)
        rules = [{"url": "not a url", "proxy": "http://p:1"}]
        assert find_proxy_for_url("not a url", rules) is None

    def test_find_proxy_field_priority_within_rule(self):
        rules = [{"url": "https://e.com/a", "domain": "other.com",
                  "proxy": "http://p:1"}]
        assert find_proxy_for_url("https://e.com/a", rules) == "http://p:1"
        assert find_proxy_for_url("https://e.com/b", rules) is None

    def test_extract_domain(self):
        assert extract_domain("https://A.Example.com:8443/p?q") == \
            "a.example.com"
        assert extract_domain("not a url") is None


class TestComputeNewMode:
    def test_matrix(self):
        # ProxyCacheManager.ts:437-466
        assert compute_new_mode("stealth", "base", "timeout") == "stealth"
        assert compute_new_mode(None, "auto", "http_error") == "stealth"
        assert compute_new_mode("base", "base", "cloudflare_challenge") == \
            "stealth"
        assert compute_new_mode("base", "base", "blocked") == "stealth"
        assert compute_new_mode("base", "base", "timeout") == "base"
        assert compute_new_mode(None, "base", "proxy_error") == "base"
        assert compute_new_mode(None, "stealth", "timeout") == "stealth"
        # terminal branch: any other mode string -> stealth
        assert compute_new_mode(None, "weird", "timeout") == "stealth"


# ===========================================================================
# Sequential reference simulators (ground truth for the operators)
# ===========================================================================

def simulate_domain_cache(events):
    """Transliteration of recordDomainSuccess/recordDomainFailure
    (ProxyCacheManager.ts:196-280) folded sequentially per domain."""
    state: dict[str, dict] = {}
    for e in sorted(events, key=lambda x: x["seq"]):
        d, now = e["domain"], e["ts"]
        ex = state.get(d)
        if e["kind"] == "failure":
            if e["mode"] == "custom":
                continue
            new_mode = compute_new_mode(ex["mode"] if ex else None,
                                        e["mode"], e["reason"])
            # recordDomainFailure's replacement entry has NO working-proxy
            # fields (ts:207-219) - a failure wipes all three
            state[d] = {
                "mode": new_mode,
                "working_proxy_url": None,
                "base_working_proxy": None,
                "stealth_working_proxy": None,
                "last_failure_at": now,
                "last_failure_reason": e["reason"],
                "total_failures": ((ex or {}).get("total_failures") or 0) + 1,
                "last_success_at": (ex or {}).get("last_success_at"),
                "created_at": (ex or {}).get("created_at") or now,
                "updated_at": now,
                "first_stealth_at": (ex or {}).get("first_stealth_at")
                or (now if new_mode == "stealth" else None),
            }
        else:
            mode = e["mode"]
            state[d] = {
                "mode": mode,
                "working_proxy_url": e["proxy_url"],
                "base_working_proxy": e["proxy_url"] if mode == "base"
                else (ex or {}).get("base_working_proxy"),
                "stealth_working_proxy": e["proxy_url"] if mode == "stealth"
                else (ex or {}).get("stealth_working_proxy"),
                "last_failure_at": (ex or {}).get("last_failure_at"),
                "last_failure_reason": (ex or {}).get("last_failure_reason"),
                "total_failures": 0,
                "last_success_at": now,
                "created_at": (ex or {}).get("created_at") or now,
                "updated_at": now,
                "first_stealth_at": (ex or {}).get("first_stealth_at")
                or (now if mode == "stealth" else None),
            }
    return state


def make_events(seed, n=400, n_domains=13):
    rng = random.Random(seed)
    reasons = ["cloudflare_challenge", "http_error", "timeout", "blocked",
               "proxy_error"]
    events = []
    for i in range(n):
        kind = "failure" if rng.random() < 0.55 else "success"
        mode = rng.choice(
            ["auto", "base", "stealth", "custom"] if kind == "failure"
            else ["auto", "base", "stealth", "http://custom-proxy:3128"])
        events.append({
            "domain": f"d{rng.randrange(n_domains)}.example.com",
            "seq": i,
            "ts": 1_700_000_000_000 + i * 997,
            "kind": kind,
            "mode": mode,
            "proxy_url": f"http://p{rng.randrange(4)}:8080"
            if kind == "success" else None,
            "reason": rng.choice(reasons) if kind == "failure" else None,
        })
    return events


EVENT_SCHEMA = ("domain string, seq long, ts long, kind string, "
                "mode string, proxy_url string, reason string")


def closed_form_fold(events):
    """Pure-Python mirror of proxy_cache_replay's conditional-aggregation
    derivation (no Spark): the hypothesis target that proves the
    sequential state machine reduces to per-domain aggregates."""
    out = {}
    by_domain: dict[str, list] = {}
    for e in sorted(events, key=lambda x: x["seq"]):
        if e["kind"] == "failure" and e["mode"] == "custom":
            continue
        by_domain.setdefault(e["domain"], []).append(e)
    for d, evs in by_domain.items():
        succ = [e for e in evs if e["kind"] == "success"]
        fails = [e for e in evs if e["kind"] == "failure"]
        last_succ_seq = succ[-1]["seq"] if succ else -1
        last_fail_seq = fails[-1]["seq"] if fails else -1
        succ_after_fail = [e for e in succ if e["seq"] > last_fail_seq]
        fails_after_succ = [e for e in fails if e["seq"] > last_succ_seq]

        def trig(e):
            return not (e["mode"] == "base" and e["reason"] not in
                        ("cloudflare_challenge", "blocked"))

        last_succ_mode = succ[-1]["mode"] if succ else None
        if not fails_after_succ:
            mode = last_succ_mode
        elif last_succ_mode == "stealth" or any(map(trig, fails_after_succ)):
            mode = "stealth"
        else:
            mode = "base"
        base_after = [e for e in succ_after_fail if e["mode"] == "base"]
        stealth_after = [e for e in succ_after_fail
                         if e["mode"] == "stealth"]
        stealth_entries = ([e["ts"] for e in succ if e["mode"] == "stealth"]
                           + [e["ts"] for e in fails if trig(e)])
        out[d] = {
            "mode": mode,
            "working_proxy_url": succ_after_fail[-1]["proxy_url"]
            if succ_after_fail else None,
            "base_working_proxy": base_after[-1]["proxy_url"]
            if base_after else None,
            "stealth_working_proxy": stealth_after[-1]["proxy_url"]
            if stealth_after else None,
            "last_failure_at": fails[-1]["ts"] if fails else None,
            "last_failure_reason": fails[-1]["reason"] if fails else None,
            "total_failures": len(fails_after_succ),
            "last_success_at": succ[-1]["ts"] if succ else None,
            "created_at": evs[0]["ts"],
            "updated_at": evs[-1]["ts"],
            "first_stealth_at": min(stealth_entries)
            if stealth_entries else None,
        }
    return out


class TestFoldReductionProperty:
    """The conditional-aggregation fold must equal the sequential state
    machine on EVERY event ordering hypothesis can construct."""

    def test_closed_form_equals_sequential(self):
        from hypothesis import given, settings, strategies as st

        reasons = ["cloudflare_challenge", "http_error", "timeout",
                   "blocked", "proxy_error"]
        event = st.tuples(
            st.booleans(),                      # success?
            st.sampled_from(["auto", "base", "stealth", "custom",
                             "http://c:1"]),
            st.integers(0, 3),                  # proxy index
            st.sampled_from(reasons),
        )

        @given(st.lists(event, max_size=60))
        @settings(max_examples=300, deadline=None)
        def check(raw):
            events = []
            for i, (is_succ, mode, p, reason) in enumerate(raw):
                events.append({
                    "domain": "d.example.com",
                    "seq": i, "ts": 1_000 + i * 7,
                    "kind": "success" if is_succ else "failure",
                    "mode": mode,
                    "proxy_url": f"http://p{p}:1" if is_succ else None,
                    "reason": None if is_succ else reason,
                })
            assert closed_form_fold(events) == simulate_domain_cache(events)

        check()


class TestProxyCacheReplay:
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_matches_sequential_fold(self, spark, seed):
        events = make_events(seed)
        expected = simulate_domain_cache(events)
        df = spark.createDataFrame(
            [(e["domain"], e["seq"], e["ts"], e["kind"], e["mode"],
              e["proxy_url"], e["reason"]) for e in events], EVENT_SCHEMA)
        got = {r["domain"]: r.asDict()
               for r in proxy_cache_replay(df).collect()}
        assert set(got) == set(expected)
        for d, exp in expected.items():
            g = got[d]
            for k, v in exp.items():
                assert g[k] == v, f"{d}.{k}: got {g[k]!r} want {v!r}"

    def test_custom_only_domain_absent(self, spark):
        df = spark.createDataFrame(
            [("x.com", 0, 1000, "failure", "custom", None, "timeout")],
            EVENT_SCHEMA)
        assert proxy_cache_replay(df).count() == 0

    def test_failure_wipes_working_proxies(self, spark):
        # recordDomainFailure stores a full replacement entry without
        # workingProxyUrl/baseWorkingProxy/stealthWorkingProxy (ts:207-219)
        rows = [
            ("x.com", 0, 1000, "success", "base", "http://pb:1", None),
            ("x.com", 1, 2000, "success", "stealth", "http://ps:1", None),
            ("x.com", 2, 3000, "failure", "base", None, "timeout"),
        ]
        out = proxy_cache_replay(
            spark.createDataFrame(rows, EVENT_SCHEMA)).collect()[0]
        assert out["working_proxy_url"] is None
        assert out["base_working_proxy"] is None
        assert out["stealth_working_proxy"] is None
        assert out["last_success_at"] == 2000  # lastSuccessAt IS carried
        # a new success after the failure re-seeds only its own mode
        rows.append(("x.com", 3, 4000, "success", "base", "http://pb2:1",
                     None))
        out = proxy_cache_replay(
            spark.createDataFrame(rows, EVENT_SCHEMA)).collect()[0]
        assert out["base_working_proxy"] == "http://pb2:1"
        assert out["stealth_working_proxy"] is None  # lost for good
        assert out["working_proxy_url"] == "http://pb2:1"

    def test_success_downgrades_stealth_domain(self, spark):
        # recordDomainSuccess overwrites mode verbatim - a base success
        # flips a stealth domain back to base (ts:243)
        rows = [
            ("x.com", 0, 1000, "failure", "auto", None, "http_error"),
            ("x.com", 1, 2000, "success", "base", "http://p0:1", None),
        ]
        out = proxy_cache_replay(
            spark.createDataFrame(rows, EVENT_SCHEMA)).collect()[0]
        assert out["mode"] == "base"
        assert out["first_stealth_at"] == 1000  # sticky once set
        assert out["total_failures"] == 0
        assert out["last_failure_at"] == 1000  # carried across success


class TestProxyFailureState:
    def test_overwrite_semantics_and_ttl(self, spark):
        rows = [
            ("x.com", "http://p0:1", 0, 1000, "timeout"),
            ("x.com", "http://p0:1", 5, 9000, "blocked"),
            ("x.com", "http://p1:1", 3, 4000, "proxy_error"),
        ]
        df = spark.createDataFrame(
            rows, "domain string, proxy_url string, seq long, ts long, "
                  "reason string")
        now = 9000 + PROXY_FAILURE_TTL_MS - 1
        got = {(r["domain"], r["proxy_url"]): r.asDict()
               for r in proxy_failure_state(df, now).collect()}
        e = got[("x.com", "http://p0:1")]
        assert e["failure_count"] == 1  # overwritten, never incremented
        assert e["last_failure_at"] == 9000
        assert e["last_failure_reason"] == "blocked"
        assert e["expires_at"] == 9000 + PROXY_FAILURE_TTL_MS
        assert e["failure_active"] is True
        assert got[("x.com", "http://p1:1")]["failure_active"] is False


# ===========================================================================
# newUrlFunction replay
# ===========================================================================

RULES = [
    {"rule_idx": 0, "url": "https://exact.example.com/page",
     "proxy": "http://rule-exact:1"},
    {"rule_idx": 1, "pattern": "https://*.github.com/api/*",
     "proxy": "http://rule-pattern:1"},
    {"rule_idx": 2, "domain": "*.gov.au", "proxy": "http://rule-domain:1"},
]


def simulate_select(requests, rules, cache, active_failures):
    out, counter = [], 0
    for r in sorted(requests, key=lambda x: x["seq"]):
        sel, source, ticks = select_proxy(
            url=r["url"], original_url=r.get("original_url"),
            retry_count=r["retry_count"], user_tier=r.get("user_tier"),
            proxy_option=r.get("proxy_option"), rules=rules,
            domain_cache=cache, active_failures=active_failures,
            rotation_index=counter, base_urls=BASE, stealth_urls=STEALTH)
        counter += ticks
        out.append((r["seq"], sel, source))
    return out


class TestSelectProxyPure:
    CACHE = {"cached.example.com": {
        "mode": "stealth", "base_working_proxy": "http://bw:1",
        "stealth_working_proxy": "http://sw:1"}}

    def test_rule_first_attempt(self):
        sel, src, t = select_proxy(
            url="https://exact.example.com/page", original_url=None,
            retry_count=0, user_tier=None, proxy_option="auto",
            rules=RULES, domain_cache={}, active_failures=set(),
            rotation_index=0, base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src, t) == ("http://rule-exact:1", "rule", 0)

    def test_original_url_drives_matching(self):
        # matchUrl = originalUrl || requestUrl (Proxy.ts:766-768)
        sel, src, _ = select_proxy(
            url="https://render.example.com/x",
            original_url="https://sub.gov.au/doc", retry_count=0,
            user_tier=None, proxy_option=None, rules=RULES,
            domain_cache={}, active_failures=set(), rotation_index=0,
            base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src) == ("http://rule-domain:1", "rule")

    def test_auto_upgrades_via_cache_then_uses_cached_stealth(self):
        sel, src, t = select_proxy(
            url="https://cached.example.com/x", original_url=None,
            retry_count=0, user_tier=None, proxy_option="auto",
            rules=[], domain_cache=self.CACHE, active_failures=set(),
            rotation_index=0, base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src, t) == ("http://sw:1", "cached", 0)

    def test_failed_cached_proxy_falls_to_rotation(self):
        sel, src, t = select_proxy(
            url="https://cached.example.com/x", original_url=None,
            retry_count=0, user_tier=None, proxy_option="auto",
            rules=[], domain_cache=self.CACHE,
            active_failures={("cached.example.com", "http://sw:1")},
            rotation_index=0, base_urls=BASE, stealth_urls=STEALTH)
        # upgraded mode stealth -> tier 0 = stealth pool
        assert (sel, src, t) == (STEALTH[0], "mode_rotation", 1)

    def test_auto_retry_escalates_tier(self):
        sel, src, _ = select_proxy(
            url="https://plain.example.com/x", original_url=None,
            retry_count=1, user_tier=None, proxy_option="auto",
            rules=[], domain_cache={}, active_failures=set(),
            rotation_index=0, base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src) == (STEALTH[0], "mode_rotation")

    def test_merge_rotation_on_rule_retry(self):
        sel, src, _ = select_proxy(
            url="https://sub.gov.au/doc", original_url=None,
            retry_count=1, user_tier=None, proxy_option="base",
            rules=RULES, domain_cache={}, active_failures=set(),
            rotation_index=1, base_urls=BASE, stealth_urls=STEALTH)
        # pool = [rule, base0, base1]; index 1 -> base0
        assert (sel, src) == (BASE[0], "merge_rotation")

    def test_custom_url_passthrough(self):
        sel, src, t = select_proxy(
            url="https://x.example.com/", original_url=None, retry_count=0,
            user_tier=None, proxy_option="http://my-proxy:3128", rules=[],
            domain_cache={}, active_failures=set(), rotation_index=0,
            base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src, t) == ("http://my-proxy:3128", "custom", 0)

    def test_env_rotation_no_option(self):
        sel, src, _ = select_proxy(
            url="https://sub.gov.au/doc", original_url=None, retry_count=2,
            user_tier=None, proxy_option=None, rules=RULES,
            domain_cache={}, active_failures=set(), rotation_index=0,
            base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src) == ("http://rule-domain:1", "env_rotation")

    def test_negative_tier_yields_no_mode_proxy(self):
        # JS tieredProxyUrls[Math.min(-1, len-1)] is undefined -> null ->
        # fall through to the env fallback (no rotation tick consumed)
        sel, src, t = select_proxy(
            url="https://plain.example.com/x", original_url=None,
            retry_count=0, user_tier=-1, proxy_option="base",
            rules=[], domain_cache={}, active_failures=set(),
            rotation_index=0, base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src, t) == (BASE[0], "env_fallback", 0)
        # boolean _proxyTier is not a number in JS -> treated as 0
        sel, src, t = select_proxy(
            url="https://plain.example.com/x", original_url=None,
            retry_count=0, user_tier=True, proxy_option="base",
            rules=[], domain_cache={}, active_failures=set(),
            rotation_index=0, base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src, t) == (BASE[0], "mode_rotation", 1)

    def test_env_fallback_and_none(self):
        sel, src, _ = select_proxy(
            url="https://plain.example.com/", original_url=None,
            retry_count=0, user_tier=None, proxy_option=None, rules=[],
            domain_cache={}, active_failures=set(), rotation_index=0,
            base_urls=BASE, stealth_urls=STEALTH)
        assert (sel, src) == (BASE[0], "env_fallback")
        sel, src, _ = select_proxy(
            url="https://plain.example.com/", original_url=None,
            retry_count=0, user_tier=None, proxy_option=None, rules=[],
            domain_cache={}, active_failures=set(), rotation_index=0,
            base_urls=[], stealth_urls=[])
        assert (sel, src) == (None, "none")


def make_requests(seed, n=300):
    rng = random.Random(seed)
    hosts = ["exact.example.com", "a.github.com", "sub.gov.au",
             "cached.example.com", "plain.example.com", "other.net"]
    reqs = []
    for i in range(n):
        host = rng.choice(hosts)
        url = (f"https://{host}/page" if host == "exact.example.com"
               else f"https://{host}/api/v{rng.randrange(3)}"
               if host == "a.github.com" else f"https://{host}/p{i % 7}")
        reqs.append({
            "seq": i, "url": url,
            "original_url": f"https://sub.gov.au/r{i}"
            if rng.random() < 0.1 else None,
            "retry_count": rng.choice([0, 0, 0, 1, 2]),
            "proxy_option": rng.choice(
                [None, "auto", "base", "stealth", "http://custom:3128"]),
            "user_tier": rng.choice([None, 0, 1, -1]),
        })
    return reqs


class TestProxySelectOperator:
    @pytest.mark.parametrize("seed", [11, 12])
    def test_matches_sequential_replay(self, spark, seed):
        reqs = make_requests(seed)
        cache = {"cached.example.com": {
            "mode": "stealth", "base_working_proxy": "http://bw:1",
            "stealth_working_proxy": "http://sw:1"}}
        failures = {("cached.example.com", "http://bw:1")}
        expected = simulate_select(reqs, RULES, cache, failures)

        req_df = spark.createDataFrame(
            [(r["seq"], r["url"], r["original_url"], r["retry_count"],
              r["proxy_option"], r["user_tier"]) for r in reqs],
            "seq long, url string, original_url string, retry_count long, "
            "proxy_option string, user_tier long")
        rules_df = spark.createDataFrame(
            [(r["rule_idx"], r.get("url"), r.get("pattern"),
              r.get("domain"), r["proxy"]) for r in RULES],
            "rule_idx long, url string, pattern string, domain string, "
            "proxy string")
        cache_df = spark.createDataFrame(
            [("cached.example.com", "stealth", "http://bw:1", "http://sw:1")],
            "domain string, mode string, base_working_proxy string, "
            "stealth_working_proxy string")
        fail_df = spark.createDataFrame(
            [("cached.example.com", "http://bw:1", True)],
            "domain string, proxy_url string, failure_active boolean")

        # proxy_select no longer global-sorts its output (the range sort
        # cost a full extra evaluation of the decision subtree); replay
        # order is recovered by seq
        got = sorted(
            (r["seq"], r["selected_proxy"], r["source"])
            for r in proxy_select(req_df, rules_df, cache_df, fail_df,
                                  BASE, STEALTH).collect())
        assert got == expected


class TestLibsUtils:
    def test_normalize_proxy_url(self):
        from anycrawl_spark.proxy import normalize_proxy_url
        assert normalize_proxy_url("proxy.example:8080") == \
            "http://proxy.example:8080"
        assert normalize_proxy_url("socks5://p:1080") == "socks5://p:1080"
        assert normalize_proxy_url("http://p:3128") == "http://p:3128"
        assert normalize_proxy_url(None) is None
        assert normalize_proxy_url("") is None

    def test_resolve_wait_until(self):
        from anycrawl_spark.autoengine import resolve_wait_until
        assert resolve_wait_until("networkidle") == {
            "configured": "networkidle", "playwright": "networkidle",
            "puppeteer": "networkidle0"}
        assert resolve_wait_until("load")["puppeteer"] == "load"
        # 'commit' is valid zod input but degrades for both engines
        out = resolve_wait_until("commit")
        assert out["playwright"] == "domcontentloaded"
        assert out["puppeteer"] == "domcontentloaded"
        assert out["configured"] == "commit"
        assert resolve_wait_until(None)["configured"] == "domcontentloaded"
