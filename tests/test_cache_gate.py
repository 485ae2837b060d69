"""Write-side cache admission + key derivation (libs/src/cache/index.ts).

Covers, in order: the reference's own ``cache.test.ts`` cases verbatim,
the JS quirk set of ``computeCacheKey``/``shouldCache``, JS-URL-parity of
``normalize_cache_url``, and byte-parity between the Python scalars and
the JVM column builders on the canonical-URL grammar the batch operator
runs over.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from anycrawl_spark.cache import (
    cache_key_cols,
    compute_cache_key,
    compute_domain_hash,
    has_meaningful_result_content,
    md_comparable_text,
    normalize_cache_url,
    should_cache,
    store_gate_cols,
)


class TestReferenceCacheTestTs:
    """packages/libs/src/__tests__/cache.test.ts, case for case."""

    def test_title_only_markdown_rejected(self):
        result = {
            "title": "Labor market reforms and unemployment fluctuations"
                     " | Oxford Economic Papers | Oxford Academic",
            "metadata": [],
            "markdown": "Labor market reforms and unemployment fluctuations"
                        " | Oxford Economic Papers | Oxford Academic",
        }
        assert should_cache({}, result) == (False, "empty_result")

    def test_real_body_markdown_stored(self):
        result = {
            "title": "Example Page",
            "metadata": [],
            "markdown": "# Example Page\n\nThis page contains substantive"
                        " body text.",
        }
        assert should_cache({}, result) == (True, "store")

    def test_screenshot_only_stored(self):
        result = {"title": "Screenshot Result", "metadata": [],
                  "screenshot": "screenshot-job-abc.jpeg"}
        assert should_cache({}, result) == (True, "store")

    def test_browser_runtime_splits_playwright_entries(self):
        base = {"url": "https://example.com", "engine": "playwright",
                "formats": ["markdown"]}
        default_rt = compute_cache_key(base)
        cloak_rt = compute_cache_key(
            {**base, "browser_runtime": "cloakbrowser"})
        assert default_rt[0] == cloak_rt[0]
        assert default_rt[1] != cloak_rt[1]

    def test_browser_runtime_ignored_for_cheerio(self):
        base = {"url": "https://example.com", "engine": "cheerio",
                "formats": ["markdown"]}
        assert compute_cache_key(base) == compute_cache_key(
            {**base, "browser_runtime": "cloakbrowser"})


class TestShouldCacheGates:
    BODY = {"markdown": "# T\n\nreal body text here", "title": "T"}

    def test_store_in_cache_false_wins(self):
        assert should_cache({"store_in_cache": False}, self.BODY) == \
            (False, "store_in_cache")

    def test_template_gate(self):
        assert should_cache({"template_id": "tpl-1"}, self.BODY) == \
            (False, "template")

    def test_headers_gate_needs_nonempty(self):
        assert should_cache({"headers": {}}, self.BODY) == (True, "store")
        assert should_cache({"headers": {"a": "b"}}, self.BODY) == \
            (False, "headers")

    def test_actions_gate_needs_nonempty(self):
        assert should_cache({"actions": []}, self.BODY) == (True, "store")
        assert should_cache({"actions": [{"type": "click"}]}, self.BODY) \
            == (False, "actions")

    def test_gate_order_store_in_cache_before_template(self):
        opts = {"store_in_cache": False, "template_id": "t"}
        assert should_cache(opts, self.BODY) == (False, "store_in_cache")

    def test_json_empty_object_not_meaningful(self):
        assert not has_meaningful_result_content({"json": {}})
        assert has_meaningful_result_content({"json": {"k": 1}})
        assert not has_meaningful_result_content({"json": []})
        assert has_meaningful_result_content({"json": [1]})

    def test_json_scalar_meaningful(self):
        # typeof 'x' !== 'object' && not Array -> the bare `return true`
        assert has_meaningful_result_content({"json": "x"})
        assert has_meaningful_result_content({"json": 0})
        assert has_meaningful_result_content({"json": False})

    def test_links_meaningful(self):
        assert has_meaningful_result_content({"links": ["https://a"]})
        assert not has_meaningful_result_content({"links": []})

    def test_markdown_punctuation_only_rejected(self):
        assert not has_meaningful_result_content({"markdown": "# > * _"})

    def test_markdown_without_title_stored(self):
        assert has_meaningful_result_content({"markdown": "hello world"})

    def test_title_differs_after_comparable_normalization(self):
        # the comparable form unwraps links: '[T](u)' == 'T'
        r = {"markdown": "[My Title](https://x)", "title": "My Title"}
        assert not has_meaningful_result_content(r)
        r2 = {"markdown": "[My Title](https://x) extra", "title": "My Title"}
        assert has_meaningful_result_content(r2)

    def test_non_dict_result(self):
        assert should_cache({}, None) == (False, "empty_result")


class TestMdComparable:
    def test_chain(self):
        s = "# Labor | Markets [link](u) ![img](x) done"
        assert md_comparable_text(s) == "labor markets link done"

    def test_non_string(self):
        assert md_comparable_text(None) == ""
        assert md_comparable_text(7) == ""


class TestComputeCacheKey:
    def test_proxy_normalization(self):
        base = {"url": "https://e.com", "formats": ["markdown"]}

        def oh(**kw):
            return compute_cache_key({**base, **kw})[1]

        assert oh() == oh(proxy="")          # falsy -> 'none'
        assert oh(proxy="AUTO") == oh(proxy="auto")
        assert oh(proxy="Stealth") == oh(proxy="stealth")
        # custom urls hash; different urls -> different cells
        assert oh(proxy="http://a.test") != oh(proxy="http://b.test")
        # boolean true is its own bucket
        assert oh(proxy=True) not in (oh(), oh(proxy="auto"))
        # non-string non-bool -> 'unknown'
        assert oh(proxy=7) == oh(proxy=["x"])

    def test_formats_sorted_and_defaulted(self):
        base = {"url": "https://e.com"}
        a = compute_cache_key({**base, "formats": ["text", "markdown"]})
        b = compute_cache_key({**base, "formats": ["markdown", "text"]})
        assert a == b
        assert compute_cache_key(base) == compute_cache_key(
            {**base, "formats": ["markdown"]})

    def test_auto_engine_resolves(self):
        base = {"url": "https://e.com"}
        auto = compute_cache_key(
            {**base, "engine": "auto", "_autoResolvedEngine": "playwright"})
        direct = compute_cache_key({**base, "engine": "playwright"})
        assert auto == direct
        # unresolved auto falls back to cheerio
        assert compute_cache_key({**base, "engine": "auto"}) == \
            compute_cache_key({**base, "engine": "cheerio"})

    def test_empty_include_tags_kept_null_dropped(self):
        base = {"url": "https://e.com"}
        # [] is truthy in JS -> participates in the hash
        assert compute_cache_key({**base, "include_tags": []}) != \
            compute_cache_key(base)

    def test_nullish_coalescing_keeps_explicit_false(self):
        base = {"url": "https://e.com"}
        assert compute_cache_key({**base, "only_main_content": False}) != \
            compute_cache_key(base)
        assert compute_cache_key({**base, "ocr_options": False}) == \
            compute_cache_key(base)

    def test_json_options_empty_object_truthy(self):
        base = {"url": "https://e.com"}
        assert compute_cache_key({**base, "json_options": {}}) != \
            compute_cache_key(base)

    def test_url_hash_is_normalized(self):
        a = compute_cache_key({"url": "https://E.com/p/?b=2&a=1"})
        b = compute_cache_key({"url": "https://e.com/p?a=1&b=2"})
        assert a[0] == b[0]


class TestNormalizeCacheUrl:
    @pytest.mark.parametrize("url,expected", [
        ("https://Site.test/p/", "https://site.test/p"),
        ("https://site.test/", "https://site.test/"),
        ("https://site.test", "https://site.test/"),
        ("https://site.test/a//", "https://site.test/a/"),
        ("https://site.test/p?b=2&a=1", "https://site.test/p?a=1&b=2"),
        ("https://site.test/p?utm_source=x&utm_medium=y&q=1",
         "https://site.test/p?q=1"),
        ("https://site.test/?gclid=1&fbclid=2", "https://site.test/"),
        ("https://site.test/p?flag", "https://site.test/p?flag="),
        ("https://site.test:8443/p", "https://site.test:8443/p"),
        ("https://site.test:443/p", "https://site.test/p"),
        ("not a url", "not a url"),
    ])
    def test_cases(self, url, expected):
        assert normalize_cache_url(url) == expected

    @given(st.from_regex(
        r"https://[a-z]{3,8}\.test(/[a-z0-9]{1,6}){0,3}/?"
        r"(\?([a-z]{1,4}=[a-z0-9]{0,4}&){0,3}[a-z]{1,4}=[a-z0-9]{0,4})?",
        fullmatch=True))
    @settings(max_examples=150, deadline=None)
    def test_idempotent_on_canonical_grammar(self, url):
        once = normalize_cache_url(url)
        assert normalize_cache_url(once) == once

    def test_domain_hash(self):
        import hashlib
        assert compute_domain_hash("https://A.test/x") == \
            hashlib.sha256(b"a.test").hexdigest()
        assert compute_domain_hash("::bad::") == \
            hashlib.sha256(b"::bad::").hexdigest()


class TestJvmParity:
    """The batch builders must agree byte-for-byte with the Python
    scalars on the canonical-URL grammar (same contract the operator's
    DuckDB oracle re-checks end to end)."""

    def test_cache_key_cols_match_python(self, spark):
        rows = [
            ("https://site.test/p1", "cheerio", None, None,
             ["markdown"], None, None, None),
            ("https://site.test/p2/", "playwright", None, None,
             ["text", "markdown"], "auto", False, None),
            ("https://site.test/p3?b=2&a=1", "auto", "playwright",
             "cloakbrowser", ["markdown"], "http://u:p@x.test:8080",
             None, 500),
            ("https://site.test/?utm_source=x&gclid=1", None, None,
             "cloakbrowser", None, "STEALTH", True, None),
            ("https://site.test/p5?q=1&utm_medium=m&z=0", "cheerio",
             None, None, ["markdown"], "", None, None),
            ("https://site.test/p6", "cheerio", None, None, [], None, None,
             None),
        ]
        df = spark.createDataFrame(
            rows,
            "url string, engine string, auto_resolved_engine string, "
            "browser_runtime string, formats array<string>, proxy string, "
            "only_main_content boolean, wait_for long")
        for r in cache_key_cols(df).collect():
            src = rows[[x[0] for x in rows].index(r["url"])]
            params = {"url": src[0], "engine": src[1],
                      "_autoResolvedEngine": src[2],
                      "browser_runtime": src[3], "formats": src[4],
                      "proxy": src[5], "only_main_content": src[6],
                      "wait_for": src[7]}
            params = {k: v for k, v in params.items() if v is not None}
            uh, oh = compute_cache_key(params)
            assert r["normalized_url"] == normalize_cache_url(src[0])
            assert (r["url_hash"], r["options_hash"]) == (uh, oh), src[0]

    def test_store_gate_cols_match_python(self, spark):
        cases = [
            # (options, result) in scalar form
            ({}, {"markdown": "T | X", "title": "T | X"}),
            ({}, {"markdown": "# T\n\nbody", "title": "T"}),
            ({}, {"screenshot": "s.jpeg"}),
            ({"store_in_cache": False}, {"markdown": "body text"}),
            ({"template_id": "t"}, {"markdown": "body text"}),
            ({"headers": {"a": "1"}}, {"markdown": "body text"}),
            ({"actions": [{}]}, {"markdown": "body text"}),
            ({}, {"json": {"k": 1}}),
            ({}, {"json": {}}),
            ({}, {"links": ["u"]}),
            ({}, {"markdown": "# > *"}),
            ({}, {}),
        ]
        rows = []
        for opts, res in cases:
            json_v = res.get("json")
            rows.append((
                opts.get("store_in_cache"), opts.get("template_id"),
                len(opts["headers"]) if "headers" in opts else None,
                len(opts["actions"]) if "actions" in opts else None,
                res.get("html"), None, res.get("text"), res.get("summary"),
                res.get("screenshot"), None,
                len(json_v) if json_v is not None else None,
                len(res["links"]) if "links" in res else None,
                res.get("markdown"), res.get("title"),
            ))
        df = spark.createDataFrame(
            rows,
            "store_in_cache boolean, template_id string, n_headers int, "
            "n_actions int, html string, raw_html string, text_out string, "
            "summary string, screenshot string, screenshot_full string, "
            "json_size int, links_count int, markdown string, title string")
        got = [(r["should_store"], r["gate_reason"])
               for r in store_gate_cols(df).collect()]
        want = [should_cache(opts, res) for opts, res in cases]
        assert got == want


class TestJvmParityRandomized:
    """Bulk randomized parity: the JVM URL normalization must equal the
    exact-JS Python scalar across the whole canonical grammar, not just
    the enumerated cases."""

    def test_normalize_url_col_random_grammar(self, spark):
        import random
        rng = random.Random(20260818)
        tracking = ["utm_source", "utm_medium", "utm_campaign", "fbclid",
                    "gclid"]
        urls = []
        for _ in range(200):
            host = "h" + str(rng.randrange(40)) + ".test"
            segs = ["/" + "s" + str(rng.randrange(9))
                    for _ in range(rng.randrange(4))]
            path = "".join(segs) + ("/" if rng.random() < 0.4 else "")
            keys = rng.sample(
                ["a", "b", "zz", "q1", "k"] + tracking,
                k=rng.randrange(5))
            query = "&".join(
                k + ("=" + str(rng.randrange(100))
                     if rng.random() < 0.8 else "")
                for k in keys)
            urls.append("https://" + host + path
                        + ("?" + query if query else ""))
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        from anycrawl_spark.cache import normalize_cache_url_col
        got = [r["n"] for r in df.select(
            normalize_cache_url_col(F.col("url")).alias("n")).collect()]
        want = [normalize_cache_url(u) for u in urls]
        mism = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
        assert not mism, mism[:5]


class TestFormatsEmptyArrayTruthy:
    def test_empty_formats_survives(self):
        # `params.formats || ['markdown']` — [] is truthy in JS, so an
        # explicit empty array is kept and hashes to its own cell
        a = compute_cache_key({"url": "https://e.com", "formats": []})
        b = compute_cache_key({"url": "https://e.com"})
        assert a[1] != b[1]


class TestCacheKeyProperties:
    """Hypothesis: the cache key is invariant under exactly the inputs the
    reference normalizes away — format order, query order, tracking
    params — and sensitive to everything else."""

    @given(st.permutations(["markdown", "text", "html", "json"]))
    @settings(max_examples=24, deadline=None)
    def test_format_order_invariant(self, perm):
        base = {"url": "https://e.com"}
        assert compute_cache_key({**base, "formats": list(perm)}) == \
            compute_cache_key({**base, "formats": sorted(perm)})

    @given(st.permutations([("a", "1"), ("b", "2"), ("c", "3")]),
           st.sampled_from(["utm_source", "utm_medium", "gclid", None]))
    @settings(max_examples=24, deadline=None)
    def test_query_order_and_tracking_invariant(self, perm, tracker):
        pairs = list(perm)
        if tracker:
            pairs.insert(1, (tracker, "x"))
        url = "https://e.com/p?" + "&".join(f"{k}={v}" for k, v in pairs)
        canon = "https://e.com/p?a=1&b=2&c=3"
        assert compute_cache_key({"url": url})[0] == \
            compute_cache_key({"url": canon})[0]

    @given(st.sampled_from(["engine", "extract_source", "wait_until"]),
           st.sampled_from(["x", "y"]))
    @settings(max_examples=12, deadline=None)
    def test_option_changes_move_the_cell(self, key, val):
        base = {"url": "https://e.com"}
        a = compute_cache_key({**base, key: val})
        b = compute_cache_key({**base, key: val + "2"})
        assert a[0] == b[0] and a[1] != b[1]
