"""Kernel tests: transformer (T4-T9), text (T14), canonical (F1/F2),
full-page extraction (T16/T20).

Cases re-express the reference's semantics with citations; cache/normalizeUrl
cases mirror ``packages/libs/src/__tests__/cache.test.ts``.
"""

import pytest
from hypothesis import given, settings, strategies as st

from anycrawl_spark.kernel.canonical import (
    base_domain_of,
    host_of,
    normalize_url,
    origin_of,
    resolve_url,
    unique_key,
)
from anycrawl_spark.kernel.extract import extract_page, process_markdown_dom
from anycrawl_spark.kernel.text import html_to_text
from anycrawl_spark.kernel.transformer import TransformOptions


def transform_html(html, base_url, options=None):
    """The ``html`` format of the extraction pipeline (T4-T9)."""
    options = options or TransformOptions()
    return extract_page(
        base_url, html, formats=("html",),
        include_tags=options.include_tags, exclude_tags=options.exclude_tags,
        only_main_content=options.only_main_content)["html"]


class TestCanonical:
    def test_lowercase_hostname(self):
        assert normalize_url("https://EXAMPLE.com/Path") == "https://example.com/Path"

    def test_strip_trailing_slash_non_root(self):
        assert normalize_url("https://example.com/a/b/") == "https://example.com/a/b"

    def test_keep_root_slash(self):
        assert normalize_url("https://example.com/") == "https://example.com/"

    def test_add_root_slash(self):
        # JS `new URL('https://example.com').toString()` → trailing slash
        assert normalize_url("https://example.com") == "https://example.com/"

    def test_drop_tracking_params(self):
        url = "https://example.com/p?utm_source=x&utm_medium=y&fbclid=1&gclid=2&keep=1"
        assert normalize_url(url) == "https://example.com/p?keep=1"

    def test_sort_params(self):
        assert normalize_url("https://example.com/p?b=2&a=1&c=3") == "https://example.com/p?a=1&b=2&c=3"

    def test_invalid_url_passthrough(self):
        assert normalize_url("not a url") == "not a url"

    def test_fragment_kept_by_normalize(self):
        # reference normalizeUrl never touches the hash (cache/index.ts:130-148)
        assert normalize_url("https://example.com/p#sec") == "https://example.com/p#sec"

    def test_unique_key_strips_fragment(self):
        assert unique_key("https://example.com/p#sec") == "https://example.com/p"

    def test_unique_key_job_scope(self):
        # Base.ts:464-473 — uniqueKey = `${jobId}-${computeUniqueKey(url)}`
        assert unique_key("https://example.com/p", "job1") == "job1-https://example.com/p"

    def test_url_hash_is_sha256_of_canonical(self):
        import hashlib
        expect = hashlib.sha256(b"https://example.com/p?a=1").hexdigest()
        got = normalize_url("https://EXAMPLE.com/p/?a=1&utm_source=z")
        assert hashlib.sha256(got.encode()).hexdigest() == expect

    def test_resolve_relative(self):
        assert resolve_url("https://example.com/a/b", "/c") == "https://example.com/c"
        assert resolve_url("https://example.com/a/", "c") == "https://example.com/a/c"

    def test_resolve_malformed_scheme(self):
        # HTMLTransformer.ts:514-532 — http:/x → http://x
        assert resolve_url("https://base.test/", "http:/example.com/x") == "http://example.com/x"

    def test_resolve_protocol_relative(self):
        assert resolve_url("https://base.test/", "//cdn.test/a.js") == "https://cdn.test/a.js"

    def test_host_origin_basedomain(self):
        assert host_of("https://Sub.Example.COM:8443/x") == "sub.example.com"
        assert origin_of("https://sub.example.com/x") == "https://sub.example.com"
        assert origin_of("https://sub.example.com:8443/x") == "https://sub.example.com:8443"
        assert base_domain_of("a.b.example.com") == "example.com"
        assert base_domain_of("localhost") == "localhost"
        # crawlee registrable-domain semantics: multi-label public suffixes
        assert base_domain_of("www.example.co.uk") == "example.co.uk"
        assert base_domain_of("example.co.uk") == "example.co.uk"
        assert base_domain_of("a.b.shop.com.au") == "shop.com.au"

    def test_map_base_domain(self):
        from anycrawl_spark.kernel.canonical import map_base_domain_of

        # MapService.getBaseDomain: plain last-2, <=2 labels pass through
        assert map_base_domain_of("www.example.com") == "example.com"
        assert map_base_domain_of("example.co.uk") == "co.uk"  # ref's own rule
        assert map_base_domain_of("www.example.co.uk") == "co.uk"
        assert map_base_domain_of("localhost") == "localhost"


class TestTransformer:
    def test_always_remove_tags(self):
        html = "<script>x</script><style>y</style><noscript>z</noscript><p>keep</p>"
        out = transform_html(html, "https://t.test/")
        assert "script" not in out and "style" not in out and "noscript" not in out
        assert "keep" in out

    def test_only_main_content_removes_chrome(self):
        html = (
            "<header>site chrome</header><nav>menu</nav>"
            '<div class="sidebar">sb</div><div class="cookie-banner">cookies</div>'
            "<main><p>the article</p></main><footer>foot</footer>"
        )
        out = transform_html(html, "https://t.test/")
        assert "site chrome" not in out and "menu" not in out
        assert "sb" not in out and "cookies" not in out and "foot" not in out
        assert "the article" in out

    def test_force_include_preserves_wrappers(self):
        # HTMLTransformer.ts:229-253 — excluded wrapper kept when it contains
        # a FORCE_INCLUDE_MAIN_TAGS match
        html = '<div class="sidebar"><div class="post-content">real content</div></div>'
        out = transform_html(html, "https://t.test/")
        assert "real content" in out

    def test_only_main_content_off(self):
        html = "<header>chrome</header><p>body</p>"
        out = transform_html(html, "https://t.test/", TransformOptions(only_main_content=False))
        assert "chrome" in out

    def test_include_tags_projection(self):
        html = "<div class='a'><p>one</p></div><div class='b'><p>two</p></div>"
        out = transform_html(html, "https://t.test/", TransformOptions(include_tags=[".b"]))
        assert "two" in out and "one" not in out

    def test_exclude_tags(self):
        html = "<p class='x'>drop</p><p>keep</p>"
        out = transform_html(html, "https://t.test/", TransformOptions(exclude_tags=[".x"]))
        assert "drop" not in out and "keep" in out

    def test_comment_removal(self):
        out = transform_html("<p>a<!-- hidden -->b</p>", "https://t.test/")
        assert "hidden" not in out

    def test_relative_url_rewrite(self):
        html = '<a href="/x">l</a><img src="img/pic.png">'
        out = transform_html(html, "https://t.test/base/")
        assert 'href="https://t.test/x"' in out
        assert 'src="https://t.test/base/img/pic.png"' in out

    def test_srcset_largest_wins(self):
        # HTMLTransformer.ts:383-466 — width descriptors, largest becomes src
        html = '<img srcset="/small.png 400w, /big.png 800w" src="/orig.png">'
        out = transform_html(html, "https://t.test/")
        assert 'src="https://t.test/big.png"' in out
        assert "https://t.test/small.png 400w" in out

    def test_srcset_pixel_density_includes_src_as_1x(self):
        html = '<img srcset="/two.png 2x" src="/one.png">'
        out = transform_html(html, "https://t.test/")
        assert 'src="https://t.test/two.png"' in out

    def test_title_and_metadata(self):
        html = (
            "<html><head><title> My Page </title>"
            '<meta name="description" content=" desc ">'
            '<meta property="og:title" content="OG">'
            '<meta name="empty">'
            "</head><body></body></html>"
        )
        page = extract_page("https://t.test/", html, formats=())
        assert page["title"] == "My Page"
        assert page["metadata"] == [
            {"name": "description", "content": "desc", "property": None},
            {"name": "og:title", "content": "OG", "property": "og:title"},
        ]

    def test_extract_links(self):
        html = (
            '<a href="/a">1</a><a href="https://other.test/b">2</a>'
            '<a href="mailto:x@y.z">m</a><a href="/a">dup</a>'
            '<a href="#frag">f</a>'
        )
        links = extract_page("https://t.test/", html, formats=("links",))
        assert links["links"] == [
            "https://t.test/a",
            "https://other.test/b",
            "https://t.test/#frag",
        ]


class TestText:
    def test_headings_uppercase(self):
        out = html_to_text("<h1>Hello World</h1><p>body text</p>")
        assert "HELLO WORLD" in out
        assert "body text" in out

    def test_links_bracketed(self):
        out = html_to_text('<p>see <a href="https://x.test/">docs</a></p>')
        assert "see docs [https://x.test/]" in out

    def test_lists(self):
        out = html_to_text("<ul><li>alpha</li><li>beta</li></ul>")
        assert " * alpha" in out and " * beta" in out

    def test_wordwrap_80(self):
        out = html_to_text("<p>" + "word " * 40 + "</p>")
        assert all(len(line) <= 80 for line in out.split("\n"))

    def test_pre_verbatim(self):
        out = html_to_text("<pre>a\n  b\n    c</pre>")
        assert "a\n  b\n    c" in out

    def test_blockquote(self):
        out = html_to_text("<blockquote>quoted</blockquote>")
        assert "> quoted" in out

    def test_script_dropped(self):
        out = html_to_text("<script>var x;</script><p>content</p>")
        assert "var x" not in out and "content" in out


class TestExtractPage:
    HTML = (
        "<html><head><title>T</title><meta name='d' content='x'></head><body>"
        "<header>chrome</header>"
        "<main><h1>Article</h1><p>Hello <strong>world</strong>, this is the main "
        "body of the article with plenty of words to avoid the fallback path. "
        "It keeps going for a while so the markdown is long enough.</p>"
        "<a href='/next'>next</a></main>"
        "</body></html>"
    )

    def test_document_shape(self):
        doc = extract_page("https://site.test/page", self.HTML)
        assert doc["title"] == "T"
        assert doc["metadata"][0]["name"] == "d"
        assert "# Article" in doc["markdown"]
        assert "chrome" not in doc["markdown"]  # main-content filter applied
        assert "ARTICLE" in doc["text"]          # text comes from RAW html
        assert "chrome" in doc["text"]
        assert doc["links"] == ["https://site.test/next"]

    def test_markdown_fallback_for_thin_pages(self):
        # DataExtractor.ts:335-394 — <100 chars / <20 words triggers a
        # re-conversion of the SAME input html after minimal cleaning only
        # (getFallbackHtml removes script/style/noscript/iframe + comments).
        from anycrawl_spark.kernel.dom import parse_html
        from anycrawl_spark.kernel.markdown import html_to_markdown_dom

        thin = parse_html("<p>short</p><!-- note --><iframe>f</iframe>")
        assert html_to_markdown_dom(thin) == "short\n\nf"
        assert process_markdown_dom(thin) == "short"
        # a rich page does NOT take the fallback path
        rich = parse_html(
            "<p>" + "many words of real article content here. " * 10 + "</p>")
        assert process_markdown_dom(rich) == html_to_markdown_dom(rich)

    def test_deterministic(self):
        a = extract_page("https://site.test/page", self.HTML)
        b = extract_page("https://site.test/page", self.HTML)
        assert a == b


def _tree_dump(root) -> list[tuple]:
    """Pre-order ``(depth, kind, ...)`` records of a parsed tree: every
    element's tag and attrs (in order), every text and comment's data."""
    from anycrawl_spark.kernel.dom import Comment, Element, Text

    out, stack = [], [(0, root)]
    while stack:
        depth, node = stack.pop()
        cls = node.__class__
        if cls is Element:
            out.append((depth, "element", node.tag, list(node.attrs.items())))
            stack.extend((depth + 1, c) for c in reversed(node.children))
        elif cls is Text:
            out.append((depth, "text", node.data))
        elif cls is Comment:
            out.append((depth, "comment", node.data))
        else:
            raise AssertionError(f"unexpected node class {cls!r}")
    return out


class TestDomBackends:
    """The fast regex tokenizer must build the same tree as the stdlib
    html.parser reference — asserted over every fixture page plus
    malformed-HTML edge cases."""

    EDGES = [
        "a < b & c &amp; d <p>x &lt;ok&gt;",
        "<p>unterminated <!-- comment",
        '<script>if (a<b && c>d) { x("</div>"); }</script><p>after</p>',
        '<style>a>b{color:red}</style><P CLASS="X Y" data-Foo=bar baz>t</P>',
        '<div/><span attr="v>w">q</span><img src=x.png alt="a&quot;b">',
        "<ul><li>one<li>two<table><tr><td>a<td>b</table>",
        "<?php echo 1 ?><!DOCTYPE html><p>pi</p></p></notopen>",
        "<p>truncated <a href=",
        "",
        # tolerant end-tag forms (html.parser semantics, both backends)
        "<b>x</b extra><i>y</i>",
        "x</br>y",
        "</123>after",
        "</>x",
        "</ >x",
        "no</p>match",
        "<table><tr><td>a<tr><td>b</table>",
        # markup still open at EOF: literal text split at each '<'
        "x</b",
        "a <b <!-- c <d &amp; e",
        "<!-- a > b <p>z</p>",
        "<p>a</p><!-- never <b>closed &amp; <",
    ]

    def test_extract_parity_fixtures_and_edges(self):
        """Full structural dumps (tags, attrs, text and comment data, in
        document order) are equal. Extraction reads only the tree, so
        equal trees give equal extraction output."""
        from anycrawl_spark.corpus import build_page_html
        from anycrawl_spark.kernel.dom import _parse_stdlib, parse_html

        cases = [build_page_html(h, 6, i, 30, "en")
                 for h in range(4) for i in range(30)]
        for j, html in enumerate(cases + self.EDGES):
            assert _tree_dump(parse_html(html)) == \
                _tree_dump(_parse_stdlib(html)), (j, html[:80])

    def test_eof_markup_pinned_trees(self):
        """Two EOF cases html.parser (CPython 3.11) resolves in a way other
        releases may not, pinned as explicit trees: an unterminated
        script/style drops its raw content, and a start tag whose quoted
        value never closes is decoded literal text through the first '>'
        after its '<'."""
        from anycrawl_spark.kernel.dom import parse_html

        root = [(0, "element", "#root", [])]
        assert _tree_dump(parse_html("<div><style>p{}")) == root + [
            (1, "element", "div", []), (2, "element", "style", [])]
        assert _tree_dump(parse_html("<p>a<script>if (a<b) x()")) == root + [
            (1, "element", "p", []), (2, "text", "a"),
            (2, "element", "script", [])]
        assert _tree_dump(parse_html("<a href='<!--&amp;<p>x")) == root + [
            (1, "text", "<a href='<!--&<p>"), (1, "text", "x")]
        assert _tree_dump(parse_html('<p>x<a href="&lt;b&gt;>y')) == root + [
            (1, "element", "p", []), (2, "text", "x"),
            (2, "text", '<a href="<b>>'), (2, "text", "y")]

    FUZZ_ATOMS = [
        "<p>", "</p>", "<div>", "</div>", "<li>", "<a href='", '<a href="',
        "'", '"', ">", "<", "</", "=", " ", "text", "&amp;", "&lt;", "&",
        "<!--", "-->", "<script>", "</script>", "<style>", "</style>",
        "<br/>", "<!DOCTYPE html>", "<?pi?>",
    ]

    @given(st.lists(st.sampled_from(FUZZ_ATOMS), min_size=1, max_size=15))
    @settings(max_examples=1500, deadline=None)
    def test_fuzz_matches_stdlib_reference(self, atoms):
        """Random markup soup builds the stdlib reference's tree, except
        for the one deliberate difference that keeps the tokenizer linear.
        A start tag whose attribute scan passes a '>' inside a quoted value
        and then stops at a value that never closes is one literal text
        node through the next '>' after the scan (the rest of the page if
        there is none). html.parser emits text only through the first '>'
        and re-parses from there, so the trees part at that node and may
        differ after it."""
        from anycrawl_spark.kernel.dom import _parse_stdlib, parse_html

        html = "".join(atoms)
        fast, ref = _tree_dump(parse_html(html)), _tree_dump(_parse_stdlib(html))
        if fast != ref:
            d = next(j for j, (a, b) in enumerate(zip(fast, ref)) if a != b)
            (depth, kind, text), (rdepth, rkind, rtext) = fast[d], ref[d]
            assert kind == rkind == "text" and depth == rdepth, html
            assert text[:1] == "<" and text[1:2].isalpha(), html
            assert "'" in text or '"' in text, html
            assert rtext.endswith(">") and text.startswith(rtext), html
            assert len(rtext) < len(text), html

    @pytest.mark.parametrize("unit, n", [
        ("<a ", 3000),          # start tags with no '>' left
        ("<a x='>' ", 3000),    # the only '>' sit inside quoted values
        ("<!--", 50000),        # comments with no '-->' left
        ("<!-- a >", 50000),
    ])
    def test_open_markup_tail_parses_in_linear_time(self, unit, n):
        """Markup that cannot close before EOF is not re-scanned to EOF
        once per '<' (html.parser's fallback does that: CVE-2025-6069);
        a rescanning tokenizer takes seconds on these, a linear one ms."""
        import time

        from anycrawl_spark.kernel.dom import parse_html

        t0 = time.perf_counter()
        root = parse_html("<p>x</p>" + unit * n)
        assert time.perf_counter() - t0 < 1.0
        assert root.children[0].tag == "p"

    def test_unclosed_value_behind_quoted_gts_parses_in_linear_time(self):
        """Every tag's attribute scan passes a '>' inside a quoted value
        and stops at the one value that never closes, at the end. Resuming
        at the first '>' after each '<', as html.parser does, re-scans the
        attributes of every later tag: seconds at this size."""
        import time

        from anycrawl_spark.kernel.dom import parse_html

        t0 = time.perf_counter()
        root = parse_html("<p>x</p><a " + 'x="><a " ' * 3000 + "w='>")
        assert time.perf_counter() - t0 < 1.0
        assert root.children[0].tag == "p"


class TestParserHtmlparser2Semantics:
    """Reference-parser (htmlparser2/cheerio) behaviors the tree builder
    reproduces: stray </br> emits a <br>, unmatched </p> synthesizes an
    empty <p>, implicit closes cascade (td→tr), and deep nesting is capped
    instead of blowing the recursion limit downstream."""

    def test_stray_br_end_tag_emits_br(self):
        from anycrawl_spark.kernel.dom import parse_html, serialize
        from anycrawl_spark.kernel.text import html_to_text

        assert serialize(parse_html("x</br>y")) == "x<br>y"
        assert html_to_text("<p>one</br>two</p>") == "one\ntwo"

    def test_unmatched_p_synthesizes_empty_p(self):
        from anycrawl_spark.kernel.dom import parse_html, serialize

        assert serialize(parse_html("no</p>match")) == "no<p></p>match"

    def test_implicit_close_cascades(self):
        from anycrawl_spark.kernel.dom import parse_html, serialize

        got = serialize(parse_html("<table><tr><td>a<tr><td>b</table>"))
        assert got == "<table><tr><td>a</td></tr><tr><td>b</td></tr></table>"

    def test_tolerant_end_tags(self):
        from anycrawl_spark.kernel.dom import parse_html, serialize

        assert serialize(parse_html("<b>x</b junk><i>y</i>")) == "<b>x</b><i>y</i>"
        assert serialize(parse_html("</123>a")) == "<!--123-->a"
        assert serialize(parse_html("</>a")) == "a"

    def test_depth_bomb_capped(self):
        import sys

        from anycrawl_spark.kernel.extract import extract_page

        old = sys.getrecursionlimit()
        sys.setrecursionlimit(20_000)
        try:
            doc = extract_page("http://a.test/", "<div>" * 100_000 + "x",
                               formats=("markdown", "text", "links"))
        finally:
            sys.setrecursionlimit(old)
        assert doc["text"] == "x"


class TestCanonicalProperties:
    """Property-based hardening (hypothesis): the canonicalizer must be
    idempotent and the JVM column must match the Python path on arbitrary
    structured URLs, not just the golden set."""

    def test_normalize_idempotent_and_hash_stable(self):
        from hypothesis import given, settings, strategies as st

        import hashlib

        from anycrawl_spark.kernel.canonical import normalize_url

        label = st.text(alphabet="abcdefghijklmnopqrstuvwxyzABC0123456789-",
                        min_size=1, max_size=8)
        seg = st.text(alphabet="abcdefgXYZ0123456789._~-", min_size=0,
                      max_size=6)
        urls = st.builds(
            lambda scheme, host_labels, port, segs, q_keys, frag:
                f"{scheme}://{'.'.join(host_labels)}"
                + (f":{port}" if port else "")
                + "/" + "/".join(segs)
                + ("?" + "&".join(f"{k}={i}" for i, k in enumerate(q_keys))
                   if q_keys else "")
                + (f"#{frag}" if frag else ""),
            st.sampled_from(["http", "https", "HTTP", "Https"]),
            st.lists(label, min_size=1, max_size=3),
            st.sampled_from([None, 80, 443, 8080, 9]),
            st.lists(seg, min_size=0, max_size=4),
            st.lists(st.sampled_from(
                ["a", "b", "zz", "utm_source", "fbclid", "k"]),
                min_size=0, max_size=4, unique=True),
            st.sampled_from([None, "frag", "s-2"]),
        )

        from urllib.parse import urlsplit

        @settings(max_examples=300, deadline=None)
        @given(urls)
        def check(url):
            once = normalize_url(url)
            # the reference strips exactly ONE trailing slash (cache/
            # index.ts:136-138), so idempotence holds once no trailing
            # slash remains — hypothesis found the '///' case, which the
            # reference also re-normalizes differently on a second pass
            path = urlsplit(once).path
            if not (len(path) > 1 and path.endswith("/")):
                assert normalize_url(once) == once, (url, once)
            assert hashlib.sha256(once.encode()).hexdigest() == \
                hashlib.sha256(normalize_url(url).encode()).hexdigest()
            # tracking params never survive
            assert "utm_source=" not in once and "fbclid=" not in once

        check()
        # single-strip parity with the reference, explicitly
        assert normalize_url("http://h.test/a///") == "http://h.test/a//"

    def test_jvm_matches_python_on_generated_urls(self, spark):
        from hypothesis import given, settings, strategies as st

        from anycrawl_spark.kernel.canonical import (
            canonical_url_col, normalize_url)

        label = st.text(alphabet="abcdefghij0123456789-", min_size=1,
                        max_size=6)
        collected: list[str] = []

        @settings(max_examples=250, deadline=None)
        @given(
            st.sampled_from(["http", "https"]),
            st.lists(label, min_size=1, max_size=3),
            st.sampled_from([None, 80, 443, 8080]),
            st.lists(st.sampled_from(["p", "a.b", "x_y", ""]), max_size=3),
            st.lists(st.sampled_from(["a", "b", "utm_medium", "z"]),
                     max_size=3, unique=True),
        )
        def collect(scheme, host_labels, port, segs, q_keys):
            url = (f"{scheme}://{'.'.join(host_labels)}"
                   + (f":{port}" if port else "")
                   + "/" + "/".join(segs)
                   + ("?" + "&".join(f"{k}=1" for k in q_keys)
                      if q_keys else ""))
            collected.append(url)

        collect()
        df = spark.createDataFrame([(u,) for u in set(collected)], "u string")
        rows = df.select("u", canonical_url_col("u").alias("jvm")).collect()
        for r in rows:
            assert r["jvm"] == normalize_url(r["u"]), r["u"]


    def test_nfkc_netloc_delims_match_unicodedata(self):
        """The JVM split refuses the netloc characters urlsplit refuses:
        those whose NFKC form holds a URL delimiter, per this Python's
        unicodedata."""
        import unicodedata

        from anycrawl_spark.kernel.canonical import NFKC_NETLOC_DELIMS

        found = "".join(
            c for c in map(chr, range(0x80, 0x110000))
            if not 0xD800 <= ord(c) <= 0xDFFF
            and any(d in unicodedata.normalize("NFKC", c) for d in "/?#@:"))
        assert found == NFKC_NETLOC_DELIMS

    # hrefs over printable ASCII and non-ASCII (no surrogates: a URL column
    # holds UTF-8), resolved as extract_page resolves them
    HREF = st.text(st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.characters(min_codepoint=0x80, blacklist_categories=("Cs",))),
        max_size=12)
    BASES = ["http://a.test/dir/page", "https://U:P@A.test:8443/d/?q#f",
             "http://a.test:80/"]
    # raw strings: userinfo, ports, bracketed hosts, tab/CR/LF anywhere
    PIECE = st.text(st.sampled_from(
        "aB0.-_~%:/?#@[]&= \t\r\n\x00|{}^`<>\\\"\u00e9\u0130\uff0f"), max_size=6)
    RAW = st.builds(
        lambda lead, scheme, user, host, port, path, query, frag: (
            lead + scheme + user + host + port + path + query + frag),
        st.sampled_from(["", " ", "\t", "\x01"]),
        st.sampled_from(["http://", "HTTPS://", "ftp://", "foo://", "http:",
                         "//", "x y://", ""]),
        st.sampled_from(["", "u@", "u:p@", ":p@", "u:@", "a@b@"]) | PIECE.map(
            lambda p: p + "@"),
        st.sampled_from(["a.test", "A.Test", "", "[::1]", "[v1.x]", "[a",
                         "b]", "xn--bcher-kva.test", "\u00fc.test"]) | PIECE,
        st.sampled_from(["", ":", ":80", ":443", ":0080", ":0", ":65535",
                         ":65536", ":99999999999", ":8a", ":\u0663"])
        | st.integers(0, 70000).map(lambda n: f":{n}"),
        st.sampled_from(["", "/", "/p/", "//x"]) | PIECE.map(lambda p: "/" + p),
        st.sampled_from(["", "?", "?b=2&a=1&utm_source=x&a=0"]) | PIECE.map(
            lambda p: "?" + p),
        st.sampled_from(["", "#", "#f"]) | PIECE.map(lambda p: "#" + p),
    )

    # well-formed authorities at the port edges
    PORTED = st.builds(
        lambda scheme, host, port, rest: scheme + host + port + rest,
        st.sampled_from(["http://", "https://", "HTTP://", "ftp://", "//"]),
        st.sampled_from(["a.test", "A.Test", "u:p@a.test"]),
        st.sampled_from(["", ":", ":0", ":80", ":443", ":0080", ":65535",
                         ":65536", ":99999"]),
        st.sampled_from(["", "/", "/p/", "/p?b=1&a=2&utm_source=x#f"]))

    @given(st.lists(st.one_of(
        st.tuples(st.sampled_from(BASES), HREF).map(lambda t: resolve_url(*t)),
        RAW, PORTED), min_size=1, max_size=60))
    @settings(max_examples=60, deadline=None)
    def test_fuzz_split_matches_python_references(self, spark, urls):
        """One Spark job per list: the JVM split gives normalize_url's
        canonical URL and the crawl's (url_hash, host, origin, path) of
        key_of, host_of, origin_of and the simulator's robots path."""
        import hashlib

        from anycrawl_spark.crawl import _canonical_cols
        from anycrawl_spark.kernel.canonical import canonical_url_col
        from simulator import key_of, robots_path

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        rows = _canonical_cols(df.withColumn("canon", canonical_url_col("url")),
                               "url").collect()
        for r in rows:
            u = r["url"]
            assert r["canon"] == normalize_url(u), repr(u)
            assert r["url_hash"] == hashlib.sha256(key_of(u).encode()).hexdigest(), repr(u)
            assert (r["host"], r["origin"], r["path"]) == (
                host_of(u), origin_of(u), robots_path(u)), repr(u)


class TestMarkdownOCR:
    """Ports packages/scrape/src/__tests__/core/MarkdownOCR.test.ts plus
    balanced-bracket / escape edge cases of MarkdownOCR.ts:35-131."""

    def test_collects_plain_and_linked_images(self):
        from anycrawl_spark.kernel.ocr import collect_image_occurrences

        markdown = "\n".join([
            "Intro", "",
            "![first](https://example.com/a.png)", "",
            "[![second](https://example.com/b.png)](https://example.com/details)",
            "", "Tail",
        ])
        occ = collect_image_occurrences(markdown)
        assert len(occ) == 2
        assert occ[0].image_url == "https://example.com/a.png"
        assert occ[1].image_url == "https://example.com/b.png"
        span = markdown[occ[1].image_start - 1:occ[1].insert_after]
        assert span == "[![second](https://example.com/b.png)](https://example.com/details)"

    def test_injects_block_after_each_image(self):
        from anycrawl_spark.kernel.ocr import inject_ocr_blocks

        markdown = "\n".join([
            "![first](https://example.com/a.png)", "",
            "[![second](https://example.com/b.png)](https://example.com/details)",
        ])
        out = inject_ocr_blocks(markdown, {
            "https://example.com/a.png": "first image text",
            "https://example.com/b.png": "second image text",
        })
        assert ("![first](https://example.com/a.png)\n\n[ANYCRAWL_OCR_TEXT]\n"
                "first image text\n[/ANYCRAWL_OCR_TEXT]") in out
        assert ("[![second](https://example.com/b.png)](https://example.com/details)"
                "\n\n[ANYCRAWL_OCR_TEXT]\nsecond image text\n[/ANYCRAWL_OCR_TEXT]") in out

    def test_empty_block_when_ocr_unavailable(self):
        from anycrawl_spark.kernel.ocr import (
            OCR_BLOCK_CLOSE, OCR_BLOCK_OPEN, inject_ocr_blocks)

        out = inject_ocr_blocks("![first](https://example.com/a.png)", {})
        assert OCR_BLOCK_OPEN in out and OCR_BLOCK_CLOSE in out

    def test_normalize_strips_markers_and_collapses(self):
        from anycrawl_spark.kernel.ocr import normalize_ocr_text

        got = normalize_ocr_text(
            "  line1\r\n\r\n\r\n[ANYCRAWL_OCR_TEXT]line2[/ANYCRAWL_OCR_TEXT]  ")
        assert got == "line1\n\nline2"

    def test_normalize_caps_at_4000(self):
        from anycrawl_spark.kernel.ocr import normalize_ocr_text

        assert normalize_ocr_text("x" * 5000) == "x" * 4000 + "..."
        assert normalize_ocr_text("x" * 4000) == "x" * 4000

    def test_balanced_brackets_and_escapes(self):
        from anycrawl_spark.kernel.ocr import collect_image_occurrences

        # nested brackets in alt, escaped closers, title after url
        occ = collect_image_occurrences(
            r"![a [nested] alt](https://e.test/i.png 'title')")
        assert occ[0].image_url == "https://e.test/i.png"
        occ = collect_image_occurrences(
            r"![esc \] alt](https://e.test/j.png)")
        assert occ[0].image_url == "https://e.test/j.png"
        # angle-bracketed destination with spaces
        occ = collect_image_occurrences("![a](<https://e.test/with space.png>)")
        assert occ[0].image_url == "https://e.test/with space.png"
        # unterminated token is skipped, later valid token still found
        occ = collect_image_occurrences(
            "![broken](no-close ![ok](https://e.test/k.png)")
        assert [o.image_url for o in occ] and occ[-1].image_url == "https://e.test/k.png"

    def test_linked_image_requires_exact_wrapper(self):
        from anycrawl_spark.kernel.ocr import collect_image_occurrences

        # wrapper bracket contains MORE than the image -> not a linked image,
        # insertion lands right after the image token itself
        md = "[text ![a](https://e.test/a.png)](https://e.test/l)"
        occ = collect_image_occurrences(md)
        assert len(occ) == 1
        assert occ[0].insert_after == occ[0].image_end

    def test_image_urls_dedup_in_order(self):
        from anycrawl_spark.kernel.ocr import image_urls

        md = ("![a](https://e.test/1.png) ![b](https://e.test/2.png) "
              "![c](https://e.test/1.png)")
        assert image_urls(md) == ["https://e.test/1.png", "https://e.test/2.png"]

    def test_udf_hooks(self, spark):
        from anycrawl_spark.udfs import make_inject_ocr_udf

        df = spark.createDataFrame(
            [("![x](https://e.test/x.png) tail",), ("no images",)],
            "md string")
        inject = make_inject_ocr_udf(lambda u: f"ocr:{u}")
        out = [r[0] for r in df.select(inject("md")).collect()]
        assert "ocr:https://e.test/x.png" in out[0]
        assert out[1] == "no images"


class TestAutoEngine:
    """Decision table from the reference's analyzeHtmlForJSRequirement
    (packages/scrape/src/utils/autoEngine.ts:7-88)."""

    def _page(self, body, head="", pad=True):
        filler = "<!-- " + "pad " * 600 + " -->" if pad else ""
        return f"<html><head>{head}{filler}</head><body>{body}</body></html>"

    def test_spa_shell_requires_js(self):
        from anycrawl_spark.autoengine import analyze_js_requirement

        r = analyze_js_requirement(self._page('<div id="root"></div>'))
        # empty root (+3) + minimal text (+3)
        assert r["js_required"] and r["score"] == 6
        assert "empty-root-container" in r["reasons"]
        assert any(x.startswith("minimal-text:") for x in r["reasons"])

    def test_substantial_article_stays_static(self):
        from anycrawl_spark.autoengine import analyze_js_requirement

        body = "<article>" + "word " * 300 + "</article>"
        r = analyze_js_requirement(self._page(body))
        # substantial text (-3) + semantic content (-1)
        assert not r["js_required"] and r["score"] == -4
        assert "has-semantic-content" in r["reasons"]

    def test_framework_markers_accumulate(self):
        from anycrawl_spark.autoengine import analyze_js_requirement

        head = ('<script>window.__INITIAL_STATE__={}</script>'
                '<script>"__NEXT_DATA__"</script>')
        body = '<div ng-app="x">' + "word " * 150 + "</div>"
        r = analyze_js_requirement(self._page(body, head=head))
        # next(+1) + initial-state(+1) + angular(+2) + moderate text(-1) = 3
        assert r["score"] == 3 and r["js_required"]
        assert "framework:angular" in r["reasons"]

    def test_noscript_fallback_counts_once_over_30_chars(self):
        from anycrawl_spark.autoengine import analyze_js_requirement

        long_ns = "<noscript>JavaScript is required to use this app.</noscript>"
        short_ns = "<noscript>JS off</noscript>"
        txt = "word " * 150
        assert "noscript-fallback" in analyze_js_requirement(
            self._page(long_ns + txt, pad=False))["reasons"]
        assert "noscript-fallback" not in analyze_js_requirement(
            self._page(short_ns + txt, pad=False))["reasons"]

    def test_high_script_density(self):
        from anycrawl_spark.autoengine import analyze_js_requirement

        head = '<script src="a.js"></script>' * 12
        txt = "word " * 60  # 300 chars: not minimal, below 500
        r = analyze_js_requirement(self._page(txt, head=head, pad=False))
        assert any(x.startswith("high-scripts:") for x in r["reasons"])

    def test_small_plain_page_defaults_static(self):
        from anycrawl_spark.autoengine import analyze_js_requirement

        r = analyze_js_requirement("<html><body><p>hi</p></body></html>")
        assert not r["js_required"] and r["score"] == 0

    def test_jvm_column_matches_python_kernel(self, spark):
        from anycrawl_spark.autoengine import (
            analyze_js_requirement, engine_decision_col, js_score_col)

        pages = [
            self._page('<div id="root"></div>'),
            self._page("<article>" + "word " * 300 + "</article>"),
            self._page("word " * 150,
                       head='<script>window.__NUXT__={}</script>'),
            self._page("word " * 60,
                       head='<script src="a.js"></script>' * 12, pad=False),
            "<html><body><p>hi</p></body></html>",
            self._page("<noscript>JavaScript is required to use this app."
                       "</noscript>" + "word " * 150, pad=False),
            "",
        ]
        df = spark.createDataFrame([(p,) for p in pages], "h string")
        rows = df.select(js_score_col("h").alias("s"),
                         engine_decision_col("h").alias("e")).collect()
        for page, row in zip(pages, rows):
            want = analyze_js_requirement(page)
            assert row["s"] == want["score"], page[:80]
            expect_engine = "playwright" if want["js_required"] else "cheerio"
            assert row["e"] == expect_engine


class TestBackendConformance:
    """Both parsers give byte-identical extraction output and honor the
    node contract the kernel walks rely on (kernel/dom.py docstring)."""

    def test_extraction_parity_across_all_backends(self, monkeypatch):
        """End to end: ``extract_page`` with every kernel module's
        ``parse_html`` swapped for the stdlib reference equals the
        fast-parser output."""
        from anycrawl_spark.corpus import build_page_html
        from anycrawl_spark.kernel import extract, markdown, text
        from anycrawl_spark.kernel.dom import _parse_stdlib

        cases = [(f"https://site00{h}.test/p/{i}",
                  build_page_html(h, 6, i, 30, "en"))
                 for h in range(3) for i in range(20)]
        cases += [(f"https://e.test/{j}", h)
                  for j, h in enumerate(TestDomBackends.EDGES)]
        fast = [extract.extract_page(url, html) for url, html in cases]
        for mod in (extract, markdown, text):
            monkeypatch.setattr(mod, "parse_html", _parse_stdlib)
        for (url, html), want in zip(cases, fast):
            assert extract.extract_page(url, html) == want, url

    def test_node_contract(self):
        from anycrawl_spark.kernel.dom import (
            VOID_ELEMENTS, Comment, Element, Text, _parse_stdlib, parse_html,
            serialize)

        html = ('<div CLASS="A b" Data-X=1 novalue><p>t &amp; u<br>v'
                '<img SRC=x.png></p><!-- c --><script>a<b</script></div>')
        for name, parse in (("fast", parse_html), ("stdlib", _parse_stdlib)):
            root = parse(html)
            assert isinstance(root, Element) and root.tag == "#root"
            seen_comment = seen_text = False
            stack = [root]
            while stack:
                node = stack.pop()
                for child in getattr(node, "children", []):
                    # parent pointers consistent, document order preserved
                    assert child.parent is node, name
                    stack.append(child)
                if isinstance(node, Element) and node is not root:
                    assert node.tag == node.tag.lower(), name
                    assert all(k == k.lower() for k in node.attrs), name
                    if node.tag in VOID_ELEMENTS:
                        assert node.children == [], name
                elif isinstance(node, Comment):
                    seen_comment = True
                elif isinstance(node, Text):
                    seen_text = True
                    assert "&amp;" not in node.data, name  # entity-decoded
            assert seen_comment and seen_text, name
            # attrs: lowercase keys, valueless -> ""
            div = next(root.iter())
            assert div.get("class") == "A b" and div.get("novalue") == "", name
            # serialize(parse(x)) is a fixed point: parse(serialize) == same
            once = serialize(root)
            again = serialize(parse(once))
            assert once == again, name
