"""Committed golden files (FIXTURES.md §6): the kernel and simulator must
reproduce tests/golden/ byte-for-byte. Regenerate intentionally with
``python tools/gen_goldens.py`` — any diff is a regression."""

import hashlib
import json
import os

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def _corpus():
    from anycrawl_spark.corpus import build_page_html, host_name, host_plan, page_url
    from anycrawl_spark.kernel.canonical import normalize_url

    bounds = host_plan(120, 6)
    corpus, meta = {}, []
    for gid in range(120):
        host_idx = int(next(i for i in range(6) if bounds[i] <= gid < bounds[i + 1]))
        local_idx = int(gid - bounds[host_idx])
        n_host = int(bounds[host_idx + 1] - bounds[host_idx])
        lang = ["en", "zh", "de", "fr", "ja"][host_idx % 5]
        html = build_page_html(host_idx, 6, local_idx, n_host, lang)
        url = page_url(host_name(host_idx), local_idx)
        corpus[normalize_url(url).split("#", 1)[0]] = html
        meta.append((url, html, host_idx, local_idx))
    return corpus, meta


class TestExtractionGoldens:
    def test_markdown_and_text_bytes(self):
        from anycrawl_spark.kernel.dom import parse_html
        from anycrawl_spark.kernel.extract import extract_page
        from anycrawl_spark.kernel.markdown import html_to_markdown, html_to_markdown_dom

        _, meta = _corpus()
        checked = 0
        for url, html, host_idx, local_idx in meta[::7]:
            case = f"h{host_idx}_p{local_idx}"
            md_path = os.path.join(GOLDEN, "markdown", f"{case}.md")
            txt_path = os.path.join(GOLDEN, "text", f"{case}.txt")
            assert os.path.exists(md_path), f"missing golden {md_path}"
            doc = extract_page(url, html)
            with open(md_path) as f:
                assert doc["markdown"] == f.read(), f"markdown drift for {case}"
            with open(txt_path) as f:
                assert doc["text"] == f.read(), f"text drift for {case}"
            # the DOM path's whitespace-only-node strip stands in for the
            # string path's '>\s+<' rewrite byte for byte
            assert html_to_markdown_dom(parse_html(html)) == html_to_markdown(html), case
            checked += 1
        assert checked >= 15


class TestCrawlOrderGoldens:
    @pytest.mark.parametrize("job", [
        "bfs-hostname", "limited", "globbed", "budgeted", "batched"])
    def test_simulator_matches_golden(self, job):
        from simulator import simulate_crawl

        with open(os.path.join(GOLDEN, "crawl", f"{job}.order.json")) as f:
            golden = json.load(f)
        corpus, _ = _corpus()
        sim = simulate_crawl(corpus, golden["seed"], **golden["config"])
        visits = [[v.seq, v.url, v.depth, v.status, v.round]
                  for v in sorted(sim.visits, key=lambda v: v.seq)]
        assert visits == golden["visits"]
        seen = sorted(hashlib.sha256(k.encode()).hexdigest() for k in sim.seen)
        assert seen == golden["seen"]
        assert sim.done == golden["done"]
        assert sim.enqueued == golden["enqueued"]


class TestCanonicalGoldens:
    def test_urls_tsv(self):
        from anycrawl_spark.kernel.canonical import normalize_url

        with open(os.path.join(GOLDEN, "canonical", "urls.tsv")) as f:
            for line in f:
                url, norm, digest = line.rstrip("\n").split("\t")
                assert normalize_url(url) == norm
                assert hashlib.sha256(norm.encode()).hexdigest() == digest

    # port/userinfo/default-port edge cases, then strings urlsplit splits
    # in its own way: bad ports, unsafe characters, removed tab/CR/LF,
    # bracketed and NFKC-delimiter netlocs, schemes outside uses_netloc
    EDGE_URLS = [
        "http://example.com:8080/a/?b=2&a=1",
        "https://user:pw@example.com/x",
        "https://user@example.com:444/x",
        "https://user:@example.com/x",
        "https://:pw@example.com/x",
        "https://u:p:q@h.test:9/x",
        "https://site000.test:443/p/1",
        "http://site000.test:80/p/1",
        "http://site000.test:0080/p/1",
        "http://a.b:8080/p?z=1&a=2",
        "http://a.test:99999999999/x",
        "http://a.test:65536/x",
        "http://a.test:65535/x",
        "http://a.test:/x",
        "http://a.test:8a/x",
        "http://a.test:80:80/x",
        "http://A.test/a b/?q=a|b&p={1}#f^`<>",
        "http://a.test/p%zz/[x]\\y?q=\"1\"",
        " \x00http://a.\ttest/p\r\n/?b=\t1&a=2",
        "http://[::1]:8080/x/",
        "http://[::1/x",
        "http://a\uff0ftest/x",
        "http://user@/x",
        "http://:80/x",
        "http:///x",
        "http://a.test//x//",
        "foo://@//x",
        "foo://@/x",
        "mailto:a@b.test",
        "//a.test/x",
        "a.test/x",
    ]

    def test_jvm_column_matches_python(self, spark):
        """Engine (canonical_url_col) vs Python (normalize_url) cross-check
        over the golden URL set plus the edge cases above."""
        from anycrawl_spark.kernel.canonical import canonical_url_col, normalize_url

        with open(os.path.join(GOLDEN, "canonical", "urls.tsv")) as f:
            urls = [line.split("\t")[0] for line in f if line.strip()]
        urls += self.EDGE_URLS
        df = spark.createDataFrame([(u,) for u in urls], "u string")
        got = df.select("u", canonical_url_col("u").alias("jvm")).collect()
        for row in got:
            assert row["jvm"] == normalize_url(row["u"]), row["u"]
