"""The correctness gate must count a corrupted output as failed.

    python3 -m pytest perfbench/test_checks.py -q

Runs without Spark: the checks compare collected rows with references.
"""

import copy
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import (  # noqa: E402
    check_crawl, check_leaves, check_scrape, expected_scrape_row)

PAGE = ("<html><head><title>T</title></head><body><main><p>"
        + "word " * 40 + '</p><a href="/p/1">one</a></main></body></html>')


def scrape_pair():
    urls = [f"https://site000.test/p/{i}" for i in range(3)]
    expected = {u: expected_scrape_row(u, PAGE) for u in urls}
    return copy.deepcopy(expected), expected


def crawl_pair():
    ref = {"visits": [[0, "https://a.test/", 0, 200],
                      [1, "https://a.test/p/1", 1, 200],
                      [2, "https://a.test/p/2", 1, 404]],
           "seen": ["h0", "h1", "h2"]}
    return [tuple(v) for v in ref["visits"]], set(ref["seen"]), ref


def test_scrape_clean_output_passes():
    got, expected = scrape_pair()
    assert check_scrape(got, expected)[:2] == (3, 0)


def test_scrape_corrupted_text_fails():
    got, expected = scrape_pair()
    got["https://site000.test/p/1"]["text"] += " corrupted"
    attempted, failed, note = check_scrape(got, expected)
    assert (attempted, failed) == (3, 1) and "text" in note


def test_scrape_missing_row_fails():
    got, expected = scrape_pair()
    del got["https://site000.test/p/2"]
    assert check_scrape(got, expected)[1] == 1


def test_crawl_clean_output_passes():
    visits, seen, ref = crawl_pair()
    assert check_crawl(visits, seen, ref)[:2] == (6, 0)


def test_crawl_reordered_visits_fail():
    visits, seen, ref = crawl_pair()
    visits[1], visits[2] = visits[2], visits[1]
    attempted, failed, _ = check_crawl(visits, seen, ref)
    assert failed == 2 and attempted == 6


def test_crawl_truncated_visits_and_extra_seen_fail():
    visits, seen, ref = crawl_pair()
    attempted, failed, _ = check_crawl(visits[:2], seen | {"h9"}, ref)
    # one missing visit position + one hash the reference never saw
    assert (attempted, failed) == (7, 2)


def test_leaf_mismatch_fails():
    results = {"a": (True, "5 rows match"), "b": (False, "row count 4 vs 5")}
    attempted, failed, note = check_leaves(results)
    assert (attempted, failed) == (2, 1) and "b:" in note
