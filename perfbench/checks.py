"""Correctness checks: compare a workload's output with its reference.

Pure functions over collected rows, so they are testable without Spark.
Each returns ``(attempted, failed, note)``: ``attempted`` counts the
individual comparisons made, ``failed`` those that disagreed, and ``note``
describes the first disagreement (empty when none).
"""

from __future__ import annotations

SCRAPE_FIELDS = ("status", "title", "markdown", "text", "n_links")


def expected_scrape_row(url: str, html: str) -> dict:
    """The row the scrape job must write for ``url`` (a corpus page),
    computed in-process with the extraction kernel."""
    from anycrawl_spark.kernel.extract import extract_page

    doc = extract_page(url, html, formats=("markdown", "text", "links"))
    return {"status": 200, "title": doc["title"], "markdown": doc["markdown"],
            "text": doc["text"], "n_links": len(doc["links"])}


def check_scrape(got: dict[str, dict], expected: dict[str, dict]):
    """One comparison per sampled URL: every field of its output row."""
    failed, note = 0, ""
    for url, want in expected.items():
        row = got.get(url)
        bad = ("missing row" if row is None else
               next((f for f in SCRAPE_FIELDS if row.get(f) != want[f]), None))
        if bad:
            failed += 1
            note = note or f"{url}: {bad}"
    return len(expected), failed, note


def check_crawl(visits: list, seen: set[str], ref: dict):
    """One comparison per visit position (seq, url, depth, status) and one
    per hash in the union of the engine's and the simulator's seen sets."""
    want = [tuple(v) for v in ref["visits"]]
    got = [tuple(v) for v in visits]
    n_pos = max(len(want), len(got))
    bad_pos = [i for i in range(n_pos)
               if i >= len(want) or i >= len(got) or got[i] != want[i]]
    ref_seen = set(ref["seen"])
    union = seen | ref_seen
    bad_seen = union - (seen & ref_seen)
    note = ""
    if bad_pos:
        i = bad_pos[0]
        note = (f"visit {i}: got {got[i] if i < len(got) else None} "
                f"want {want[i] if i < len(want) else None}")
    elif bad_seen:
        note = f"{len(bad_seen)} seen hashes differ"
    return n_pos + len(union), len(bad_pos) + len(bad_seen), note


def check_leaves(results: dict[str, tuple[bool, str]]):
    """One comparison per registry leaf (oracle agreement)."""
    bad = {k: msg for k, (ok, msg) in results.items() if not ok}
    note = "; ".join(f"{k}: {m}" for k, m in sorted(bad.items()))[:300]
    return len(results), len(bad), note
