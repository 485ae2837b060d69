"""Pure-Python crawl simulator — the golden oracle for crawl ordering and
URL-seen membership (FIXTURES.md §6.3, SURVEY.md §5.2 item 2).

Implements the specified crawl semantics (FIFO-BFS with enqueue-time dedup,
strategy/path/depth filters, robots, per-host budget, enqueue cap) as a
sequential in-memory loop, sharing only the extraction kernel with the Spark
engine. The Spark engine's distributed round loop must reproduce this
simulator's visit order and seen set exactly.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from anycrawl_spark.kernel.canonical import (
    base_domain_of,
    host_of,
    normalize_url,
    origin_of,
    split_url,
)
from anycrawl_spark.kernel.extract import extract_page
from anycrawl_spark.politeness import compile_path_patterns


def key_of(url: str) -> str:
    return normalize_url(url).split("#", 1)[0]


@dataclass
class SimVisit:
    seq: int
    url: str
    depth: int
    status: int
    round: int


@dataclass
class SimResult:
    visits: list[SimVisit] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    enqueued: int = 0
    done: int = 0
    failed: int = 0
    rounds: int = 0


def _passes_paths(url: str, include: list[str], exclude: list[str]) -> bool:
    inc = [re.compile(p) for p in compile_path_patterns(include)]
    exc = [re.compile(p) for p in compile_path_patterns(exclude)]
    if any(rx.search(url) for rx in exc):
        return False
    if inc and not any(rx.search(url) for rx in inc):
        return False
    return True


def _passes_strategy(url: str, seed_url: str, strategy: str) -> bool:
    h, sh = host_of(url), host_of(seed_url)
    if strategy == "same-hostname":
        return h == sh
    if strategy == "same-domain":
        return base_domain_of(h) == base_domain_of(sh)
    if strategy == "same-origin":
        return origin_of(url) == origin_of(seed_url)
    return True


def robots_path(url: str) -> str:
    """The path robots rules test: that of the URL's canonical key, '/'
    when empty or when the URL does not split."""
    try:
        return split_url(normalize_url(url)).path or "/"
    except ValueError:
        return "/"


def _robots_denied(url: str, robots: dict[str, list[str]] | None) -> bool:
    if robots is None:
        return False
    path = robots_path(url)
    return any(path.startswith(p) for p in robots.get(host_of(url), []))


def simulate_crawl(
    corpus: dict[str, str],         # canonical-key → raw html
    seed_url: str,
    *,
    strategy: str = "same-domain",
    max_depth: int = 10,
    limit: int = 100,
    include_paths: list[str] | None = None,
    exclude_paths: list[str] | None = None,
    politeness_budget: int = 0,
    budget_scope: str = "host",
    batch_size: int = 0,
    robots: dict[str, list[str]] | None = None,
) -> SimResult:
    include_paths = include_paths or []
    exclude_paths = exclude_paths or []
    res = SimResult()

    if _robots_denied(seed_url, robots):
        return res

    seed_key = key_of(seed_url)
    pending: list[tuple[int, str, int]] = [(0, seed_url, 0)]  # (seq, url, depth)
    res.seen = {seed_key}
    res.enqueued = 1
    round_no = 0

    while pending and res.done < limit:
        round_no += 1
        # per-host budget: first `budget` rows per host in (depth, seq) order
        admitted: list[tuple[int, str, int]] = []
        deferred: list[tuple[int, str, int]] = []
        host_counts: dict[str, int] = {}
        for seq, url, depth in sorted(pending, key=lambda t: (t[2], t[0])):
            h = host_of(normalize_url(url))
            if budget_scope == "domain":
                h = base_domain_of(h)
            if politeness_budget and host_counts.get(h, 0) >= politeness_budget:
                deferred.append((seq, url, depth))
                continue
            host_counts[h] = host_counts.get(h, 0) + 1
            admitted.append((seq, url, depth))
        if batch_size:
            admitted.sort(key=lambda t: t[0])
            deferred += admitted[batch_size:]
            admitted = admitted[:batch_size]

        discoveries: list[tuple[int, int, str, int]] = []  # (parent_seq, pos, url, child_depth)
        for seq, url, depth in sorted(admitted, key=lambda t: t[0]):
            html = corpus.get(key_of(url))
            status = 200 if html is not None else 404
            res.visits.append(SimVisit(seq, url, depth, status, round_no))
            res.done += 1
            if status != 200:
                res.failed += 1
                continue
            if depth < max_depth:
                doc = extract_page(url, html, formats=("links",))
                for pos, link in enumerate(doc["links"]):
                    discoveries.append((seq, pos, link, depth + 1))

        if res.enqueued < limit:
            for parent_seq, pos, link, child_depth in sorted(discoveries):
                if res.enqueued >= limit:
                    break
                if not link.startswith("http"):
                    continue
                if not _passes_strategy(link, seed_url, strategy):
                    continue
                if not _passes_paths(link, include_paths, exclude_paths):
                    continue
                if _robots_denied(link, robots):
                    continue
                k = key_of(link)
                if k in res.seen:
                    continue
                res.seen.add(k)
                pending_seq = res.enqueued
                res.enqueued += 1
                deferred.append((pending_seq, link, child_depth))

        pending = deferred

    res.rounds = round_no
    return res


def corpus_to_dict(rows) -> dict[str, str]:
    """rows of (url, html bytes) → canonical-key → html str."""
    return {
        key_of(r["url"]): (
            r["html"].decode("utf-8") if isinstance(r["html"], (bytes, bytearray)) else r["html"]
        )
        for r in rows
    }
