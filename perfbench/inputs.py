"""Inputs and cached references.

Everything here is deterministic: corpora are fixed (generated once per
checkout and cached on disk), the registry tables are fixture tables kept
in ``data/``, and the per-seed inputs (crawl seed URL, scrape frontier
order, correctness sample) are drawn from ``numpy.random.default_rng(seed)``.
Crawl-simulator references are computed once per input and cached beside
it. Generation time is recorded in the cache and never counted in a metric.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import numpy as np

# Corpora: (pages, hosts, zipf s). The mixed corpus is the scrape input;
# the hot corpus, the crawl's, puts ~92% of pages on one host.
CORPORA = {
    "mixed": (4000, 8, 1.2),
    "hot": (3000, 8, 4.0),
}

def _atomic_dir(final: str, build) -> float:
    """Build ``final`` in a private temp sibling, then rename it into place;
    returns the seconds spent building. A concurrent run that finished
    first wins and this copy is dropped."""
    tmp = f"{final}.tmp{os.getpid()}"
    t0 = time.perf_counter()
    build(tmp)
    seconds = time.perf_counter() - t0
    with open(os.path.join(tmp, "_gen.json"), "w") as f:
        json.dump({"gen_s": seconds}, f)
    try:
        os.rename(tmp, final)
    except OSError:
        if not os.path.exists(os.path.join(final, "_gen.json")):
            raise
        shutil.rmtree(tmp)
    return seconds


def recorded_gen_s(path: str) -> float:
    with open(os.path.join(path, "_gen.json")) as f:
        return json.load(f)["gen_s"]


def ensure_corpus(spark, cache: str, name: str) -> tuple[str, float]:
    """Path of the cached corpus ``name`` and the seconds spent generating
    it in this process (0 when it was already cached)."""
    from anycrawl_spark.corpus import generate_pages

    n, hosts, zipf_s = CORPORA[name]
    path = os.path.join(cache, f"pages_{name}_{n}")
    if os.path.exists(os.path.join(path, "_gen.json")):
        return path, 0.0

    def build(tmp):
        generate_pages(spark, n, num_hosts=hosts, zipf_s=zipf_s).write.parquet(
            os.path.join(tmp, "pages"))

    return path, _atomic_dir(path, build)


def corpus_pages_path(corpus_dir: str) -> str:
    return os.path.join(corpus_dir, "pages")


# -- per-seed inputs ---------------------------------------------------------

def crawl_seed_url(name: str, seed: int) -> str:
    """A leaf page of host 0's link tree, drawn by ``seed``. Leaves sit
    deeper than any crawl here reaches from the root, and the residue
    classes that add a cross-host or thin-page link are excluded, so every
    seed yields the same crawl shape (rounds, pages) from a different URL."""
    from anycrawl_spark.corpus import host_name, host_plan, page_url

    n, hosts, zipf_s = CORPORA[name]
    bounds = host_plan(n, hosts, zipf_s=zipf_s)
    n_host = int(bounds[1] - bounds[0])
    first_leaf = (n_host - 1) // 3 + 1
    cands = [i for i in range(first_leaf, n_host)
             if i % 9 != 4 and i % 20 != 19]
    rng = np.random.default_rng(seed)
    return page_url(host_name(0), int(cands[rng.integers(len(cands))]))


def scrape_frontier(corpus_dir: str, work_dir: str, seed: int) -> str:
    """Every corpus URL in a seed-chosen order, written as the job's input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    urls = pq.read_table(corpus_pages_path(corpus_dir), columns=["url"])["url"]
    order = np.random.default_rng(seed).permutation(len(urls))
    path = os.path.join(work_dir, f"frontier_{seed}")
    os.makedirs(path, exist_ok=True)
    # several files so the scan splits like a real frontier table
    for i, part in enumerate(np.array_split(order, 4)):
        pq.write_table(pa.table({"url": urls.take(pa.array(part))}),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def sample_pages(corpus_dir: str, seed: int, salt: int,
                 k: int = 48) -> list[tuple[str, str]]:
    """``k`` corpus pages (url, html) drawn by ``seed``; ``salt`` keeps the
    correctness sample and the kernel probe's sample apart."""
    import pyarrow.parquet as pq

    t = pq.read_table(corpus_pages_path(corpus_dir), columns=["url", "html"])
    rng = np.random.default_rng([seed, salt])
    idx = sorted(rng.choice(t.num_rows, size=min(k, t.num_rows),
                            replace=False).tolist())
    return [(r["url"], r["html"].decode("utf-8"))
            for r in t.take(idx).to_pylist()]


# -- crawl reference ---------------------------------------------------------

def corpus_dict(corpus_dir: str) -> dict[str, str]:
    import pyarrow.parquet as pq

    from simulator import corpus_to_dict

    rows = pq.read_table(corpus_pages_path(corpus_dir),
                         columns=["url", "html"]).to_pylist()
    return corpus_to_dict(rows)


def crawl_reference(corpus_dir: str, cfg: dict, src_root: str) -> dict:
    """Simulator visit order and seen hashes for one crawl config, cached
    beside the corpus. The cache key covers the config, the seed URL and
    the source of the simulator and of the kernel it shares with the
    engine, so two program versions never share a stale reference."""
    h = hashlib.sha256(json.dumps(cfg, sort_keys=True).encode())
    code = [os.path.join(src_root, "tests", "simulator.py"),
            os.path.join(src_root, "anycrawl_spark", "politeness.py"),
            *sorted(glob.glob(os.path.join(src_root, "anycrawl_spark",
                                           "kernel", "*.py")))]
    for name in code:
        with open(name, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    path = os.path.join(corpus_dir + ".refs", f"sim_{key[:24]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from simulator import simulate_crawl

    sim = simulate_crawl(
        corpus_dict(corpus_dir), cfg["seed_url"], strategy=cfg["strategy"],
        max_depth=cfg["max_depth"], limit=cfg["limit"],
        politeness_budget=cfg["politeness_budget"])
    ref = {
        "visits": [[v.seq, v.url, v.depth, v.status]
                   for v in sorted(sim.visits, key=lambda v: v.seq)],
        "seen": sorted(hashlib.sha256(k.encode()).hexdigest()
                       for k in sim.seen),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, path)
    return ref


# -- registry tables ---------------------------------------------------------

# The documents, events and embeddings tables of the repo's sf0.01 test
# fixture (TESTDATA.md), copied unchanged: the tables the registry leaves
# read and their DuckDB oracles are written against.
REGISTRY_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.01")
