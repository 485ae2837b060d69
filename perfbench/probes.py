"""Layer probes for the traced run. Each times one layer through the
program's public functions, outside any timed job, on the run's own inputs.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def extract_cpu_ms_per_page(pages: list[tuple[str, str]]) -> float:
    """In-process CPU time of ``extract_page`` per page (after 10 warm-up
    pages), with the scrape job's formats."""
    from anycrawl_spark.kernel.extract import extract_page

    fmts = ("markdown", "text", "links")
    for url, html in pages[:10]:
        extract_page(url, html, formats=fmts)
    t0 = time.process_time()
    for url, html in pages:
        extract_page(url, html, formats=fmts)
    return (time.process_time() - t0) / len(pages) * 1e3


PREFIX_PASSES = 3


def scrape_prefixes(joined, result, out_dir: str) -> dict:
    """The scrape job cut after each layer, each written to a noop sink:
    the fetch join alone (the columns the UDF reads), the join plus an
    identity pandas UDF over them, and the whole result without the
    parquet write; then the full job, parquet write included, into
    ``out_dir``. The cuts run in turn ``PREFIX_PASSES + 1`` times and each
    reports its median: the first pass is dropped, as a job after warm-up
    still runs faster than the one before it."""
    udf_in = joined.select("url", "url_hash", "host", "html")

    def identity(batches):
        yield from batches

    cuts = {
        "join_s": lambda: noop(udf_in),
        "identity_s": lambda: noop(
            udf_in.mapInPandas(identity, schema=udf_in.schema)),
        "extract_s": lambda: noop(result),
        "full_s": lambda: result.write.mode("overwrite").parquet(out_dir),
    }
    times = {k: [] for k in cuts}
    for p in range(PREFIX_PASSES + 1):
        for k, fn in cuts.items():
            dt = timed(fn)
            if p:
                times[k].append(dt)
    return {k: float(np.median(v)) for k, v in times.items()}


def round_stats(metas: list[dict], limit: int) -> dict:
    """Per-round figures from the crawl's committed round meta. The fixed
    and marginal round costs are fitted over the rounds that still ran
    link discovery (fewer than ``limit`` URLs enqueued at their start):
    the rounds after it skip that work whatever they admit."""
    rounds = [m for m in metas if m.get("phase") == "crawl"]
    tim = lambda k: [m["timings"][k] for m in rounds]  # noqa: E731
    prev = {m["round"]: m for m in metas}
    disc = [m for m in rounds if prev[m["round"] - 1]["enqueued"] < limit]
    compute = np.array([m["timings"]["compute"] for m in disc])
    admitted = np.array([m["admitted"] for m in disc], dtype=float)
    if np.ptp(admitted) > 0:
        slope, intercept = np.polyfit(admitted, compute, 1)
    else:
        slope, intercept = 0.0, float(compute.mean())
    # pending at a round's start is the previous meta's pending_next (the
    # seed round records it as `enqueued`)
    pend = [prev[m["round"] - 1].get("pending_next",
                                     prev[m["round"] - 1]["enqueued"])
            for m in rounds]
    deferred = sum(p - m["admitted"] for p, m in zip(pend, rounds))
    return {
        "rounds": len(rounds),
        "compute_p50": float(np.median(tim("compute"))),
        "plan_p50": float(np.median(tim("plan"))),
        "disc_p50": float(np.median(tim("disc"))),
        "counts_p50": float(np.median(tim("counts"))),
        "state_writes_p50": float(np.median(tim("state_writes"))),
        "fixed_s": float(intercept),
        "marginal_ms": float(slope) * 1e3,
        "round_s": [m["timings"]["compute"] + m["timings"]["state_writes"]
                    for m in rounds],
        "deferred_share": deferred / max(1, sum(pend)),
    }


def probe_rounds(metas: list[dict], limit: int, min_seen: int) -> int:
    """Rounds that ran the seen-filter probe: discovery still open
    (enqueued < limit) and the seen set past the probe threshold, both read
    from the meta the round started from."""
    by_round = {m["round"]: m for m in metas}
    return sum(1 for m in metas if m.get("phase") == "crawl"
               and by_round[m["round"] - 1]["enqueued"] < limit
               and by_round[m["round"] - 1]["enqueued"] > min_seen)


def budget_window_s(spark, catalog, budget: int) -> float:
    """``apply_host_budget`` on the middle committed pending snapshot."""
    from anycrawl_spark.crawl import FRONTIER_SCHEMA
    from anycrawl_spark.politeness import apply_host_budget

    rounds = catalog.committed_rounds("pending")
    pending = catalog.read_round(spark, "pending", rounds[len(rounds) // 2],
                                 schema=FRONTIER_SCHEMA).localCheckpoint()

    def run():
        admitted, deferred = apply_host_budget(pending, budget,
                                               order_cols=("depth", "seq"))
        noop(admitted)
        noop(deferred)

    run()                      # first pass compiles the window plan
    return timed(run)


def seen_filter_probes(spark, seen_hashes: list[str], n_new: int,
                       families: dict) -> dict:
    """``filter_new`` of each filter family (name -> SeenFilterFamily, bloom
    first) and ``exact_antijoin`` against a seen set of the crawl's final
    size, over the seen hashes plus ``n_new`` fresh ones; and the Bloom
    false-positive ratio over fresh hashes."""
    from pyspark.sql import functions as F

    from anycrawl_spark.seen import _positions, exact_antijoin

    seen_df = spark.createDataFrame([(h,) for h in seen_hashes],
                                    "url_hash string").localCheckpoint()
    fresh = spark.range(n_new).select(
        F.sha2(F.concat(F.lit("perfbench-new-"), F.col("id").cast("string")),
               256).alias("url_hash"))
    cands = fresh.unionByName(seen_df).localCheckpoint()
    n_cand = n_new + len(seen_hashes)
    out = {}
    noop(exact_antijoin(cands, seen_df))
    out["antijoin_s"] = timed(lambda: noop(exact_antijoin(cands, seen_df)))
    for name, fam in families.items():
        segs = fam.build_driver(seen_hashes)
        noop(fam.filter_new(cands, segs, seen_df))
        out[f"{name}_probe_ns"] = timed(
            lambda: noop(fam.filter_new(cands, segs, seen_df))) / n_cand * 1e9

    bloom = families["bloom"]
    n_buckets, m_bits, k = bloom.geometry
    segs = bloom.build_driver(seen_hashes)
    seen_set = set(seen_hashes)
    probes = [hashlib.sha256(f"perfbench-fp-{i}".encode()).hexdigest()
              for i in range(20_000)]
    probes = [h for h in probes if h not in seen_set]
    hits = 0
    for h in probes:
        bm = segs.get(int(h[:8], 16) % n_buckets)
        if bm is None:
            continue
        arr = np.frombuffer(bm, dtype=np.uint8)
        hits += all((arr[p >> 3] >> (p & 7)) & 1
                    for p in _positions(h, m_bits, k))
    out["fp_ratio"] = hits / len(probes)
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
