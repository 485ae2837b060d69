"""anycrawl-spark benchmark: one workload run in one fresh process.

    python3 perfbench/run.py --workload bulk_scrape --seed 1 --seconds 5 \
        --trace 0 [--source-root DIR]

The run starts its own Spark session sized to the host, loads the
workload's inputs, runs one discarded warm-up job, times a fixed
JVM-only reference job, then runs the workload's job in a closed loop with
one client for ``--seconds``. It checks the output against its reference
outside any timed region and prints one JSON object as its last line of
standard output:

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
- ``--trace 1``: the per-layer metrics, from a run with the Spark event log
  on, spans around every benchmark call, and the layer probes; the spans
  and the run's record go to ``.perfbench_cache/traces/``. Before and after
  its timed jobs it runs one job with the event log detached and no spans,
  so ``trace.overhead_share`` compares jobs timed in the same window.

``--source-root`` names the checkout whose ``anycrawl_spark`` is measured
(default: the checkout holding this file), so identical benchmark files can
time two versions of the program (see ab.py). A layer a workload does not
exercise reports 0.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REF_JOB_ROWS = 300_000_000


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def reference_job(spark) -> float:
    """Fixed JVM-only job (no Python workers, no disk): its time moves only
    with host contention, so it tells drift apart from code changes."""
    t0 = time.perf_counter()
    spark.range(REF_JOB_ROWS).selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    return time.perf_counter() - t0


def untraced_job(spark, ctx, wl, index: int) -> float:
    """Time one job with no spans and the event log detached, as it runs in
    an untraced run."""
    from tracing import event_log_paused

    tracer, ctx.tracer = ctx.tracer, None
    with event_log_paused(spark):
        t0 = time.perf_counter()
        wl.job(ctx, index)
        dt = time.perf_counter() - t0
    ctx.tracer = tracer
    wl.after_job(ctx)
    return dt


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--source-root", default=ROOT)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    src = os.path.abspath(args.source_root)
    if not os.path.isfile(os.path.join(src, "anycrawl_spark", "crawl.py")):
        print(f"no anycrawl_spark package under {src}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [src, os.path.join(src, "tests"), os.path.join(src, "tools"),
                    HERE]

    from hostspark import RssSampler, host_cores, start_session, stop_session
    from inputs import recorded_gen_s
    from tracing import EventLog, Tracer, event_log_layers
    from workloads import WORKLOADS, Ctx

    cache = os.path.join(ROOT, ".perfbench_cache")
    trace_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(cache, "runs", trace_id)
    ev_dir = os.path.join(work, "eventlog") if args.trace else None
    tracer = Tracer(trace_id)
    spark = None
    try:
        # the memory sampler polls /proc, so it runs only when tracing
        rss = RssSampler() if args.trace else contextlib.nullcontext()
        with rss:
            spark, conf = start_session(src, work, ev_dir)
            session_s = process_age()
            tracer.add("session", time.time() - session_s, time.time())
            ctx = Ctx(spark, src, cache, work, args.seed, host_cores(),
                      tracer if args.trace else None)
            wl = WORKLOADS[args.workload]()

            with ctx.span("prepare"):
                t0 = time.perf_counter()
                wl.prepare(ctx)
                prep_s = time.perf_counter() - t0 - ctx.gen_s
            with ctx.span("warmup"):
                t0 = time.perf_counter()
                wl.warmup(ctx)
                warm_s = time.perf_counter() - t0
            # from process start until the first timed job can start,
            # less corpus generation (cached on disk, never counted)
            setup_s = process_age() - ctx.gen_s

            with ctx.span("reference_job"):
                ref_s = reference_job(spark)

            # trace.overhead_share compares the traced jobs with untraced
            # ones in this same window, one before and one after them:
            # each job after warm-up runs faster than the one before
            index = itertools.count()
            untraced_s = ([untraced_job(spark, ctx, wl, next(index))]
                          if args.trace else [])
            job_s, rates, job_spans = [], [], []
            t_end = time.perf_counter() + args.seconds
            while True:
                i = next(index)
                with ctx.span("job", index=i) as sp:
                    t0 = time.perf_counter()
                    items = wl.job(ctx, i)
                    dt = time.perf_counter() - t0
                job_s.append(dt)
                rates.append(items / dt)
                if args.trace:
                    job_spans.append(sp)
                    if hasattr(wl, "round_spans"):
                        wl.round_spans(tracer, sp)
                if time.perf_counter() >= t_end:
                    break
                wl.after_job(ctx)
            if args.trace:
                untraced_s.append(untraced_job(spark, ctx, wl, next(index)))
            job_med = statistics.median(job_s)

            with ctx.span("check"):
                attempted, failed, note = wl.check(ctx)

            layers = {}
            if args.trace:
                with ctx.span("layer_probes"):
                    layers = wl.layers(ctx, job_med)
            stop_session(spark)
            spark = None

        e2e = {"job_s": job_med, "items_per_s": statistics.median(rates),
               "setup_s": setup_s}
        info = {"jobs": len(job_s), "job_s_all": job_s, "ref_job_s": ref_s,
                "untraced_job_s": untraced_s,
                "session_s": session_s, "prepare_s": prep_s,
                "warmup_s": warm_s, "gen_s_now": ctx.gen_s,
                "attempted": attempted, "failed": failed, "note": note,
                "config": conf}
        if args.trace:
            layers.update(event_log_layers(
                EventLog(ev_dir), job_spans, tracer, ctx.cores,
                layers.get("crawl.rounds", 0)))
            layers.update({
                "host.ref_job_s": ref_s,
                "host.peak_rss_mb": rss.peak_kb / 1024,
                "setup.session_s": session_s,
                "setup.corpus_gen_s":
                    recorded_gen_s(wl.gen_dir) if wl.gen_dir else 0.0,
                "trace.overhead_share":
                    job_med / statistics.mean(untraced_s),
            })
        declared = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {m["name"]: {"value": 0.0, "unit": m["unit"]} for m in declared}
        values = layers if args.trace else e2e
        undeclared = set(values) - set(metrics)
        if undeclared:
            raise KeyError(f"metrics missing from BENCHMARK.json: {undeclared}")
        for k, v in values.items():
            metrics[k]["value"] = float(v)
        if args.trace:
            tracer.write(os.path.join(cache, "traces", trace_id + ".json"))
            with open(os.path.join(cache, "traces", trace_id + ".record.json"),
                      "w") as f:
                json.dump({"e2e": e2e, "layers": layers, "info": info}, f)
        print(json.dumps({k: v for k, v in info.items() if k != "config"}),
              file=sys.stderr)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    except Exception:                               # noqa: BLE001
        traceback.print_exc()
        if spark is not None:
            stop_session(spark)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
