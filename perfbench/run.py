#!/usr/bin/env python3
"""librarian_spark benchmark.

    python3 perfbench/run.py --workload {snapshot,replicate,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Each run sets up its own session
(``session.get_spark`` at ``local[2]``), generates its inputs from the
seed, measures the workload for about ``--seconds``, checks every output
outside the timed region and prints a human-readable report followed by one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
runs the timed region twice on identical inputs — untraced, then with spans
around the calls into each layer — and reports the per-layer metrics of the
traced pass plus the tracing overhead. See ``BENCHMARK.json`` for units, directions and
bounds, and ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the checkout root: perfbench + the program

from perfbench import harness  # noqa: E402

WORKLOADS = ("snapshot", "replicate", "query_mix")

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


def _workload(name: str, run, seed: int):
    if name == "snapshot":
        from perfbench.wl_snapshot import SnapshotWorkload

        return SnapshotWorkload(run, seed)
    if name == "replicate":
        from perfbench.wl_replicate import ReplicateWorkload

        return ReplicateWorkload(run, seed)
    from perfbench.wl_query_mix import QueryMixWorkload

    return QueryMixWorkload(run, seed)


def main(argv=None) -> int:
    t_proc = harness.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "librarian_spark", "session.py")):
        harness.fail("run from the root of a librarian_spark checkout "
                     "(librarian_spark/ not found here)")
    sys.path.insert(0, root)

    from perfbench import layers
    from perfbench.tracing import SparkCounters, Tracer, progress_listener

    run = harness.RunDir(root, f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    tracer = Tracer() if args.trace else None
    try:
        if tracer is not None:
            import librarian_spark.session as session_mod

            tracer.wrap(session_mod, "get_spark", "session.get_spark")
        spark = harness.start_spark(run)
        setup_s = time.time() - t_proc
        jvm = harness.jvm_pid()

        wl = _workload(args.workload, run, args.seed)
        phases = [("setup", setup_s)]
        t0 = time.perf_counter()
        wl.prepare(spark)
        phases.append(("prepare", time.perf_counter() - t0))
        t0 = time.perf_counter()
        res = wl.measure(spark, args.seconds, "untraced")
        phases.append(("measure", time.perf_counter() - t0))
        results = [res]
        if tracer is not None:
            # a traced pass on the same inputs; the overhead compares it with
            # the untraced pass before it
            counters = SparkCounters(spark)
            _, progress = progress_listener(spark)
            layers.install(tracer)
            marks = []  # counters where the timed region starts
            tracer.on_mark = lambda: marks.append(counters.snapshot())
            t0 = time.perf_counter()
            res_t = wl.measure(spark, args.seconds, "traced", tracer)
            wall_t = time.perf_counter() - t0
            c0, c1 = marks[-1], counters.snapshot()
            tracer.unwrap_all()
            results.append(res_t)

        t0 = time.perf_counter()
        attempted = failed = 0
        for r in results:
            a, f, notes = wl.verify(r)
            attempted, failed = attempted + a, failed + f
            for n in notes[:20]:
                harness.report(f"CHECK FAILED: {n}")

        phases.append(("verify", time.perf_counter() - t0))
        e2e, named = wl.e2e(res)
        e2e = {"setup_s": setup_s, **e2e}
        # peak memory is reported, and traced as a layer metric, but not
        # bounded: JVM heap growth follows GC timing, and its run-to-run
        # spread reaches the largest bound the benchmark may set
        peak_rss = harness.peak_rss_mb([os.getpid(), jvm])
        named["peak_rss_mb"] = (peak_rss, "MB", "VmHWM, driver JVM + Python")
        harness.report(f"workload {args.workload} seed {args.seed} "
                       f"master {spark.sparkContext.master} checks {attempted - failed}/{attempted}")
        harness.report("  phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases))
        for k, (v, unit, note) in named.items():
            harness.report(f"  {k:<34} {v:>14.6g} {unit:<8} {note}")
        if tracer is None:
            metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        else:
            untraced = e2e["throughput_per_s"]
            traced = wl.e2e(res_t)[0]["throughput_per_s"]
            per_layer, table = layers.collect(
                args.workload, wl, res_t, tracer, SparkCounters.diff(c0, c1),
                progress, wall_t, 100.0 * (untraced / traced - 1.0), peak_rss)
            harness.report("per-layer (traced pass):")
            for line in table:
                harness.report("  " + line)
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in per_layer.items()}
            trace_dir = os.path.join(root, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl"))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        run.remove()


if __name__ == "__main__":
    sys.exit(main())
