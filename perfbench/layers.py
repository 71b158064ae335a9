"""Per-layer metrics of the traced pass.

``install`` wraps the public calls the workloads make into each layer, so
every call becomes a span. ``collect`` turns spans, streaming progress and
Spark counters into the per-layer metrics listed in ``BENCHMARK.json``.

Every metric is reported on every workload; a layer a workload does not
exercise reads 0 there. Busy times are absolute seconds summed over the
spans that start in the timed region of the traced pass (``Tracer.mark_timed``),
so warm-ups before it do not count, and one layer's figure does
not move when another layer gets faster. The timed region repeats whole
rounds (snapshot) or passes (query_mix) until its time is spent, so busy
times and Spark counters are per round or per pass there. The one-time start-up spans
(``session.get_spark``, ``sources.slot_start``, ``streaming.replicate.start``)
precede the timed region and are summed over the whole pass.
"""

from __future__ import annotations

import json
import os
import time

from perfbench.harness import median, percentile

# (span name, owner module, attribute path)
_WRAPS = [
    ("config.load", "librarian_spark.config", "load_config_str"),
    ("snapshot.run", "librarian_spark.snapshot", "Snapshotter.run"),
    ("snapshot.read_source", "librarian_spark.snapshot", "Snapshotter.read_source"),
    ("snapshot.write", "librarian_spark.snapshot", "Snapshotter.write"),
    ("catalog.write", "librarian_spark.snapshot", "write_catalog"),
    ("sources.slot_start", "librarian_spark.streaming.live", "PgCdcTailer.connect"),
    ("sources.segment_write", "librarian_spark.sources.pgoutput", "write_segment"),
    ("sources.fsync", "librarian_spark.sources.recorders", "fsync_file_and_dir"),
    ("sources.ack", "librarian_spark.sources.pgrepl_client", "ReplicationSlotClient.commit_ack"),
    ("streaming.replicate.start", "librarian_spark.streaming.replicate", "Replicator.start"),
    ("streaming.envelope.parse", "librarian_spark.streaming.envelope", "parse_envelope"),
    ("streaming.materialize.start", "librarian_spark.streaming.materialize", "materialize"),
]

# name → unit, in report order
METRICS = {
    "session.get_spark_s": "s",
    "process.peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm.gc_s": "s",
    "trace.overhead_pct": "%",
    "snapshot.write_s": "s",
    "snapshot.read_source_s": "s",
    "snapshot.run_self_s": "s",
    "catalog.write_s": "s",
    "snapshot.files_per_snapshot": "count",
    "snapshot.spark_jobs_per_snapshot": "count",
    "snapshot.bytes_per_row": "B/row",
    "sources.slot_start_s": "s",
    "sources.recorder_busy_s": "s",
    "sources.segments_written": "count",
    "sources.acks_sent": "count",
    "streaming.replicate.start_s": "s",
    "streaming.replicate.batches": "count",
    "streaming.replicate.segments_per_batch": "count",
    "streaming.replicate.add_batch_ms_p50": "ms",
    "streaming.replicate.ms_per_segment": "ms",
    "streaming.replicate.latest_offset_ms": "ms",
    "streaming.replicate.wal_commit_ms": "ms",
    "streaming.replicate.sink_files": "count",
    "streaming.replicate.backlog_max_events": "count",
    "streaming.materialize.batches": "count",
    "streaming.materialize.add_batch_ms_p50": "ms",
    "streaming.materialize.state_rows": "count",
    "streaming.materialize.state_bytes_written": "B",
    "streaming.materialize.events_per_s": "1/s",
    "operators.relational_s": "s",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "operators.text_s": "s",
    "operators.build_s": "s",
    "operators.execute_s": "s",
    "operators.spark_jobs_per_query": "count",
    "loadgen.events_offered": "count",
    "loadgen.late_p99_s": "s",
}


def install(tracer) -> None:
    import importlib

    for span, mod_name, path in _WRAPS:
        owner = importlib.import_module(mod_name)
        *parents, attr = path.split(".")
        for p in parents:
            owner = getattr(owner, p)
        tracer.wrap(owner, attr, span)


def _offset(o) -> int:
    return int(json.loads(o)["nfiles"]) if o else 0


def collect(workload, wl, res, tracer, spark_diff: dict, progress: list[dict],
            wall: float, overhead_pct: float, peak_rss_mb: float):
    """Per-layer metrics {name: (value, unit)} and the printable table."""
    time.sleep(1.0)  # let the listener bus deliver the last progress events
    m = {name: 0.0 for name in METRICS}
    m["session.get_spark_s"] = tracer.total("session.get_spark", timed=False)
    m["process.peak_rss_mb"] = peak_rss_mb
    # timed rounds (snapshot) or passes (query_mix); replicate's timed
    # region has a fixed size
    units = {"snapshot": res.get("rounds"), "query_mix": len(res.get("passes", ()))}.get(workload) or 1
    m["spark.jobs"] = spark_diff["jobs"] / units
    m["spark.stages"] = spark_diff["stages"] / units
    m["spark.tasks"] = spark_diff["tasks"] / units
    m["jvm.gc_s"] = spark_diff["gc_s"] / units
    m["trace.overhead_pct"] = overhead_pct

    if workload == "snapshot":
        timed = [j for j in res["jobs"] if j["timed"]]
        full = [j for j in timed if j["kind"] == "full"]
        m["snapshot.write_s"] = tracer.total("snapshot.write") / units
        m["snapshot.read_source_s"] = tracer.total("snapshot.read_source") / units
        m["snapshot.run_self_s"] = tracer.self_time("snapshot.run") / units
        m["catalog.write_s"] = tracer.total("catalog.write") / units
        m["snapshot.files_per_snapshot"] = sum(
            len([f for f in os.listdir(j["out"]) if f.endswith(".parquet")]) for j in full
        ) / len(full)
        m["snapshot.spark_jobs_per_snapshot"] = spark_diff["jobs"] / len(timed)
        m["snapshot.bytes_per_row"] = wl.output_bytes_per_row(res)
    elif workload == "replicate":
        from perfbench.wl_replicate import sink_batch_commits

        # data micro-batches triggered in the timed region
        since = tracer.t_timed_epoch
        rep = [p for p in progress if p["id"] == res["query_ids"]["replicate"]
               and p["rows"] and p["epoch"] >= since]
        app = [p for p in progress if p["id"] == res["query_ids"]["apply"] and p["rows"]]
        m["sources.slot_start_s"] = tracer.total("sources.slot_start", timed=False)
        m["sources.recorder_busy_s"] = (
            tracer.total("sources.segment_write") + tracer.total("sources.fsync")
            + tracer.total("sources.ack"))
        m["sources.segments_written"] = tracer.count("sources.segment_write")
        m["sources.acks_sent"] = tracer.count("sources.ack")
        m["streaming.replicate.start_s"] = tracer.total("streaming.replicate.start", timed=False)
        m["streaming.replicate.batches"] = len(rep)
        if rep:
            segs = [_offset(p["sources"][0]["end"]) - _offset(p["sources"][0]["start"])
                    for p in rep]
            add = [p["duration_ms"].get("addBatch", 0) for p in rep]
            m["streaming.replicate.segments_per_batch"] = median(segs)
            m["streaming.replicate.add_batch_ms_p50"] = median(add)
            m["streaming.replicate.ms_per_segment"] = sum(add) / max(1, sum(segs))
            m["streaming.replicate.latest_offset_ms"] = median(
                [p["duration_ms"].get("latestOffset", 0) for p in rep])
            m["streaming.replicate.wal_commit_ms"] = median(
                [p["duration_ms"].get("walCommit", 0) for p in rep])
            m["streaming.replicate.backlog_max_events"] = max(p["rows"] for p in rep)
        m["streaming.replicate.sink_files"] = len(
            [f for f, t in sink_batch_commits(res["archive"]).items() if t >= since])
        m["streaming.materialize.batches"] = len(app)
        if app:
            m["streaming.materialize.add_batch_ms_p50"] = median(
                [p["duration_ms"].get("addBatch", 0) for p in app])
        m["streaming.materialize.state_rows"] = res["apply"]["state_rows"]
        m["streaming.materialize.state_bytes_written"] = sum(
            res["apply"]["state_versions"].values())
        m["streaming.materialize.events_per_s"] = res["apply"]["rate"]
        m["loadgen.events_offered"] = sum(
            len(t.events) for t in sum(res["backlog"], []) + res["live"])
        m["loadgen.late_p99_s"] = percentile(res["late"], 99)
    else:
        n_q = len(res["lat"])
        for fam in ("relational", "dedup", "similarity", "text"):
            m[f"operators.{fam}_s"] = tracer.total(f"operators.{fam}") / units
        m["operators.build_s"] = tracer.total("operators.build") / units
        m["operators.execute_s"] = tracer.total("operators.execute") / units
        m["operators.spark_jobs_per_query"] = spark_diff["jobs"] / max(1, n_q)

    table = [f"{name:<42} {m[name]:>14.6g} {unit}" for name, unit in METRICS.items()]
    table.append(f"traced pass wall {wall:.3f} s, {len(tracer.spans)} spans; span totals: "
                 "whole pass (s), timed region (s), its self time (s), its share of the wall")
    for name in sorted({s.name for s in tracer.spans}):
        tot = tracer.total(name)
        table.append(f"  {name:<40} {tracer.total(name, timed=False):10.4f} {tot:10.4f}"
                     f" {tracer.self_time(name):10.4f} {100.0 * tot / wall:6.1f} %"
                     f"  n={tracer.count(name)}")
    return {k: (v, METRICS[k]) for k, v in m.items()}, table
