"""Benchmark entry point.

    python3 perfbench/run.py --workload tr_batch --seed 1 --seconds 10 --trace 0

Runs one workload in this process against the package in the checkout
root, prints each metric as ``name value unit`` and, as the last line of
standard output, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same steps with the Spark event log on and reports the
per-layer metrics instead (see README.md for the mapping). Exits non-zero
when an output check fails or an operation fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

import batch
import common
import corpus
import stream
from batch import REPORT_QUERIES

WORKLOADS = {"tr_batch": batch, "tr_stream": stream}
RUN_LIMIT_S = 170

# end-to-end metrics: every workload reports each (README.md says what
# each one measures on each workload)
E2E = [
    "setup_s",
    "throughput_events_per_s",
    "fold_s_p50",
    "op_s_p50",
]

# per-layer metric -> (unit, workload that exercises it; None = all)
LAYERS = {
    "session.get_spark.s": ("s", None),
    "jvm.peak_rss_mb": ("MB", None),
    "plans.taskrouter.ingest_taskrouter.s": ("s", "tr_batch"),
    "plans.taskrouter.segments_from_parsed.s": ("s", "tr_batch"),
    "plans.taskrouter.taskrouter_agents_df.s": ("s", "tr_batch"),
    "sources.sinks.write_event_log.s": ("s", "tr_batch"),
    "sources.sinks.write_segments.s": ("s", "tr_batch"),
    "sources.sinks.write_agents.s": ("s", "tr_batch"),
    "recompute.raw_bytes_read_ratio": ("ratio", "tr_batch"),
    "recompute.shuffle_write_bytes": ("B", "tr_batch"),
    "recompute.spill_bytes": ("B", "tr_batch"),
    "recompute.gc_s": ("s", "tr_batch"),
    "recompute.task_skew": ("ratio", "tr_batch"),
    "sources.incremental.incremental_taskrouter_update.s": ("s", "tr_batch"),
    "merge.bytes_read": ("B", "tr_batch"),
    "merge.event_log_bytes": ("B", "tr_batch"),
    "merge.fact_partitions_rewritten": ("count", "tr_batch"),
    "merge.fact_rows_rewritten_per_changed_row": ("ratio", "tr_batch"),
    **{f"plans.taskrouter_queries.{q}.s": ("s", "tr_batch") for q in REPORT_QUERIES},
    "stream.batch.addBatch_ms": ("ms", "tr_stream"),
    "stream.batch.queryPlanning_ms": ("ms", "tr_stream"),
    "stream.batch.walCommit_ms": ("ms", "tr_stream"),
    "stream.batch.commitOffsets_ms": ("ms", "tr_stream"),
    "stream.batch.latestOffset_ms": ("ms", "tr_stream"),
    "stream.state.commit_ms": ("ms", "tr_stream"),
    "stream.rows_per_batch_p50": ("count", "tr_stream"),
    "stream.state.dedup.rows_total": ("count", "tr_stream"),
    "stream.state.lifecycle.rows_total": ("count", "tr_stream"),
    "stream.state.lifecycle.memory_bytes": ("B", "tr_stream"),
    "stream.lifecycle.python_bytes_received": ("B", "tr_stream"),
    "stream.lifecycle.python_run_ms": ("ms", "tr_stream"),
    "stream.shuffle_write_bytes": ("B", "tr_stream"),
    "stream.state.rows_dropped_by_watermark": ("count", "tr_stream"),
    "stream.backlog_files_at_stop": ("count", "tr_stream"),
    "stream.generator_late_s_max": ("s", "tr_stream"),
    "stream.drain_events_per_s_local1": ("1/s", "tr_stream"),
    # the corpus pass at the end of a traced tr_stream run (corpus.py)
    "operators.corpus_pass_s": ("s", "tr_stream"),
    **{
        f"{span}.{key}": (unit, "tr_stream")
        for span in corpus.SPANS.values()
        for key, unit in (("s", "s"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"))
    },
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(r: common.Run) -> float:
    from twilio_event_streams_reporting_example_spark.session import get_spark

    t0 = time.perf_counter()
    r.spark = get_spark("perfbench")
    return time.perf_counter() - t0


def fold_trace(r: common.Run) -> None:
    """Event-log counters of the traced run (session already stopped)."""
    import eventlog

    groups = eventlog.fold(r.work / "eventlog")
    if r.workload == "tr_batch":
        g = groups.get("recompute", eventlog.Group())
        raw = g.scanned_bytes(r.notes["raw_log_path"]) / r.notes["raw_log_bytes"]
        r.layer_metric("recompute.raw_bytes_read_ratio", raw, "ratio")
        r.layer_metric("recompute.shuffle_write_bytes", g.shuffle_write_bytes, "B")
        r.layer_metric("recompute.spill_bytes", g.spill_bytes, "B")
        r.layer_metric("recompute.gc_s", g.gc_ms / 1000, "s")
        r.layer_metric("recompute.task_skew", g.task_skew(), "ratio")
        r.layer_metric("merge.bytes_read", groups.get("merge", eventlog.Group()).input_bytes, "B")
    else:
        g = groups.get(r.notes.get("drain_run_id", ""), eventlog.Group())
        r.layer_metric("stream.shuffle_write_bytes", g.shuffle_write_bytes, "B")
        # the pandas-state operator leaves "data sent to Python workers" at 0
        for key, unit in (("python_bytes_received", "B"), ("python_run_ms", "ms")):
            r.layer_metric(f"stream.lifecycle.{key}", g.accums.get(key, 0), unit)
        for span in corpus.SPANS.values():
            g = groups.get(span, eventlog.Group())
            r.layer_metric(f"{span}.shuffle_write_bytes", g.shuffle_write_bytes, "B")
            r.layer_metric(f"{span}.spill_bytes", g.spill_bytes, "B")


def local1_drain(r: common.Run) -> None:
    """Single-thread baseline: a fresh local[1] JVM drains the same
    backlog (the first setup rep's spool, which the timed run left
    untouched)."""
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={r.work / 'tmp'} pyspark-shell"
    )
    backlog = r.work / "in-0"
    n = sum(len(open(backlog / f).read().splitlines()) for f in os.listdir(backlog))
    start_session(r)
    try:
        stream.configure(r.spark)
        rate, _ = stream.drain(r.spark, str(backlog), str(r.work / "local1"), 16, n)
        r.layer_metric("stream.drain_events_per_s_local1", rate, "1/s")
    finally:
        common.shutdown_jvm(r.spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (common.ROOT / common.PACKAGE / "__init__.py").is_file():
        print(f"package {common.PACKAGE} not found under {common.ROOT}", file=sys.stderr)
        return 2
    watchdog = threading.Timer(RUN_LIMIT_S, _abort)
    watchdog.daemon = True
    watchdog.start()

    r = common.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    common.prepare_env(r.work, r.trace)
    try:
        with r.span("session.get_spark"):
            session_s = r.attempt(start_session, r)
        if r.spark is None:
            raise RuntimeError("session did not start")
        r.layer_metric("session.get_spark.s", session_s, "s")
        WORKLOADS[args.workload].run(r, session_s)
        if r.trace and args.workload == "tr_stream" and r.failed == 0:
            corpus.run(r)
        r.layer_metric("jvm.peak_rss_mb", common.jvm_peak_rss_mb(), "MB")
    except Exception as exc:
        r.failed += 1
        r.errors.append(f"{type(exc).__name__}: {exc}")
    finally:
        if r.spark is not None:
            common.shutdown_jvm(r.spark)

    if r.trace and r.failed == 0:
        try:
            fold_trace(r)
            if args.workload == "tr_stream":
                local1_drain(r)
        except Exception as exc:
            r.failed += 1
            r.errors.append(f"trace: {type(exc).__name__}: {exc}")
        for name, (unit, owner) in LAYERS.items():
            if owner not in (None, args.workload):
                r.layer_metric(name, 0.0, unit)  # this workload bypasses the layer
        path = r.write_trace(E2E)
        print(f"# spans written to {path.relative_to(common.ROOT)}")

    result = r.result(E2E, list(LAYERS))
    for err in r.errors:
        print(f"# error: {err}")
    for bad in r.check_failures:
        print(f"# check failed: {bad}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    totals: dict[str, float] = {}
    for sp in r.spans:
        key = sp["name"].split(".")[0] if sp["name"].startswith("query.") else sp["name"]
        totals[key] = totals.get(key, 0.0) + sp["end"] - sp["start"]
    print("# span seconds: " + ", ".join(f"{k}={v:.2f}" for k, v in totals.items()))
    for key in ("recompute_s", "merge_samples", "query_samples",
                "report_cpu_s_p90", "report_wall_s_p50", "report_wall_s_p90",
                "loop_steal_share", "latency_samples", "latency_s_p90", "latency_s_p95",
                "fold_samples", "checked_tasks", "emit_lag_batches_max"):
        if key in r.notes:
            print(f"# {key} = {r.notes[key]}")
    shutil.rmtree(r.work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _abort() -> None:
    print(f"run exceeded {RUN_LIMIT_S}s; aborting", file=sys.stderr, flush=True)
    proc = common.jvm_proc()
    if proc is not None:
        proc.kill()
        proc.wait(timeout=30)
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
