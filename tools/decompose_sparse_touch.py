"""Decompose the lifecycle_sparse_touch per-batch cost (PLANS.md #23).

BENCH_STREAMING records the sparse-touch profile (50k dormant fat
tasks + 10k active over ~20 micro-batches) at ~3.2k events/s with a
p50 batch of ~2.7s — 37x below the bucketed dense profile — but no
artifact says WHERE the 2.7s goes. This tool runs a variant ladder
over the SAME spooled input shape and captures Spark's own per-batch
breakdown (StreamingQueryProgress.durationMs + stateOperators), so the
fixed cost separates into:

  stateless_floor  parse -> filter -> noop (no shuffle, no state):
                   micro-batch machinery (file listing, offset/commit
                   log, planning) — the harness floor.
  no_dormant       the full stateful pipeline, dormant=0: state-store
                   + Arrow/pandas protocol cost without the resident
                   fat blob.
  lean_pad0        full counts, pad_len=0: blob RE-SERIALIZATION cost
                   isolated (same touched-shard pattern, ~60-byte task
                   entries instead of ~2 KB).
  full             the recorded profile (50k dormant @2KB, 10k active,
                   LIFECYCLE_BUCKETS = 1024 shards).
  buckets128       full profile, 128 shards: more co-resident tasks
                   per blob but 8x fewer touched groups per batch.

Single-run per variant (the decomposition reads on LARGE ratios and
in-batch component breakdowns, not 1s-level deltas); run on a quiet
box per the bench discipline. Prints one JSON line and writes
DECOMP_SPARSE.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench_streaming import spool_sparse_touch  # noqa: E402  (tools/)

_DUR_KEYS = (
    "triggerExecution", "addBatch", "getBatch", "latestOffset",
    "queryPlanning", "walCommit", "commitOffsets",
)
_STATE_KEYS = (
    "commitTimeMs", "numRowsTotal", "numRowsUpdated", "numRowsRemoved",
    "stateMemory", "numStateStoreInstances",
)


def _pct(xs, f):
    if not xs:
        return None
    xs = sorted(xs)
    return round(xs[min(len(xs) - 1, int(f * len(xs)))], 1)


def _batch_breakdown(q) -> dict:
    """p50/p95 of every durationMs component and, PER STATE OPERATOR
    (the lifecycle pipelines carry one, the applyInPandasWithState
    lifecycle, which also drops redelivered CloudEvent ids), the
    commit/row/memory stats —
    keyed by the operator's reported name."""
    durs: dict[str, list[float]] = {k: [] for k in _DUR_KEYS}
    st: dict[str, dict[str, list[float]]] = {}
    n = 0
    for p in q.recentProgress:
        if not isinstance(p, dict):
            p = json.loads(p.json)
        n += 1
        dm = p.get("durationMs") or {}
        for k in _DUR_KEYS:
            if k in dm:
                durs[k].append(float(dm[k]))
        for idx, op in enumerate(p.get("stateOperators") or []):
            name = f"{idx}_{op.get('operatorName', 'state')}"
            slot = st.setdefault(name, {k: [] for k in _STATE_KEYS})
            for k in _STATE_KEYS:
                v = op.get(k)
                if v is not None:
                    slot[k].append(float(v))
    out = {"n_batches": n}
    for k, xs in durs.items():
        out[f"{k}_p50"] = _pct(xs, 0.5)
        out[f"{k}_p95"] = _pct(xs, 0.95)
    for name, slots in st.items():
        for k, xs in slots.items():
            out[f"state[{name}].{k}_p50"] = _pct(xs, 0.5)
            out[f"state[{name}].{k}_max"] = max(xs) if xs else None
    return out


def main() -> int:
    from pyspark.sql import functions as F

    from twilio_event_streams_reporting_example_spark.session import get_spark
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        LIFECYCLE_BUCKETS,
        conversation_segments_stream,
        parse_stream,
    )

    spark = get_spark("decompose-sparse")
    work = tempfile.mkdtemp(prefix="decomp_sparse_")
    dormant = int(os.environ.get("SPARK_GRAFT_SPARSE_DORMANT", "50000"))
    active = int(os.environ.get("SPARK_GRAFT_SPARSE_ACTIVE", "10000"))
    results: dict[str, dict] = {}

    def source(indir: str):
        return (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 8)
            .load(os.path.join(indir, "b*"))
        )

    def run(name: str, build, indir: str, n_events: int):
        ckpt = os.path.join(work, f"ckpt_{name}")
        out = build(source(indir))
        t0 = time.perf_counter()
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sec = round(time.perf_counter() - t0, 3)
        rec = {
            "sec": sec,
            "events_per_sec": round(n_events / sec, 1),
            **_batch_breakdown(q),
        }
        results[name] = rec
        print(f"-- {name}: {sec}s "
              f"(p50 batch {rec['triggerExecution_p50']}ms, "
              f"addBatch {rec['addBatch_p50']}ms)",
              file=sys.stderr)

    try:
        # one spool per (dormant, pad) shape
        full_dir = os.path.join(work, "in_full")
        n_full = spool_sparse_touch(spark, full_dir, dormant, active, 20)
        lean_dir = os.path.join(work, "in_lean")
        n_lean = spool_sparse_touch(
            spark, lean_dir, dormant, active, 20, pad_len=0
        )
        nod_dir = os.path.join(work, "in_nodormant")
        n_nod = spool_sparse_touch(spark, nod_dir, 0, active, 20)

        run(
            "raw_floor",  # no parse, no shuffle, no state: pure
            # micro-batch machinery (file listing, offset/commit log,
            # planning, one map stage)
            lambda ev: ev.filter(F.col("value").isNotNull()),
            full_dir,
            n_full,
        )
        run(
            "parse_floor",  # + the from_json projection and the
            # watermark (parse_stream): still no state op, so the
            # lifecycle rows below isolate the one state store's cost
            lambda ev: parse_stream(ev).filter(
                F.col("task_sid").isNotNull()
            ),
            full_dir,
            n_full,
        )
        run(
            "no_dormant",
            lambda ev: conversation_segments_stream(
                parse_stream(ev), buckets=LIFECYCLE_BUCKETS
            ),
            nod_dir,
            n_nod,
        )
        run(
            "lean_pad0",
            lambda ev: conversation_segments_stream(
                parse_stream(ev), buckets=LIFECYCLE_BUCKETS
            ),
            lean_dir,
            n_lean,
        )
        run(
            "full",
            lambda ev: conversation_segments_stream(
                parse_stream(ev), buckets=LIFECYCLE_BUCKETS
            ),
            full_dir,
            n_full,
        )
        run(
            "buckets128",
            lambda ev: conversation_segments_stream(
                parse_stream(ev), buckets=128
            ),
            full_dir,
            n_full,
        )
        # amortization proof: the SAME events in ONE availableNow batch
        # (no maxFilesPerTrigger) — if the sparse profile's cost is a
        # per-batch constant, throughput should jump ~n_batches-fold
        def one_batch_source(indir):
            return spark.readStream.format("text").load(
                os.path.join(indir, "b*")
            )

        ckpt = os.path.join(work, "ckpt_one_batch")
        t0 = time.perf_counter()
        q = (
            conversation_segments_stream(
                parse_stream(one_batch_source(full_dir)), buckets=LIFECYCLE_BUCKETS
            )
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sec = round(time.perf_counter() - t0, 3)
        results["one_batch"] = {
            "sec": sec,
            "events_per_sec": round(n_full / sec, 1),
            **_batch_breakdown(q),
        }
        print(f"-- one_batch: {sec}s", file=sys.stderr)

        # per-instance commit-cost proof: same 21-batch profile with 8
        # state partitions instead of 32 (new checkpoint => new state
        # partitioning). If commit cost is per-instance-fixed, the
        # summed commitTimeMs should drop ~4x.
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            run(
                "state_partitions8",
                lambda ev: conversation_segments_stream(
                    parse_stream(ev), buckets=LIFECYCLE_BUCKETS
                ),
                full_dir,
                n_full,
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    payload = {
        "metric": "sparse_touch_decomposition",
        "dormant": dormant,
        "active": active,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "loadavg": list(os.getloadavg()),
        "variants": results,
    }
    with open(os.path.join(REPO, "DECOMP_SPARSE.json"), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
