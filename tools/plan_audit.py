"""Automated 100x-scale plan audit over every benched query.

Each round's judge audit walks the physical plans of the heavy queries
by hand, looking for the three anti-patterns that turn a correct
local[32] result into a 100 TB incident:

  - ``CartesianProduct``        — an all-pairs join that was supposed to
                                  be blocked/bucketed;
  - ``BroadcastNestedLoopJoin`` — acceptable ONLY when the broadcast
                                  side is a deliberately tiny frame
                                  (a 1-row sketch certificate, an 8-row
                                  query batch, a 16-row centroid table);
                                  anywhere else it means an equi-join
                                  degenerated;
  - ``BatchEvalPython``         — a row-at-a-time Python UDF on a data
                                  path (the sanctioned Python escapes are
                                  Arrow-batched: ArrowEvalPython,
                                  MapInPandas, FlatMapGroupsInPandas);
  - an unpruned scan            — a parquet scan reading the FULL
                                  schema of a wide table (a dropped
                                  ``.select`` costs milliseconds at
                                  sf0.1 and a full-table read at
                                  100 TB); see ``collect_scans``.

This tool makes that audit a committed, reproducible artifact instead
of a per-round manual sweep: it builds every ``spec.bench`` query at a
small SF (plan shape, not data volume, is what's audited — the same
choice tests/test_plans.py makes; measured identical violation-axis
counters at sf0.001 and sf0.1), scans the executed-plan string against
the rule set, does the same for every UNSTARTED streaming pipeline's
physical plan (rate-source inputs — see ``streaming_plans``), and
writes ``PLAN_AUDIT.json`` at the repo root with per-query counters,
every allowlisted hit WITH its recorded justification, and a flat
``violations`` list. Exit is non-zero on any violation, so it can gate
a snapshot exactly like tools/pre_snapshot_gate.py.

The allowlist is name-scoped and justified: each entry names the tiny
broadcast side and, where one exists, the shape test that pins the
plan. A BroadcastNestedLoopJoin appearing in a query NOT listed here —
or ANY CartesianProduct / BatchEvalPython — is a violation. Detection
power is proven by tests/test_plan_audit.py's negative controls (a
live cartesian join, a live row-at-a-time F.udf, a live non-allowlisted
BNLJ all get flagged).

Usage:  python tools/plan_audit.py [sf_dir] [--no-artifact]
Exit:   0 = no violations (artifact written); 1 = violations found.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# ------------------------------------------------------------ rule set

# Node names counted per query. "informational" counters carry no
# verdict — exchanges exist wherever a groupBy/join shuffles, and the
# Arrow-batched Python escapes are the sanctioned slow path — but the
# per-query counts make round-over-round plan drift diffable.
VIOLATION_NODES = ("CartesianProduct", "BatchEvalPython")
GATED_NODE = "BroadcastNestedLoopJoin"
# Counts are textual occurrences in the pre-execution plan string:
# "Exchange" also matches ReusedExchange markers and iterative
# operators repeat subtrees per round — useful as a DRIFT signal, not
# an absolute shuffle count. WholeStageCodegen is deliberately absent:
# AQE initial plans (isFinalPlan=false) carry no WSCG spans, so the
# counter would read 0 everywhere; codegen presence on the hot path is
# pinned by tests/test_plans.py::test_whole_stage_codegen_on_hot_path
# against executed plans instead.
INFO_NODES = (
    "Exchange",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "SortMergeJoin",
    "BroadcastHashJoin",
    # streaming stateful operators — exactly one per lifecycle plan is
    # the designed shape (Spark rejects two applyInPandasWithStates in
    # one query anyway); the counters make that pinnable from the
    # artifact. StateStoreSave/SessionWindowStateStoreSave are the
    # built-in streaming-agg state nodes (hourly windows, sessions);
    # StreamingDeduplicateWithinWatermark is the CloudEvent-id dedup,
    # which the conversation lifecycle does in its own state.
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPySpark",
    "StateStoreSave",
    "SessionWindowStateStoreSave",
    "StreamingDeduplicateWithinWatermark",
)

# "FlatMapGroupsInPandas" must not also count the WithState stateful
# operator (substring); everything else is an exact non-overlapping
# node name, so plain escaped matching is enough.
_NODE_PATTERNS = {n: re.escape(n) for n in INFO_NODES}
_NODE_PATTERNS["FlatMapGroupsInPandas"] = r"FlatMapGroupsInPandas(?!WithState)"

# Queries allowed to carry BroadcastNestedLoopJoin nodes, with the
# recorded reason (what the tiny broadcast side IS) and the shape test
# that pins the plan where one exists. max_nodes is the count MEASURED
# at sf0.001 on the shipped plans — an exact upper bound, so one new
# BNLJ creeping into an allowlisted query's plan is itself a violation.
# Every entry maps to a crossJoin(F.broadcast(tiny)) or 1-rowx1-row
# site in the source; the full site list is the audit's provenance:
# dedup.py:366,:385,:547,:610; sampling.py:478; similarity.py:122,
# :236,:575,:1064,:1124; textstats.py:468.
BNLJ_ALLOWLIST: dict[str, dict] = {
    "knn_methods": {
        "max_nodes": 14,
        "reason": (
            "the exact brute-force and partial-top-k variants broadcast "
            "the 8-row query batch against the corpus (operators/"
            "similarity.py:122, :236), repeated across the 6-method "
            "union and its agreement-certification sections, plus the "
            "r15 IVF/PQ rework's broadcast ONE-ROW tables (the collected "
            "centroid array at similarity.py:1121 and the PQ-ADC "
            "per-query LUT/seed rows at :1497, :1535 — the map-side "
            "scoring that replaced the per-vector corpus exchanges; "
            "12 -> 14 measured at sf0.001); pinned by "
            "tests/test_plans.py::test_knn_methods_only_exact_variants_"
            "broadcast_nested_loop"
        ),
    },
    "embedding_neardup": {
        "max_nodes": 3,
        "reason": (
            "SemDeDup assigns rows to a broadcast <=16-row centroid "
            "table (operators/similarity.py:1064, :1124 — deliberate "
            "tiny cross join) and the certificate joins 1-row x 1-row "
            "stats frames (similarity.py:575); pinned by tests/"
            "test_plans.py::test_embedding_neardup_only_centroid_"
            "broadcast"
        ),
    },
    "dedup_exact_events": {
        "max_nodes": 5,
        "reason": (
            "sketch certificates join 1-row corpus aggregates back "
            "against candidates — Misra-Gries support threshold "
            "(operators/dedup.py:366), MG rank certificate (:385), and "
            "the 1-row x 1-row HLL/KLL audits (:547, :610)"
        ),
    },
    "sampling_suite": {
        "max_nodes": 1,
        "reason": (
            "two-phase range sampling broadcasts the 1-row split-bounds "
            "aggregate to every partition (operators/sampling.py:478)"
        ),
    },
    "doc_tfidf_topterms": {
        "max_nodes": 1,
        "reason": (
            "IDF needs the corpus document count: a broadcast 1-row "
            "n_docs aggregate joined under every term row (operators/"
            "textstats.py:468)"
        ),
    },
}


# Column-pruning gate: a scan that reads the FULL schema of a wide
# table is the third local[32]-invisible scale killer — at sf0.1 the
# extra columns cost milliseconds; at 100 TB a dropped .select turns a
# 2-column aggregate into a full-table read. A full-width scan of a
# table with >= WIDE_SCAN_MIN_COLS columns is a violation unless the
# (query, table) pair is allowlisted with the recorded reason. Tiny
# dimensions (region 2, nation 3, the 3-col media fixture) legitimately
# read whole rows and sit under the threshold.
WIDE_SCAN_MIN_COLS = 6

SCAN_FULL_ALLOWLIST: dict[str, dict] = {
    "events_filter_project": {
        "tables": ["events"],
        "reason": (
            "the query IS the wide-projection demonstration (SURVEY "
            "P1-P5): all 6 event columns feed the output — filter + "
            "CASE mapping + nested-JSON extraction over the full row "
            "(plans/relational.py:224); full-width read is the "
            "semantics, not a missing .select"
        ),
    },
}


def collect_scans(jnode) -> list[dict]:
    """Walk ONE JVM physical-plan tree and return every parquet scan's
    pruning facts: table (basename of the scan location), n_read (the
    scan's requiredSchema width — exact, unlike the truncated
    ReadSchema string in explain output), n_table (the relation's full
    schema width), the read column names, and the PushedFilters text.
    Descends through the two leaf wrappers that hide child plans:
    AdaptiveSparkPlanExec (AQE wraps the whole query as a leaf) and
    InMemoryTableScanExec (cached relations). localCheckpoint spines
    surface as RDDScanExec — no file scan to audit, by design: their
    producing scan was audited when the materialization query built."""
    cls = jnode.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return collect_scans(jnode.inputPlan())
    if cls == "InMemoryTableScanExec":
        return collect_scans(jnode.relation().cachedPlan())
    if cls == "FileSourceScanExec":
        rs = jnode.requiredSchema()
        loc = jnode.relation().location().rootPaths().head().toString()
        opt = jnode.metadata().get("PushedFilters")
        return [
            {
                "table": os.path.basename(loc).removesuffix(".parquet"),
                "n_read": rs.size(),
                "n_table": jnode.relation().dataSchema().size(),
                "columns": sorted(
                    rs.apply(j).name() for j in range(rs.size())
                ),
                "pushed_filters": str(opt.get()) if opt.isDefined() else "",
            }
        ]
    out: list[dict] = []
    ch = jnode.children()
    for i in range(ch.size()):
        out.extend(collect_scans(ch.apply(i)))
    return out


def dedupe_scans(scans: list[dict]) -> list[dict]:
    """The same pruned scan repeats across union branches (knn_methods
    reads embeddings 2/3 forty-one times); collapse identical scans to
    one row with a count so the artifact stays readable."""
    seen: dict[tuple, dict] = {}
    for s in scans:
        key = (s["table"], s["n_read"], s["n_table"], tuple(s["columns"]))
        if key in seen:
            seen[key]["count"] += 1
        else:
            seen[key] = {**s, "count": 1}
    return [seen[k] for k in sorted(seen)]


def check_scans(name: str, scans: list[dict]) -> dict:
    """Pure check over collected scan rows (mirrors scan_plan's
    contract so tests can prove detection power without an artifact):
    full-width read of a wide table outside the allowlist → violation;
    inside the allowlist → an ``allowlisted`` entry carrying the
    recorded reason, same as the BNLJ gate — a hit without a reason is
    a violation, not a shrug."""
    violations: list[str] = []
    allowlisted: list[dict] = []
    for s in scans:
        if (
            s["n_read"] >= s["n_table"]
            and s["n_table"] >= WIDE_SCAN_MIN_COLS
        ):
            entry = SCAN_FULL_ALLOWLIST.get(name)
            if entry is None or s["table"] not in entry["tables"]:
                violations.append(
                    f"{name}: full-width scan of {s['table']} "
                    f"({s['n_table']} cols, not allowlisted)"
                )
            else:
                allowlisted.append(
                    {
                        "node": "FullWidthScan",
                        "table": s["table"],
                        "n_table": s["n_table"],
                        "reason": entry["reason"],
                    }
                )
    return {"violations": violations, "allowlisted": allowlisted}


def scan_plan(name: str, plan: str) -> dict:
    """Scan ONE executed-plan string against the rule set. Pure
    function of (name, plan) so tests can prove detection power on
    live and synthetic plans without touching the artifact."""
    counts = {n: len(re.findall(_NODE_PATTERNS[n], plan)) for n in INFO_NODES}
    # BatchEvalPython must not match ArrowEvalPython (distinct node
    # names — re.escape keeps the match exact, no substring overlap).
    violations: list[str] = []
    allowlisted: list[dict] = []
    for node in VIOLATION_NODES:
        n = len(re.findall(re.escape(node), plan))
        counts[node] = n
        if n:
            violations.append(f"{name}: {n}x {node}")
    n_bnlj = len(re.findall(GATED_NODE, plan))
    counts[GATED_NODE] = n_bnlj
    if n_bnlj:
        entry = BNLJ_ALLOWLIST.get(name)
        if entry is None:
            violations.append(
                f"{name}: {n_bnlj}x {GATED_NODE} (query not allowlisted)"
            )
        elif n_bnlj > entry["max_nodes"]:
            violations.append(
                f"{name}: {n_bnlj}x {GATED_NODE} exceeds allowlisted "
                f"max {entry['max_nodes']}"
            )
        else:
            allowlisted.append(
                {
                    "node": GATED_NODE,
                    "count": n_bnlj,
                    "max_nodes": entry["max_nodes"],
                    "reason": entry["reason"],
                }
            )
    return {
        "counts": counts,
        "allowlisted": allowlisted,
        "violations": violations,
    }


def streaming_plans(spark) -> dict[str, str]:
    """Physical plans of every UNSTARTED streaming pipeline — Spark
    plans a streaming DataFrame without executing it (the same
    mechanism tests/test_plans.py::test_agent_status_stream_plan_shape
    uses), so the audit covers the streaming surface the batch bench
    never builds. Inputs are synthetic rate-source frames: plan shape
    is a function of the transformations, not the data. Sink-side
    harnesses (foreachBatch upsert, parquet writers) have no plannable
    DataFrame and stay covered by the correctness gate instead."""
    from pyspark.sql import functions as F

    from twilio_event_streams_reporting_example_spark.streaming.sessions import (
        user_sessions_stream,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        agent_status_emissions_stream,
        hourly_event_counts_stream,
        parse_stream,
        segment_emissions_stream,
        wide_agent_status_stream,
        wide_conversation_segments_stream,
    )

    raw = (
        spark.readStream.format("rate")
        .load()
        .selectExpr("CAST(value AS STRING) as value")
    )
    ev = parse_stream(raw)
    rate = spark.readStream.format("rate").load()
    sess_in = rate.select(
        F.col("value").alias("user_id"),
        F.col("timestamp").alias("tts"),
        (F.col("value") * 1.0).alias("value"),
    )
    builders = {
        "stream:segments_per_task": lambda: segment_emissions_stream(ev),
        "stream:segments_bucketed": lambda: segment_emissions_stream(
            ev, buckets=8
        ),
        "stream:segments_wide": lambda: wide_conversation_segments_stream(ev),
        "stream:agent_status": lambda: agent_status_emissions_stream(ev),
        "stream:agent_status_wide": lambda: wide_agent_status_stream(ev),
        "stream:hourly_event_counts": lambda: hourly_event_counts_stream(ev),
        "stream:user_sessions": lambda: user_sessions_stream(sess_in),
    }
    import contextlib
    import io

    plans: dict[str, str] = {}
    for name, build in builders.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            build().explain(mode="extended")
        s = buf.getvalue()
        # scan the PHYSICAL section only: stateful operator names repeat
        # identically in the analyzed/optimized logical sections, which
        # would triple-count them
        plans[name] = s[s.index("== Physical Plan ==") :]
    return plans


def audit(spark, sf_dir: str) -> dict:
    """Build every benched query, scan its executed plan, return the
    artifact dict. Plan capture does not evaluate the query, but
    iterative operators (connected components) legitimately run jobs
    while BUILDING — same accounting as bench.py's build+run timing."""
    from twilio_event_streams_reporting_example_spark.registry import (
        all_queries,
        release_caches,
    )

    queries: dict[str, dict] = {}
    flat_violations: list[str] = []
    for name, spec in sorted(all_queries().items()):
        if not spec.bench:
            continue  # streaming/materialization harnesses: no batch plan
        t0 = time.perf_counter()
        try:
            df = spec.fn(spark, sf_dir)
            jplan = df._jdf.queryExecution().executedPlan()
            row = scan_plan(name, jplan.toString())
            row["scans"] = dedupe_scans(collect_scans(jplan))
            scan_res = check_scans(name, row["scans"])
            row["violations"].extend(scan_res["violations"])
            row["allowlisted"].extend(scan_res["allowlisted"])
            row["build_sec"] = round(time.perf_counter() - t0, 3)
            queries[name] = row
            flat_violations.extend(row["violations"])
        except Exception:
            traceback.print_exc(file=sys.stderr)
            queries[name] = {"error": traceback.format_exc(limit=3)}
            flat_violations.append(f"{name}: plan build FAILED")
        finally:
            release_caches()
            spark.catalog.clearCache()
    streaming: dict[str, dict] = {}
    for name, plan in streaming_plans(spark).items():
        row = scan_plan(name, plan)
        streaming[name] = row
        flat_violations.extend(row["violations"])
    return {
        "sf_dir": sf_dir,
        "n_queries": len(queries),
        "n_streaming": len(streaming),
        "streaming": streaming,
        "rules": {
            "violation_nodes": list(VIOLATION_NODES),
            "gated_node": GATED_NODE,
            "allowlist": {
                k: v["max_nodes"] for k, v in sorted(BNLJ_ALLOWLIST.items())
            },
            "wide_scan_min_cols": WIDE_SCAN_MIN_COLS,
            "scan_full_allowlist": {
                k: v["tables"] for k, v in sorted(SCAN_FULL_ALLOWLIST.items())
            },
        },
        "violations": flat_violations,
        "queries": queries,
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    from twilio_event_streams_reporting_example_spark.session import get_spark

    spark = get_spark("plan_audit")
    art = audit(spark, sf_dir)
    out = json.dumps(art, indent=1, sort_keys=True)
    if "--no-artifact" not in sys.argv:
        path = os.path.join(REPO, "PLAN_AUDIT.json")
        with open(path, "w") as f:
            f.write(out + "\n")
        print(f"[plan-audit] wrote {path}")
    for v in art["violations"]:
        print(f"[plan-audit] VIOLATION {v}")
    print(
        f"[plan-audit] {art['n_queries']} batch queries + "
        f"{art['n_streaming']} streaming plans, "
        f"{len(art['violations'])} violations"
    )
    return 1 if art["violations"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
