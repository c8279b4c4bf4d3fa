"""The committed plan-audit artifact is clean, covers the benched
registry exactly, and the scanner it came from can actually DETECT the
anti-patterns it gates — proven on live plans, not just synthetic
strings. A regression here is a 100 TB incident that stays invisible
at sf0.1: a cartesian join or a row-at-a-time Python UDF is correct
and fast on 60k rows and fatal on 10^11."""

import json
import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

from plan_audit import (  # noqa: E402
    BNLJ_ALLOWLIST,
    GATED_NODE,
    SCAN_FULL_ALLOWLIST,
    WIDE_SCAN_MIN_COLS,
    check_scans,
    collect_scans,
    dedupe_scans,
    scan_plan,
)

_ARTIFACT = os.path.join(_REPO, "PLAN_AUDIT.json")


def _artifact() -> dict:
    with open(_ARTIFACT) as f:
        return json.load(f)


# ---------------------------------------------------------------------
# committed artifact: clean, complete, and self-consistent (no Spark)
# ---------------------------------------------------------------------


def test_committed_audit_is_clean():
    art = _artifact()
    assert art["violations"] == []
    assert art["n_queries"] == len(art["queries"])
    for name, row in art["queries"].items():
        assert "error" not in row, f"{name} failed to build at audit time"
        assert row["violations"] == [], name


def test_committed_audit_covers_benched_registry_exactly():
    """Every spec.bench query has an audited plan; nothing extra. The
    registry import needs no SparkSession, so this stays a fast check
    even though the artifact itself took a sweep to produce."""
    from twilio_event_streams_reporting_example_spark.registry import (
        all_queries,
    )

    benched = {n for n, s in all_queries().items() if s.bench}
    assert set(_artifact()["queries"]) == benched


def test_committed_audit_bnlj_hits_are_allowlisted_with_reasons():
    """Each BroadcastNestedLoopJoin hit in the artifact must sit inside
    its allowlist bound AND carry the recorded justification (what the
    tiny broadcast side is) — the audit's whole point is that a hit
    without a reason is a violation, not a shrug."""
    art = _artifact()
    for name, row in art["queries"].items():
        bnlj_hits = [
            a for a in row["allowlisted"] if a["node"] == GATED_NODE
        ]
        n = row["counts"][GATED_NODE]
        if n == 0:
            assert bnlj_hits == [], name
            continue
        entry = BNLJ_ALLOWLIST.get(name)
        assert entry is not None, f"{name} carries BNLJ but is not allowlisted"
        assert n <= entry["max_nodes"], name
        assert bnlj_hits, name
        assert bnlj_hits[0]["reason"] == entry["reason"], name
    # the allowlist itself must not rot: every allowlisted name is a
    # real registered query (an entry for a renamed/deleted query is a
    # hole the gate would silently stop covering)
    assert set(BNLJ_ALLOWLIST) <= set(art["queries"])


def test_committed_audit_has_no_cartesian_or_row_udf_anywhere():
    art = _artifact()
    for name, row in art["queries"].items():
        assert row["counts"]["CartesianProduct"] == 0, name
        assert row["counts"]["BatchEvalPython"] == 0, name


def test_committed_audit_scans_are_pruned_or_allowlisted():
    """Every batch row carries its parquet-scan pruning facts; any
    full-width read of a wide table must be allowlisted with a reason.
    The one designed hit is events_filter_project (the wide-projection
    demonstration query genuinely consumes all 6 event columns);
    everything else must show a pruned ReadSchema — the 100 TB
    regression this gates is a dropped .select turning a 2-column
    aggregate into a full-table read, invisible to pytest and the
    oracle compare."""
    art = _artifact()
    full_width_hits = {}
    for name, row in art["queries"].items():
        assert "scans" in row, name
        for s in row["scans"]:
            assert s["n_read"] <= s["n_table"], (name, s)
            if (
                s["n_read"] == s["n_table"]
                and s["n_table"] >= WIDE_SCAN_MIN_COLS
            ):
                full_width_hits[name] = s["table"]
                hits = [
                    a
                    for a in row["allowlisted"]
                    if a["node"] == "FullWidthScan"
                    and a["table"] == s["table"]
                ]
                assert hits and hits[0]["reason"], (name, s)
    assert full_width_hits == {"events_filter_project": "events"}
    # the allowlist must not rot: every entry names a real audited query
    assert set(SCAN_FULL_ALLOWLIST) <= set(art["queries"])


def test_committed_audit_wide_scans_carry_pushed_filters_where_filtered():
    """The filter queries' scans must show non-empty PushedFilters —
    predicate pushdown reaching the parquet reader is the other half
    of the scan contract (mirrors test_plans'
    test_events_filter_pushdown, but pinned on the committed artifact
    so the gate sees it too)."""
    art = _artifact()
    efp = art["queries"]["events_filter_project"]["scans"][0]
    assert efp["pushed_filters"] not in ("", "[]")
    pricing = art["queries"]["pricing_summary"]["scans"]
    assert any(s["pushed_filters"] not in ("", "[]") for s in pricing)


def test_scan_checker_flags_live_unpruned_scan(spark, sf_dir):
    """Detection power on a LIVE plan: loading events (6 cols) without
    a .select plans a full-width FileSourceScan; collect_scans must
    see exactly that and check_scans must flag it under any
    non-allowlisted name — while the same read through a projection
    passes. Also proves the walker descends AQE's leaf wrapper."""
    import os as _os

    from twilio_event_streams_reporting_example_spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, "events", sf_dir)
    bad = ev.filter("value > 5.0")  # no projection: reads all 6 cols
    scans = dedupe_scans(
        collect_scans(bad._jdf.queryExecution().executedPlan())
    )
    assert len(scans) == 1
    s = scans[0]
    assert s["table"] == "events"
    assert s["n_read"] == s["n_table"] >= WIDE_SCAN_MIN_COLS
    res = check_scans("sessionize_events", scans)
    assert any("full-width scan" in v for v in res["violations"])
    # the allowlisted query absorbs the same scan WITH its reason
    res_ok = check_scans("events_filter_project", scans)
    assert res_ok["violations"] == []
    assert res_ok["allowlisted"][0]["table"] == "events"
    assert res_ok["allowlisted"][0]["reason"]
    # ... and a projected read is pruned, so neither flags it
    good = ev.filter("value > 5.0").select("event_id", "user_id")
    pruned = dedupe_scans(
        collect_scans(good._jdf.queryExecution().executedPlan())
    )
    # 3 = the 2 projected columns + the filter column the scan needs
    assert pruned[0]["n_read"] == 3 < pruned[0]["n_table"]
    assert check_scans("sessionize_events", pruned)["violations"] == []
    assert _os.path.basename(pruned[0]["table"]) == "events"


def test_committed_audit_streaming_section_is_clean_and_complete():
    """The streaming surface never runs in the batch bench, so the
    audit plans every unstarted pipeline separately. Pin: all seven
    pipelines audited, zero violations, and exactly ONE stateful
    operator per plan — a second applyInPandasWithState/
    transformWithState node appearing in a lifecycle plan means the
    pipeline grew a hidden stateful stage (double state stores, double
    shuffles at 100 TB). The per-family node kind is pinned too: the
    lifecycles must plan as FlatMapGroupsInPandasWithState, the built-in
    windowed aggs as StateStoreSave (+ SessionWindowStateStoreSave for
    session windows). The conversation pipelines carry no CloudEvent-id
    dedup node, so each plans one state store per batch."""
    art = _artifact()
    s = art["streaming"]
    assert art["n_streaming"] == len(s) == 7
    expected_stateful = {
        "stream:segments_per_task": "FlatMapGroupsInPandasWithState",
        "stream:segments_bucketed": "FlatMapGroupsInPandasWithState",
        "stream:segments_wide": "FlatMapGroupsInPandasWithState",
        "stream:agent_status": "FlatMapGroupsInPandasWithState",
        "stream:agent_status_wide": "FlatMapGroupsInPandasWithState",
        "stream:hourly_event_counts": "StateStoreSave",
        "stream:user_sessions": "SessionWindowStateStoreSave",
    }
    assert set(s) == set(expected_stateful)
    for name, row in s.items():
        assert row["violations"] == [], name
        assert row["counts"]["CartesianProduct"] == 0, name
        assert row["counts"]["BatchEvalPython"] == 0, name
        c = row["counts"]
        assert c[expected_stateful[name]] == 1, name
        # exactly one custom stateful operator per lifecycle plan; a
        # transformWithState node counts too, so one that comes back in
        # any plan is caught
        custom = (
            c["FlatMapGroupsInPandasWithState"]
            + c["TransformWithStateInPySpark"]
        )
        if expected_stateful[name] == "FlatMapGroupsInPandasWithState":
            assert custom == 1, name
        else:
            assert custom == 0, name
    # one state store per conversation pipeline: the lifecycle drops
    # redelivered CloudEvent ids itself, so no dedup node plans beside
    # it; the consumers without per-task state keep exactly one
    dedup = {
        name: row["counts"]["StreamingDeduplicateWithinWatermark"]
        for name, row in s.items()
    }
    for name in (
        "stream:segments_per_task",
        "stream:segments_bucketed",
        "stream:segments_wide",
    ):
        assert dedup[name] == 0, name
    for name in (
        "stream:agent_status",
        "stream:agent_status_wide",
        "stream:hourly_event_counts",
    ):
        assert dedup[name] == 1, name


def test_scanner_stateful_counts_do_not_overlap():
    """FlatMapGroupsInPandas (the batch applyInPandas node) is a
    prefix of FlatMapGroupsInPandasWithState (the streaming stateful
    node); the scanner must count them separately or every streaming
    lifecycle plan would also report a phantom batch node."""
    res = scan_plan("q", "+- FlatMapGroupsInPandasWithState [seg(...)]")
    assert res["counts"]["FlatMapGroupsInPandasWithState"] == 1
    assert res["counts"]["FlatMapGroupsInPandas"] == 0
    res2 = scan_plan("q", "+- FlatMapGroupsInPandas [profile(...)]")
    assert res2["counts"]["FlatMapGroupsInPandas"] == 1
    assert res2["counts"]["FlatMapGroupsInPandasWithState"] == 0


# ---------------------------------------------------------------------
# detection power: the scanner flags live anti-pattern plans
# ---------------------------------------------------------------------


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scanner_flags_live_cartesian_product(spark):
    """A genuine unconditioned join with broadcasting disabled plans as
    CartesianProduct; the scanner must flag it under ANY name —
    cartesians have no allowlist."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(100)
        b = spark.range(100).withColumnRenamed("id", "id2")
        plan = _executed(a.crossJoin(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "CartesianProduct" in plan  # the control is real
    res = scan_plan("knn_methods", plan)  # even an allowlisted name
    assert any("CartesianProduct" in v for v in res["violations"])


def test_scanner_flags_live_row_at_a_time_udf(spark):
    """F.udf on a data path plans as BatchEvalPython (row-at-a-time,
    pickled) — always a violation; ArrowEvalPython (pandas_udf) is the
    sanctioned escape and must NOT trip the same rule."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    plan = _executed(spark.range(10).select(slow("id").alias("y")))
    assert "BatchEvalPython" in plan
    res = scan_plan("events_filter_project", plan)
    assert any("BatchEvalPython" in v for v in res["violations"])

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fast(x: pd.Series) -> pd.Series:
        return x + 1

    arrow_plan = _executed(spark.range(10).select(fast("id").alias("y")))
    assert "ArrowEvalPython" in arrow_plan
    res = scan_plan("events_filter_project", arrow_plan)
    assert res["violations"] == []
    assert res["counts"]["ArrowEvalPython"] == 1


def test_scanner_flags_live_non_allowlisted_bnlj(spark):
    """A broadcast cross join in a query with no allowlist entry is a
    violation even though the node itself is sometimes legitimate."""
    from pyspark.sql import functions as F

    one = spark.range(1).withColumnRenamed("id", "k")
    plan = _executed(spark.range(100).crossJoin(F.broadcast(one)))
    assert GATED_NODE in plan
    res = scan_plan("events_filter_project", plan)
    assert any("not allowlisted" in v for v in res["violations"])


def test_scanner_flags_allowlist_bound_exceeded():
    """One MORE BNLJ than the measured bound means a new nested-loop
    crept into an allowlisted query — flagged, not absorbed."""
    bound = BNLJ_ALLOWLIST["sampling_suite"]["max_nodes"]
    plan = "\n".join(f"+- {GATED_NODE} BuildRight" for _ in range(bound + 1))
    res = scan_plan("sampling_suite", plan)
    assert any("exceeds allowlisted max" in v for v in res["violations"])
    # ... and exactly at the bound it passes, recording the reason
    plan_ok = "\n".join(f"+- {GATED_NODE} BuildRight" for _ in range(bound))
    res_ok = scan_plan("sampling_suite", plan_ok)
    assert res_ok["violations"] == []
    assert res_ok["allowlisted"][0]["count"] == bound


def test_scanner_counts_are_exact_node_matches():
    """BatchEvalPython must not be counted inside ArrowEvalPython text
    and vice versa — the two rules have opposite verdicts."""
    res = scan_plan("q", "+- ArrowEvalPython [f(id)]")
    assert res["counts"]["BatchEvalPython"] == 0
    assert res["counts"]["ArrowEvalPython"] == 1
    assert res["violations"] == []
