"""Unit tests for the plan-audit anti-pattern heuristics (pure string
functions — the sweep over live plans runs in
tests/test_entry_oracle.py:test_query_matches_oracle)."""

from __future__ import annotations

from tests.plan_audit import _window_partition_free, audit_plan


def test_partitioned_window_not_flagged():
    line = (
        "Window [percent_rank() windowspecdefinition(lang#12, xent#45 ASC "
        "NULLS FIRST, specifiedwindowframe(RangeFrame, unboundedpreceding$(),"
        " currentrow$())) AS pr#99]"
    )
    assert not _window_partition_free(line)
    assert audit_plan(line) == []


def test_order_only_window_flagged():
    line = (
        "Window [row_number() windowspecdefinition(xent#45 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
        " AS rn#7]"
    )
    assert _window_partition_free(line)
    assert [f["kind"] for f in audit_plan(line)] == ["global_window"]


def test_frame_only_window_flagged_but_rnk_whitelisted():
    frame_only = (
        "Window [sum(cnt#3L) windowspecdefinition(specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), currentrow$())) AS s#8L]"
    )
    assert _window_partition_free(frame_only)
    assert [f["kind"] for f in audit_plan(frame_only)] == ["global_window"]
    # the ranking helper's offsets-table windows carry an __rnk name on
    # the plan line and are exempt (<= shuffle-partitions rows by design)
    rnk = frame_only.replace("cnt#3L", "__rnk_cnt#3L")
    assert audit_plan(rnk) == []


def test_cartesian_and_row_udf_flagged():
    plan = "CartesianProduct\n+- BatchEvalPython [f(x#1)]"
    kinds = sorted(f["kind"] for f in audit_plan(plan))
    assert kinds == ["cartesian", "python_udf_row"]


def test_arrow_python_paths_not_flagged():
    plan = (
        "ArrowEvalPython [g(x#1)]\n"
        "+- MapInPandas [h(y#2)]\n"
        "+- FlatMapGroupsInPandas [k(z#3)]"
    )
    assert audit_plan(plan) == []


def test_bnlj_flagged():
    plan = "BroadcastNestedLoopJoin BuildRight, Inner"
    assert [f["kind"] for f in audit_plan(plan)] == ["bnlj"]

