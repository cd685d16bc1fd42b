"""Scale anti-pattern audit of an executed physical plan.

``audit_plan`` greps a plan string for the anti-patterns that kill large
jobs:

- ``CartesianProduct``             — an all-pairs join that made it to the
                                     physical plan (never acceptable);
- ``BroadcastNestedLoopJoin``      — acceptable ONLY when one side is a
                                     1-row aggregate (the scalar-broadcast
                                     crossJoin pattern); flagged for review
                                     otherwise;
- ``BatchEvalPython``              — a row-at-a-time Python UDF in the plan
                                     (the sanctioned Python paths are Arrow:
                                     ArrowEvalPython / MapInPandas /
                                     FlatMapGroupsInPandas);
- unpartitioned row-level windows  — a ``Window`` operator whose spec has
                                     ZERO partition columns funnels the
                                     whole input through one task; allowed
                                     only over provably tiny inputs (the
                                     ranking helper's ``__rnk`` offsets
                                     table, top-k survivors of a
                                     TakeOrderedAndProject, per-group
                                     aggregate tables, ...).

Known-benign (entry, kind) pairs are whitelisted EXPLICITLY below with the
reason, so a new flag is always a diff against an empty set.
``tests/test_entry_oracle.py`` audits every registry entry's plan after its
oracle compare has executed it, and fails on any pair not listed here.
"""

from __future__ import annotations

import re

# (entry, kind) -> reason. Keep reasons honest: every row here was read
# against the actual plan before being admitted.
_SCALAR_BNLJ = (
    "crossJoin of a 1-row aggregate (corpus/scalar stats broadcast back); "
    "build side is exactly one row"
)
_QUERYSET_BNLJ = (
    "declared exact baseline: corpus x broadcast bounded query set "
    "(<= 5 ids) with an inequality filter; build side is the query set"
)
WHITELIST: dict[tuple[str, str], str] = {
    # --- scalar-broadcast crossJoins (1-row build side) ---
    ("a1_assoc_cosine", "bnlj"): _SCALAR_BNLJ,
    ("bm25_store_search", "bnlj"): _SCALAR_BNLJ,
    ("c16_community_strength", "bnlj"): _SCALAR_BNLJ,
    ("c16_strength_planted", "bnlj"): _SCALAR_BNLJ,
    ("lm_store_score", "bnlj"): _SCALAR_BNLJ,
    ("text_bm25", "bnlj"): _SCALAR_BNLJ,
    ("text_tfidf", "bnlj"): _SCALAR_BNLJ,
    ("text_perplexity", "bnlj"): _SCALAR_BNLJ,
    ("text_kneser_ney", "bnlj"): _SCALAR_BNLJ,
    ("text_quality_classifier", "bnlj"): _SCALAR_BNLJ,
    ("text_rarity", "bnlj"): _SCALAR_BNLJ,
    ("perplexity_buckets", "bnlj"): _SCALAR_BNLJ,
    ("skew_profile_events", "bnlj"): _SCALAR_BNLJ,
    ("dsir_importance", "bnlj"): _SCALAR_BNLJ,
    ("dsir_topk_select", "bnlj"): _SCALAR_BNLJ,
    ("source_mixture_temperature", "bnlj"): _SCALAR_BNLJ,
    ("events_anomaly_mad", "bnlj"): (
        "median/MAD are 1-row aggregates crossJoined back as the "
        "anomaly threshold"
    ),
    ("tpch_q11", "bnlj"): (
        "scalar subquery: the group filter compares against a 1-row "
        "global threshold (standard Q11 shape)"
    ),
    ("tpch_q22", "bnlj"): (
        "scalar subquery: acctbal > 1-row global average (standard Q22)"
    ),
    # --- bounded-query-set brute-force baselines ---
    ("knn_cosine_brute", "bnlj"): _QUERYSET_BNLJ,
    ("knn_hard_negatives", "bnlj"): _QUERYSET_BNLJ,
    # --- constant-size global windows ---
    # (community_pipeline's 44 fixture-window re-evaluations were FIXED
    # by localCheckpointing the 35-row planted fixture, not whitelisted)
    ("v1_authorship_pattern_table", "global_window"): (
        "cumulative-% windows over the authorship-pattern aggregate "
        "(<= distinct author-count buckets, tens of rows by construction)"
    ),
    ("source_mixture_temperature", "global_window"): (
        "largest-remainder allocation: leftover-budget "
        "sum + fractional-part rank run over the per-SOURCE weight "
        "table — one row per source, never the corpus (the corpus-side "
        "admission stays a source-partitioned window)"
    ),
    ("skew_profile_events", "global_window"): (
        "rank over the k survivors of a TakeOrderedAndProject top-k "
        "(plan-asserted in tests/test_ranking.py)"
    ),
}


def _window_partition_free(line: str) -> bool:
    """True when a plan line's windowspecdefinition has no partition
    columns (partition cols print bare; order cols carry ASC/DESC; a
    frame-only spec starts at specifiedwindowframe)."""
    for m in re.finditer(r"windowspecdefinition\(([^#]*(?:#\d+)?[^,)]*)", line):
        head = m.group(1)
        if head.startswith("specifiedwindowframe"):
            return True
        if " ASC" in head or " DESC" in head:
            return True
    return False


def audit_plan(plan: str) -> list[dict]:
    flags: list[dict] = []
    if "CartesianProduct" in plan:
        flags.append({"kind": "cartesian", "line": "CartesianProduct"})
    if "BatchEvalPython" in plan:
        flags.append({"kind": "python_udf_row", "line": "BatchEvalPython"})
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("+-") or s.startswith(":"):
            s = s.lstrip("+-: ")
        if "BroadcastNestedLoopJoin" in line:
            flags.append({"kind": "bnlj", "line": s[:200]})
        if (
            "windowspecdefinition" in line
            and "__rnk" not in line
            and _window_partition_free(line)
        ):
            flags.append({"kind": "global_window", "line": s[:200]})
    return flags
