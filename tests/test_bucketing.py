"""Bucketing: two tables bucketed on the join key join WITHOUT any
Exchange in the physical plan — the shuffle is paid once at write time
and amortized over every subsequent join."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.oracle import executed_plan


def _set(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    return old


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 10_000, 3).select(
        F.col("id").alias("k"), (F.col("id") + 7).alias("b")
    )
    for name, df in [("bkt_left", left), ("bkt_right", right)]:
        (
            df.write.mode("overwrite")
            .option("path", str(tmp_path / name))
            .bucketBy(8, "k")
            .sortBy("k")
            .saveAsTable(name)
        )
    # force the non-broadcast path so the exchange-free claim is about
    # bucketing, not about the small-table shortcut
    saved_thresh = _set(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")
    saved_aqe = _set(spark, "spark.sql.adaptive.enabled", "false")
    try:
        j = spark.table("bkt_left").join(spark.table("bkt_right"), on="k")
        plan = executed_plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 3334  # ids 0,3,...,9999
        # same join on plain (unbucketed) parquet DOES shuffle
        pl = spark.read.parquet(str(tmp_path / "bkt_left"))
        pr = spark.read.parquet(str(tmp_path / "bkt_right"))
        plain = pl.join(pr, on="k")
        plain_plan = executed_plan(plain)
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")
