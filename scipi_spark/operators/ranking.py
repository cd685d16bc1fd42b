"""Scale-safe exact ranking: percent_rank without a giant window
partition.

``Window.partitionBy(group)`` hash-shuffles EVERY row of a group onto
one reducer — at 100 TB a per-language or ungrouped rank is a
single-machine sort (the one anti-pattern class round 4 flagged). This
module computes the SAME exact percent_rank with a bounded plan:

1. range-partition the rows on ``(group, order...)`` — Spark's
   ``repartitionByRange`` distributes even one giant group across many
   partitions (contiguous sorted slices), exactly how a distributed
   ``ORDER BY`` works;
2. rank locally inside each physical slice (the only row-level window
   runs per ``(slice, group)`` — its partition size is bounded by
   ``maxPartitionBytes``-scale slice size, never by group size);
3. reconstruct global ranks from a TINY per-(slice, group) count table
   (at most ``#slices + #groups - 1`` rows — each slice holds a
   contiguous key range): cumulative counts give each slice's starting
   offset inside its group, broadcast back onto the rows.

The result is bit-identical to ``F.percent_rank()`` over
``Window.partitionBy(*groups).orderBy(*order)`` whenever the order is a
UNIQUE total order within each group (callers tie-break by id — same
requirement the old windows had for determinism), so DuckDB oracles
written against the window form still hash-match.

Reference precedent: the reference never global-sorts for ranks either —
its top-N paths are bounded heaps (ScipiBatchCommunity.java:241-250);
this is the rank-assignment analogue of that discipline.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: suffix-salted helper column names (dropped before returning)
_PID = "__rnk_pid"
_LRN = "__rnk_local_rn"
_OFF = "__rnk_offset"
_NGRP = "__rnk_n_grp"


def _sort_exprs(order_cols: Sequence[tuple[str, bool]]) -> list[Column]:
    return [
        F.asc(c) if ascending else F.desc(c) for c, ascending in order_cols
    ]


def with_percent_rank(
    df: DataFrame,
    order_cols: Sequence[tuple[str, bool]],
    part_cols: Sequence[str] = (),
    out_col: str = "pr",
    num_partitions: int | None = None,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Append exact ``percent_rank`` over ``(part_cols, order_cols)``
    with the bounded three-step plan described in the module docstring.

    ``order_cols`` is ``[(column_name, ascending), ...]`` and MUST be a
    unique total order within each group (include an id tie-break);
    with ties the underlying ``row_number`` would pick an arbitrary
    winner and the output would be nondeterministic.

    NULL group keys rank as their own ordinary group — bit-parity with
    ``Window.partitionBy(group)``, which also treats NULL as a normal
    partition (the offsets join is null-safe; a bare name-list join
    would silently drop NULL-keyed rows).

    Contract: the offsets table is ``#slices + #groups - 1`` rows, so
    ``part_cols`` cardinality must stay comfortably under the broadcast
    threshold (~millions of groups at 8B/row is still MBs, but pass
    ``broadcast_offsets=False`` to use a plain shuffle join when the
    group count is extreme).

    Emits exactly the columns of ``df`` plus ``out_col``; row order is
    unspecified (as with any shuffle).
    """
    spark = df.sparkSession
    n_part = num_partitions
    if n_part is None:
        try:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            # "auto" (AQE-managed deployments) or unreadable: fall back
            # to the cluster's default parallelism
            n_part = spark.sparkContext.defaultParallelism
    n_part = max(int(n_part), 1)
    part_cols = list(part_cols)
    range_exprs = [F.asc(c) for c in part_cols] + _sort_exprs(order_cols)

    # 1. distributed sort shape: contiguous (group, order) slices.
    #    spark_partition_id is evaluated in the projection directly above
    #    the range exchange (nondeterministic expressions are never pushed
    #    across an Exchange), so it names the range slice.
    ranged = df.repartitionByRange(n_part, *range_exprs).withColumn(
        _PID, F.spark_partition_id()
    )

    # 2. rank inside each (slice, group): partition size is bounded by the
    #    slice, not the group.
    w_local = Window.partitionBy(_PID, *part_cols).orderBy(
        *_sort_exprs(order_cols)
    )
    local = ranged.withColumn(_LRN, F.row_number().over(w_local))

    # 3. tiny offsets table: rows-per-(slice, group); cumulative over
    #    earlier slices of the same group = the slice's starting rank.
    #    Derived from `ranged`, NOT `local`: the count does not depend on
    #    the local row_number. COSMETIC, not a plan change (checked on
    #    the rfm_segments, quality_percentile and perplexity_buckets plans):
    #    Catalyst's ColumnPruning already removed the unused Window (and
    #    its sort) from the count branch when it was derived from
    #    `local` — the pre-/post-change physical plans are identical
    #    after expression-ID normalization. Kept because the explicit
    #    form doesn't rely on that optimizer rule firing.
    cnt = ranged.groupBy(_PID, *part_cols).agg(
        F.count(F.lit(1)).cast("long").alias("__rnk_cnt")
    )
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy(F.asc(_PID))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(*part_cols)
    offsets = cnt.select(
        _PID,
        *part_cols,
        F.coalesce(F.sum("__rnk_cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias(_OFF),
        F.sum("__rnk_cnt").over(w_grp).cast("long").alias(_NGRP),
    )

    key_map = {c: f"__rnk_k_{i}" for i, c in enumerate(part_cols)}
    off = offsets.select(
        F.col(_PID).alias("__rnk_k_pid"),
        *[F.col(c).alias(key_map[c]) for c in part_cols],
        _OFF,
        _NGRP,
    )
    if broadcast_offsets:
        off = F.broadcast(off)
    cond = local[_PID] == off["__rnk_k_pid"]
    for c in part_cols:
        cond = cond & local[c].eqNullSafe(off[key_map[c]])
    joined = local.join(off, cond).drop("__rnk_k_pid", *key_map.values())
    rank = F.col(_OFF) + F.col(_LRN)
    pr = F.when(F.col(_NGRP) > 1, (rank - 1) / (F.col(_NGRP) - 1)).otherwise(
        F.lit(0.0)
    )
    return joined.withColumn(out_col, pr).drop(_PID, _LRN, _OFF, _NGRP)
