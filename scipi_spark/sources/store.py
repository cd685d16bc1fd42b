"""Publications store semantics (S5): the reference's Cassandra table is
keyed ((doi, title), id DESC) — upsert-by-(doi,title) with a time-uuid
tiebreaker (``src/scripts/cassandraDB:9-22``), i.e. reading the table
yields the LATEST record per (doi, title).

Here the store is parquet + a compaction view: ``latest_publications``
dedups by key keeping the max surrogate id — one window (or max_by
aggregate) over the key partitioning, the standard lakehouse
last-write-wins read.

The type-2 sibling keeps attribute history: :func:`scd2_apply` merges a
batch of updates into a dimension of validity intervals, and the
dimension persists as a storectl store (:data:`SCD2_STORE`) that the
streaming fold ``pipelines.run_streaming_scd2_fold`` appends to."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scipi_spark.sources import storectl

#: The SCD2 dimension store: one plain-parquet ``dim`` artifact holding
#: ``(key, attrs..., valid_from, valid_to, is_current)``.
SCD2_STORE = storectl.StoreSpec("SCD2 dimension store", "scd2-v1")


def latest_publications(pubs: DataFrame, id_col: str = "id") -> DataFrame:
    """Last-write-wins view: one row per (doi, title), highest id wins
    (the reference's clustering order ``publication_id DESC``)."""
    w = Window.partitionBy("doi", "title").orderBy(F.desc(id_col))
    return (
        pubs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def append_publications(pubs: DataFrame, path: str) -> None:
    """S5 sink: append-only parquet; readers compact via
    :func:`latest_publications`."""
    pubs.write.mode("append").parquet(path)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge — the warehouse pattern
    for keeping full attribute HISTORY instead of last-write-wins
    (:func:`latest_publications` is the type-1 sibling): apply a batch
    of timestamped attribute updates to a dimension of validity
    intervals ``(key, attrs..., valid_from, valid_to, is_current)``.

    Semantics (standard SCD2):

    - an update whose attrs DIFFER from the key's current row closes
      that row (``valid_to`` = update ts, ``is_current`` = false) and
      opens a new one (``valid_from`` = ts, open-ended, current);
    - several updates for one key in a batch apply in ``ts_col`` order,
      each closing its predecessor — consecutive duplicates (no attr
      change) collapse away, so a replayed update is a no-op;
    - an unknown key inserts an open-ended row;
    - closed history rows pass through untouched.

    Scale shape: ONE window shuffle on the key over (current rows +
    updates) does the whole merge — change detection is a ``lag``
    comparison, interval closing is a ``lead`` over the same
    partitioning, so Catalyst fuses both into a single sort — and the
    (typically enormous) closed-history partition is never shuffled at
    all. No driver-side loop, no per-update MERGE round-trips: a day's
    updates fold in one job regardless of dimension size.

    ``valid_from``/``valid_to``/``ts_col`` are integer timestamps;
    update timestamps are expected to be strictly greater than the
    affected key's current ``valid_from`` (late-arriving history
    rewrites need a full rebuild, as in every SCD2 store)."""
    closed = dim.filter(~F.col("is_current"))
    current = dim.filter(F.col("is_current")).select(
        key, *attrs, F.col("valid_from").cast("long").alias("ts")
    )
    incoming = updates.select(
        key, *attrs, F.col(ts_col).cast("long").alias("ts")
    )
    wk = Window.partitionBy(key).orderBy("ts")
    merged = (
        current.unionByName(incoming)
        .withColumn("_a", F.struct(*attrs))
        .withColumn("_prev", F.lag("_a").over(wk))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("_a")))
    )
    versions = merged.select(
        key, *attrs,
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wk).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())
    return versions.unionByName(
        closed.select(key, *attrs, "valid_from", "valid_to", "is_current")
    )


def write_scd2_store(dim: DataFrame, path: str) -> None:
    """Publish ``dim`` as a fresh version of the SCD2 dimension store at
    ``path``."""
    with storectl.rebuild(path.rstrip("/"), SCD2_STORE) as build:
        build.add("dim", dim)


def read_scd2_store(spark, path: str) -> DataFrame:
    """The live version's dimension (``FileNotFoundError`` when nothing
    is published)."""
    ver = storectl.open_store(path.rstrip("/"), SCD2_STORE)
    return spark.read.parquet(ver.path("dim"))
