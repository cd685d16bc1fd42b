"""Table loaders for the driver-provided parquet test tables, plus the
publications-analog mapping that lets every SciPi-domain pipeline run (and be
oracle-checked) against the generic TPC-H-ish test data.

At cluster scale these reads are plain parquet scans — Catalyst pushes filters
and prunes columns into the scan, so callers should ``select``/``filter``
before widening.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as a proper timestamp. The parquet stores
    TIMESTAMP(NANOS); with ``spark.sql.legacy.parquet.nanosAsLong`` the
    column arrives as nanos-since-epoch, converted here via exact integer
    division (micros floor — matching DuckDB's ns->us truncation)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return ev


#: The one persisted copy of the publications analog per (SparkContext,
#: sf_dir): many gate entries derive from this corpus, and at cluster
#: scale it is exactly the "validated publications table" a real
#: deployment would materialize once and share. Keyed by applicationId,
#: so a restarted context never sees another context's cached plan.
_ANALOG_CACHE: dict[tuple[str, str], DataFrame] = {}


def publications_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the TPC-H-ish tables onto the Publication schema (SURVEY §1.1).

    One order = one publication:

    - ``doi``      = o_orderkey (string)
    - ``title``    = o_orderpriority (string; low-cardinality stand-in)
    - ``publisher``= o_orderstatus
    - ``venue``    = o_orderpriority
    - ``year``     = year(o_orderdate) as a 4-char string
    - ``authors``  = distinct l_suppkey of the order's lineitems (strings)
    - ``keywords`` = distinct p_brand of the order's parts
    - ``fos``      = distinct p_type of the order's parts

    The per-order aggregation shuffles once on l_orderkey; the part join is a
    broadcast (part is a dimension table). This mirrors the ingest product:
    a deduplicated, validated publications table.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _ANALOG_CACHE:
        return _ANALOG_CACHE[key]
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")

    per_order = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_set(F.col("l_suppkey").cast("string"))
            ).alias("authors"),
            F.array_sort(F.collect_set("p_brand")).alias("keywords"),
            F.array_sort(F.collect_set("p_type")).alias("fos"),
        )
    )
    out = orders.join(per_order, orders.o_orderkey == per_order.l_orderkey).select(
        F.col("o_orderkey").cast("string").alias("doi"),
        F.col("o_orderpriority").alias("title"),
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_orderstatus").alias("publisher"),
        F.col("o_orderpriority").alias("venue"),
        F.lit("en").alias("lang"),
        F.col("keywords"),
        F.year("o_orderdate").cast("string").alias("year"),
        F.col("authors"),
        F.col("fos"),
        F.lit("oag").alias("dataset"),
    )
    _ANALOG_CACHE[key] = out.persist()
    return _ANALOG_CACHE[key]


#: DuckDB CTE prelude mirroring :func:`publications_analog` for oracle SQL.
#: Only the pieces each oracle needs are expressed inline (counts, not lists),
#: so most oracles join lineitem/part/orders directly instead.
ANALOG_PER_ORDER_SQL = """
per_order AS (
  SELECT l.l_orderkey AS okey,
         count(DISTINCT l.l_suppkey) AS n_authors
  FROM lineitem l
  GROUP BY 1
),
pubs AS (
  SELECT o.o_orderkey,
         CAST(year(o.o_orderdate) AS VARCHAR) AS year,
         p.n_authors
  FROM orders o JOIN per_order p ON o.o_orderkey = p.okey
)
"""
