"""DuckDB-oracle comparison helper mirroring the driver's t2 gate:
row-count + schema + order-insensitive value comparison with the parquet
tables registered as views."""

from __future__ import annotations

import math

import duckdb

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


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(rows, columns):
    """Sort columns by name, then rows; round floats for cross-engine sums."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = 0.0 if v == 0 else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


_SPARK_INT_TYPES = {"byte", "short", "int", "bigint", "tinyint", "smallint", "integer", "long"}
_SPARK_FLOAT_TYPES = {"float", "double"}


def _dtype_kind_audit(spark_df, duck_pdf) -> None:
    """The driver hashes BOTH results through pandas — DuckDB HUGEINT
    (sum over any integer column) lands as float64 while Spark's long
    lands as int64, so value-identical results hash-mismatch (round-3
    ``train_shards`` red row). Catch the class locally: an integer-typed
    Spark column paired with a float-kind DuckDB column (or vice versa)
    fails here even though the loose value compare would pass. Columns
    with NULLs are exempt (pandas coerces both engines to float there)."""
    spark_types = dict(spark_df.dtypes)
    for col in duck_pdf.columns:
        if col not in spark_types:
            continue
        st = spark_types[col]
        dk = duck_pdf[col].dtype.kind
        if duck_pdf[col].isnull().any():
            continue
        if st in _SPARK_INT_TYPES and dk == "f":
            raise AssertionError(
                f"column {col!r}: Spark {st} vs DuckDB float64 — the "
                f"driver's pandas hash will mismatch (HUGEINT class); "
                f"CAST the oracle expression AS BIGINT"
            )
        if st in _SPARK_FLOAT_TYPES and dk in "iu":
            raise AssertionError(
                f"column {col!r}: Spark {st} vs DuckDB integer — the "
                f"driver's pandas hash will mismatch; CAST the oracle "
                f"expression AS DOUBLE"
            )


def compare(spark_df, sql: str, sf_dir: str) -> None:
    """Assert the Spark DataFrame and the DuckDB result match
    (row count, column-name set, order-insensitive values, and
    pandas-dtype-kind compatibility mirroring the driver's hash)."""
    con = duck_connection(sf_dir)
    duck_pdf = con.execute(sql).df()
    _dtype_kind_audit(spark_df, duck_pdf)
    duck = con.execute(sql)
    duck_cols = [d[0] for d in duck.description]
    duck_rows = duck.fetchall()

    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    s = _canon(spark_rows, spark_cols)
    d = _canon(duck_rows, duck_cols)
    for i, (a, b) in enumerate(zip(s, d)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (
                    f"row {i}: {a} != {b}"
                )
            else:
                assert x == y, f"row {i}: {a} != {b}"


def formatted_plan(df) -> str:
    """The physical plan of ``df`` as ``EXPLAIN FORMATTED`` prints it."""
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def executed_plan(df) -> str:
    """The executed physical plan of ``df`` as its tree string. Under AQE
    it is the adaptive plan's current plan, without the initial plan
    printed beside it: after an action on ``df`` itself, the final one."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()
