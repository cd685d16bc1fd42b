"""Generate a PERFORMANCE-ONLY scaled copy of a testdata SF directory.

r13 (r12 verdict #6): at sf0.1 the bench measures task-count overhead,
not data cost (~0.2-0.3 cpu-s fixed per aggregate task; the driver's
8-core wall beat the 32-core wall). Scale evidence for the heavy
entries needs an input where data cost exceeds that floor. The host
has no sf1 tables, so this tool synthesizes one from sf0.1: each
scaled table is the input crossed with ``range(factor)`` and offset
into per-replica key spaces, so every join key resolves within its own
replica and all per-key cardinalities stay realistic (more customers /
orders / docs, not fatter keys).

Replica transforms (replica 0 is always the untouched original):

- key columns (+ replica * 10^9): orderkey, custkey, partkey, suppkey,
  event/user ids, doc_id, vec_id — int64 keys at sf0.1 are < 10^7, so
  replica spaces never collide;
- region/nation are DIMENSIONS: copied unchanged, every replica joins
  to the same 5/25 rows (exactly how TPC-H scales);
- documents.text: per-replica a-z/0-9 character ROTATION (translate) —
  within-replica shingle/winnow/minhash structure is preserved exactly,
  cross-replica gram overlap drops to ~0, so dedup candidate counts
  scale like a real corpus instead of exploding quadratically in the
  replica count;
- embeddings.embedding: per-replica CYCLIC DIMENSION SHIFT — norms and
  all within-replica dot products are bit-identical, cross-replica
  cosines decorrelate, so ANN/near-dup pair structure scales linearly.

NOT oracle data: results at this SF are never correctness-checked (the
DuckDB oracle runs at sf0.01); this exists so tools/cpu_profile.py can be
pointed at it via SPARK_GRAFT_SF_DIR. Deterministic end to end — no
rand(), row order fixed by (replica, source order), files hashed by
primary key into a fixed file count.

Usage: python tools/make_perf_sf.py [out_dir] [factor]
       (defaults: /root/perfdata/sf1, 10; source /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from scipi_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STRIDE = 10**9

#: per-table int64 key columns that move into per-replica key spaces
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]
ALPHA = string.ascii_lowercase + string.digits


def _rotate_text(col, r_col, factor):
    """CASE over replicas: translate() needs literal alphabets, so one
    branch per replica rotating a-z0-9 by the replica index."""
    out = F.col(col)
    expr = F.when(r_col == 0, out)
    for r in range(1, factor):
        rot = ALPHA[r % len(ALPHA):] + ALPHA[: r % len(ALPHA)]
        expr = expr.when(
            r_col == r, F.translate(out, ALPHA + ALPHA.upper(), rot + rot.upper())
        )
    return expr


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/perfdata/sf1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="scipi-spark-make-perf-sf")
    spark.sparkContext.setLogLevel("ERROR")
    reps = spark.range(factor).select(F.col("id").cast("long").alias("__r"))

    for name in DIMS:
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        src.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
        print(f"{name}: copied {src.count()} rows (dimension)")

    for name, keys in KEYS.items():
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        cols = src.columns
        df = src.crossJoin(reps)
        for k in keys:
            df = df.withColumn(k, F.col(k) + F.col("__r") * F.lit(STRIDE))
        if name == "documents":
            df = df.withColumn("text", _rotate_text("text", F.col("__r"), factor))
        if name == "embeddings":
            df = df.withColumn(
                "embedding",
                F.expr(
                    "transform(sequence(0, size(embedding) - 1), "
                    "i -> embedding[int((i + __r) % size(embedding))])"
                ),
            )
        n_files = max(4, min(32, factor * 2))
        (
            df.select(*cols)
            .repartition(n_files, F.col(keys[0]))
            .sortWithinPartitions(*keys)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/{name}.parquet")
        )
        print(f"{name}: x{factor} -> {out_dir}/{name}.parquet")
    spark.stop()


if __name__ == "__main__":
    main()
