"""Scaling-curve evidence for the top-cost headliners (round-6 verdict #2).

Runs each curve entry at sf0.001 / sf0.01 / sf0.1 and records EXECUTOR
TASK TIME (scipi_spark.taskmetrics — contention-robust, unlike wall
clock on this shared box) against the entry's driving input rows. A
near-linear task-time-vs-rows curve is the direct, noise-proof answer to
"would this survive 100x" — stronger than any single-SF number.

Per (entry, sf): one untimed warm-up execution (pays one-time store
writes / centroid training / codegen), then WARM_SAMPLES timed runs;
the minimum is the steady-state cost. The log-log slope between the two
largest SFs is the headline: slope 1.0 = linear, 2.0 = quadratic.
tests/test_entry_oracle.py pins SCALING.json to the live registry and
asserts every slope stays under the near-linear band.

Deliberately UNLIKE warm re-count samples, each timed run here
rebuilds and re-executes the query: the curves exist to show how the
WORK grows with rows, and measuring re-counts of one primed DataFrame
would mostly time cache hits (verified: under the primed methodology
c8_store_lpa collapses from 38 task-s to 0.3 — the label cache, not the
superstep loop — and the scaling signal disappears).

Input-rows attribution (the table whose cardinality drives each entry;
TESTDATA.md: lineitem/orders/events scale 100x across these SFs,
documents 10x, embeddings 4x):

- p1_p5_ingest_oag   -> orders+lineitem (JSON serialize+parse+validate)
- c8_store_lpa       -> lineitem (collab edges derive from it)
- dedup_minhash_lsh  -> documents (shingle -> minhash -> banded join)
- dedup_semantic     -> documents (k-means cells + within-cell prune)
- knn_store_search   -> embeddings (bucketed ANN store probe)

Usage: python tools/scaling_curves.py   (writes SCALING.json, ~5 min)
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

#: entry -> tables whose row count is the entry's input scale.
#: Round-10 (r9 verdict #4): extended to the full heavy cohort — every
#: entry among the 10 most task-expensive at sf0.1 now has a
#: current-code curve.
CURVES = {
    "p1_p5_ingest_oag": ["orders", "lineitem"],
    "c8_store_lpa": ["lineitem"],
    "dedup_minhash_lsh": ["documents"],
    "dedup_semantic": ["documents"],
    "knn_store_search": ["embeddings"],
    "dedup_substring_spans": ["documents"],
    "dsir_importance": ["documents"],
    "dedup_ngram_jaccard": ["documents"],
    "knn_cosine_lsh": ["embeddings"],
    "knn_cosine_pq": ["embeddings"],
    "emb_neardup_pairs": ["embeddings"],
    "community_pipeline": ["orders", "lineitem"],
    "c14_decorated_subgraph": ["orders", "lineitem"],
    # round-11: the distributed XML transport (round-10 verdict #6 — the
    # one reference SOURCE operator without a perf number; publications
    # analog derives from orders+lineitem) and the incremental-ER store
    # probe (record fixture derives from part)
    "xml_ingest_distributed": ["orders", "lineitem"],
    "er_store_increment": ["part"],
}

#: per-entry slope ceilings where the default near-linear band does not
#: apply, with the reason; everything else asserts <= 1.6 in
#: tests/test_entry_oracle.py. dedup_ngram_jaccard is the DOCUMENTED
#: exact all-pairs baseline (its scale path is dedup_minhash_lsh), so
#: its honest cost is up to quadratic in the shared-shingle pair count.
SLOPE_CEILINGS = {"dedup_ngram_jaccard": 2.3}

WARM_SAMPLES = 2


def main() -> None:
    import __spark_entry__ as entrymod
    from scipi_spark.session import get_spark
    from scipi_spark.taskmetrics import TaskTimer

    spark = get_spark(app_name="scipi-spark-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    timer = TaskTimer(spark)
    qs = entrymod.queries()

    rows: dict[str, dict[str, int]] = {}
    out: dict[str, dict] = {name: {} for name in CURVES}
    for sf_dir in SF_DIRS:
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        rows[sf] = {
            t: spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
            for t in {t for ts in CURVES.values() for t in ts}
        }
        for name in CURVES:
            fn = qs[name]
            fn(spark, sf_dir).count()  # warm-up: store writes, codegen
            walls, tasks = [], []
            for _ in range(WARM_SAMPLES):
                w, tr, _tc = timer.measure(lambda: fn(spark, sf_dir).count())
                walls.append(w)
                tasks.append(tr)
            n_in = sum(rows[sf][t] for t in CURVES[name])
            out[name][sf] = {
                "rows_in": n_in,
                "task": round(min(tasks), 3),
                "wall": round(min(walls), 3),
            }
            print(
                f"# {name} sf{sf}: rows {n_in} task {min(tasks):.3f}s "
                f"wall {min(walls):.3f}s",
                file=sys.stderr,
            )

    for name, by_sf in out.items():
        lo, hi = by_sf["0.01"], by_sf["0.1"]
        # slope on the 0.01 -> 0.1 leg (every driving table grows there;
        # sf0.001 shares documents/embeddings cardinality with sf0.01)
        row_ratio = hi["rows_in"] / lo["rows_in"]
        task_ratio = hi["task"] / max(lo["task"], 1e-3)
        by_sf["slope"] = round(
            math.log(max(task_ratio, 1e-6)) / math.log(row_ratio), 3
        )

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "SCALING.json"), "w") as fh:
        json.dump({"curves": out, "rows": rows}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v["slope"] for k, v in out.items()}))


if __name__ == "__main__":
    main()
