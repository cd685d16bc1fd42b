"""Warm wall/task/cpu triple for a list of gate entries.

Task run-time at sf0.1 is dominated by per-task fixed overheads (32-way
fan-out of sub-second stages) and host contention; task CPU is the
contention-robust signal for "is there real compute to optimize here".
Usage: python tools/cpu_profile.py entry [entry...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from scipi_spark.session import get_spark  # noqa: E402
from scipi_spark.taskmetrics import TaskTimer  # noqa: E402

DEFAULT = [
    "xml_ingest_distributed",
    "dedup_ngram_jaccard",
    "knn_cosine_lsh",
    "emb_neardup_pairs",
    "emb_neardup_planted",
    "decontaminate_neardup",
    "dedup_increment",
    "dedup_minhash_lsh",
    "dedup_store_increment",
    "knn_store_search",
    "rfm_segments",
    "p7_keyword_count",
    "quality_percentile",
    "knn_cosine_pq",
    "perplexity_buckets",
    "bpe_train",
    "winnow_overlap",
    "market_basket_pairs",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="scipi-spark-cpu-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    timer = TaskTimer(spark)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            df.count()  # prime
            best = None
            for _ in range(3):
                w, t, c = timer.measure(lambda: df.count())
                if best is None or c < best[2]:
                    best = (w, t, c)
            print(
                f"{name:28s} wall={best[0]:7.2f} task={best[1]:8.2f} "
                f"cpu={best[2]:8.2f}"
            )
            sys.stdout.flush()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:28s} ERROR {exc}")


if __name__ == "__main__":
    main()
