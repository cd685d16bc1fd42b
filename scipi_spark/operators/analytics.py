"""The six SciPi continuous aggregations as batch DataFrame twins (P7-P12),
topics thresholding (T1-T3), and the viz-layer relational post-processing
(V1-V5). Reference: ``ScipiStream.java:146-207,759-962``,
``ScipiBatchTopics.java:62-100``, ``visualisations.py:67-416``.

All of these are single-shuffle hash aggregations: Catalyst plans a partial
(map-side) aggregate before the exchange, so at 100 TB each pipeline moves
only ``|distinct keys|`` rows per partition across the network, not the raw
data. Derived columns (percentages, averages) are computed after the
aggregate and never shuffle again.

Each function takes a Publication-shaped DataFrame (``schemas.PUBLICATION_SCHEMA``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scipi_spark.operators.sampling import salted_bucket


# ---------------------------------------------------------------------------
# P7/P8 — keyword & field-of-study occurrence counts
# (flatMap→keyBy→sum in the reference, ScipiStream.java:759-802)
# ---------------------------------------------------------------------------

def keyword_count(pubs: DataFrame) -> DataFrame:
    """P7: one count per keyword occurrence across publications."""
    return (
        pubs.select(F.explode("keywords").alias("keyword_name"))
        .groupBy("keyword_name")
        .agg(F.count(F.lit(1)).alias("keyword_count"))
    )


def keyword_count_salted(pubs: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """P7 with explicit two-stage salting for skewed keys: pre-aggregate on
    (keyword, salt) then combine. Counts are associative so the result is
    exactly :func:`keyword_count`; the point is the shuffle shape — a hot
    keyword ("computer science" at 2.3M in the reference corpus) spreads
    across ``salt_buckets`` reducers before the cheap second stage.
    (AQE skew handling covers joins; aggregation skew is handled here.)"""
    exploded = pubs.select(
        F.explode("keywords").alias("keyword_name"),
        F.pmod(F.xxhash64("doi"), F.lit(salt_buckets)).alias("_salt"),
    )
    partial = exploded.groupBy("keyword_name", "_salt").agg(
        F.count(F.lit(1)).alias("c")
    )
    return partial.groupBy("keyword_name").agg(
        F.sum("c").alias("keyword_count")
    )


def count_min_sketch(
    items: DataFrame,
    key_col: str = "keyword_name",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch of a key stream (Cormode-Muthukrishnan): ``depth``
    independent hash rows of ``width`` buckets; a key's estimate is the
    MIN over rows of its bucket's count — always >= the true count, and
    over-counts by at most ~2N/width with probability 1-2^-depth.

    The engine primitive for memory-bounded frequency monitoring at
    100 TB: the sketch is depth x width aggregated longs (here 1024 cells)
    regardless of key cardinality, mergeable across partitions/batches by
    cell-wise addition (the groupBy's partial aggregation IS that merge).
    Hashes are the repo's portable md5 buckets, so the DuckDB oracle
    replays the sketch bit-identically."""
    rows = F.array(*[F.lit(d) for d in range(depth)])
    exploded = items.select(
        F.col(key_col).alias("key"), F.explode(rows).alias("d")
    )
    bucket = salted_bucket("key", "d", width)
    return (
        exploded.select("d", bucket.alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch for each key in ``keys``: min over depth
    rows of the key's bucket count. The sketch (depth x width rows) is
    broadcast; the probe never shuffles."""
    rows = F.array(*[F.lit(d) for d in range(depth)])
    probe = keys.select(
        F.col(key_col).alias("key"), F.explode(rows).alias("d")
    )
    bucket = salted_bucket("key", "d", width)
    return (
        probe.select("key", "d", bucket.alias("bucket"))
        .join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cms_est"))
    )


def bloom_build(
    items: DataFrame,
    key_col: str = "key",
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """Bloom filter of a key set as a DataFrame of DISTINCT set bit
    positions — at most ``m_bits`` rows regardless of key cardinality,
    mergeable across batches by unioning bit sets (a distinct union IS
    the Bloom OR). Portable md5 row hashes, so the oracle replays the
    filter bit-identically. The membership primitive for join pruning
    and decontamination pre-screens at 100 TB: ship kilobits, not keys."""
    rows = F.array(*[F.lit(d) for d in range(k_hashes)])
    bit = salted_bucket("key", "d", m_bits)
    return (
        items.select(F.col(key_col).alias("key"), F.explode(rows).alias("d"))
        .select(bit.alias("bit"))
        .distinct()
    )


def bloom_might_contain(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str = "key",
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """Probe the Bloom filter: a key might be a member iff ALL of its
    ``k_hashes`` bit positions are set. No false negatives, ever; false
    positives at the classic (1-e^{-kn/m})^k rate. The bit set (<= m_bits
    rows) broadcasts; the probe never shuffles the corpus."""
    rows = F.array(*[F.lit(d) for d in range(k_hashes)])
    bit = salted_bucket("key", "d", m_bits)
    probe = probes.select(
        F.col(key_col).alias("key"), F.explode(rows).alias("d")
    ).select("key", bit.alias("bit"))
    hit = F.when(F.col("b").isNotNull(), 1).otherwise(0)
    return (
        probe.join(
            F.broadcast(bloom.select(F.col("bit").alias("b"))),
            probe["bit"] == F.col("b"),
            "left",
        )
        .groupBy("key")
        .agg((F.min(hit) == 1).alias("might_contain"))
    )


def fos_count(pubs: DataFrame) -> DataFrame:
    """P8: identical shape over fields-of-study."""
    return (
        pubs.select(F.explode("fos").alias("field_study_name"))
        .groupBy("field_study_name")
        .agg(F.count(F.lit(1)).alias("field_study_count"))
    )


# ---------------------------------------------------------------------------
# P9 — year-wise single- vs joint-authorship distribution
# (ScipiStream.java:805-859; percentages derived post-reduce)
# ---------------------------------------------------------------------------

def yrwise_dist(pubs: DataFrame) -> DataFrame:
    n_auth = F.size("authors")
    return yrwise_derived(
        pubs.groupBy("year").agg(
            F.count(F.when(n_auth == 1, 1)).alias("single"),
            F.count(F.when(n_auth > 1, 1)).alias("joint"),
        )
    )


def yrwise_derived(counts: DataFrame) -> DataFrame:
    """P9's derived columns from its additive per-year ``single``/``joint``
    counts (shared with the streaming fold, which sums the counts of two
    partial tables and derives again)."""
    total = F.col("single") + F.col("joint")
    return counts.select(
        "year",
        "single",
        "joint",
        total.alias("total"),
        (F.col("single") / total).cast("double").alias("single_perc"),
        (F.col("joint") / total).cast("double").alias("joint_perc"),
    )


# ---------------------------------------------------------------------------
# P10 — authorship pattern by team size
# (ScipiStream.java:862-892; no_authors = unit * no_articles by construction)
# ---------------------------------------------------------------------------

def authorship_pattern(pubs: DataFrame) -> DataFrame:
    return authorship_pattern_derived(
        pubs.groupBy(F.size("authors").cast("long").alias("author_unit")).agg(
            F.count(F.lit(1)).alias("no_articles")
        )
    )


def authorship_pattern_derived(counts: DataFrame) -> DataFrame:
    """P10's ``no_authors`` from its additive per-unit ``no_articles``."""
    return counts.select(
        "author_unit",
        "no_articles",
        (F.col("author_unit") * F.col("no_articles")).alias("no_authors"),
    )


# ---------------------------------------------------------------------------
# P11 — average authors per paper per year (ScipiStream.java:895-942)
# ---------------------------------------------------------------------------

def avg_authors_per_paper(pubs: DataFrame) -> DataFrame:
    return avg_authors_derived(
        pubs.groupBy("year").agg(
            F.count(F.lit(1)).alias("no_articles"),
            F.sum(F.size("authors")).alias("no_authors"),
        )
    )


def avg_authors_derived(counts: DataFrame) -> DataFrame:
    """P11's ``avg_author_paper`` from its additive per-year
    ``no_articles``/``no_authors``."""
    return counts.select(
        "year",
        "no_articles",
        "no_authors",
        (F.col("no_authors") / F.col("no_articles"))
        .cast("double")
        .alias("avg_author_paper"),
    )


# ---------------------------------------------------------------------------
# P12 — hyper-authorship count (ScipiStream.java:944-962; threshold 100)
# ---------------------------------------------------------------------------

def hyper_authorship(pubs: DataFrame, threshold: int = 100) -> DataFrame:
    return (
        pubs.filter(F.size("authors") >= threshold)
        .groupBy(F.col("year").alias("hyper_authorship_year"))
        .agg(F.count(F.lit(1)).alias("hyper_authorship_count"))
    )


# ---------------------------------------------------------------------------
# T1-T3 — topics thresholding (ScipiBatchTopics.java:62-100) + top-N display
# ---------------------------------------------------------------------------

def topics_filter(counts: DataFrame, count_col: str, n_occurrences: int) -> DataFrame:
    """T1/T2: keep rows with count >= n_occurrences. The predicate lands on
    the scan (pushdown) when counts is a stored table."""
    return counts.filter(F.col(count_col) >= n_occurrences)


def top_n(counts: DataFrame, count_col: str, n: int = 100) -> DataFrame:
    """T3/V5: top-N by count — Spark plans TakeOrderedAndProject (no global
    sort materialization)."""
    return counts.orderBy(F.desc(count_col), *[
        c for c in counts.columns if c != count_col
    ]).limit(n)


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list, k: int
) -> DataFrame:
    """Top-k rows per group, rank exposed as ``rk``. Pass fully
    deterministic ``order_cols`` (include a tie-break key).

    Plan: hash-partition on the group key, in-partition sort, row_number,
    filter — the filter prunes to k rows per group before anything
    downstream, and the whole window stays in codegen. At scale the
    per-partition sort is the only cost beyond the one shuffle; skewed
    groups split under AQE. (A heap-style partial top-k aggregate would
    avoid the sort but leaves whole-stage codegen for an ObjectHashAgg —
    the sort-based window wins until group cardinality is extreme.)"""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .withColumn("rk", F.col("rk").cast("int"))
    )


# ---------------------------------------------------------------------------
# V1 — authorship-pattern display table with >cutoff bucket and cumulative %
# (visualisations.py:67-138 — the one window function in the reference)
# ---------------------------------------------------------------------------

def authorship_pattern_table(authorptrn: DataFrame, cutoff: int = 20) -> DataFrame:
    bucketed = (
        authorptrn.withColumn(
            "unit_bucket",
            F.when(F.col("author_unit") > cutoff, F.lit(cutoff + 1)).otherwise(
                F.col("author_unit")
            ),
        )
        .groupBy("unit_bucket")
        .agg(
            F.sum("no_articles").alias("no_articles"),
            F.sum("no_authors").alias("no_authors"),
        )
    )
    total = Window.partitionBy()
    cum = (
        Window.partitionBy()
        .orderBy("unit_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return bucketed.select(
        F.when(F.col("unit_bucket") > cutoff, F.lit(f">{cutoff}"))
        .otherwise(F.col("unit_bucket").cast("string"))
        .alias("author_unit"),
        "no_articles",
        "no_authors",
        F.round(
            F.col("no_articles") * 100.0 / F.sum("no_articles").over(total), 2
        ).alias("perc_articles"),
        F.round(
            F.sum("no_articles").over(cum) * 100.0 / F.sum("no_articles").over(total),
            2,
        ).alias("cum_perc_articles"),
        F.col("unit_bucket").alias("_order"),
    ).orderBy("_order").drop("_order")


# ---------------------------------------------------------------------------
# V2/V3/V4 — year-wise display tables (filter/sort/limit/round)
# ---------------------------------------------------------------------------

def yrwise_table(yrdist: DataFrame, max_year: int = 2019, n_years: int = 20) -> DataFrame:
    """V2: numeric-year filter, sort desc, head(n), percentages scaled+rounded
    (visualisations.py:140-216)."""
    return (
        yrdist.withColumn("year_num", F.col("year").cast("int"))
        .filter(F.col("year_num") <= max_year)
        .orderBy(F.desc("year_num"))
        .limit(n_years)
        .select(
            "year",
            "single",
            "joint",
            "total",
            F.round(F.col("single_perc") * 100, 2).alias("single_perc"),
            F.round(F.col("joint_perc") * 100, 2).alias("joint_perc"),
        )
    )


def aap_table(aap: DataFrame, max_year: int = 2019, n_years: int = 20) -> DataFrame:
    """V3 (visualisations.py:218-275)."""
    return (
        aap.withColumn("year_num", F.col("year").cast("int"))
        .filter(F.col("year_num") <= max_year)
        .orderBy(F.desc("year_num"))
        .limit(n_years)
        .select("year", "no_articles", "no_authors", F.round("avg_author_paper", 2).alias("avg_author_paper"))
    )


def hyper_table(hyper: DataFrame, min_year: int = 1990) -> DataFrame:
    """V4 (visualisations.py:277-327)."""
    return hyper.filter(
        F.col("hyper_authorship_year").cast("int") >= min_year
    ).orderBy("hyper_authorship_year")
