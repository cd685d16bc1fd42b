"""Deterministic, reproducible sampling for training-data pipelines.

Random sampling (``df.sample``) is seed- and partitioning-dependent: the
same document can land in different splits across runs or cluster
layouts.  These operators hash a stable key instead — a document's split
NEVER changes as the corpus grows, shrinks, or repartitions, which is
the property training pipelines actually need (no eval contamination
when new data arrives).

The hash is the first 8 hex chars of md5 — deliberately portable: the
identical expression exists in every engine (the DuckDB oracle computes
the same buckets), unlike xxhash64 which is Spark-specific.  All pure
Column expressions, fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bucket space; 10^4 gives 0.01% split granularity
N_BUCKETS = 10_000


def _md5_bucket(s: Column, buckets: int) -> Column:
    h = F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
    return h.cast("long") % buckets


def hash_bucket(col: Column | str, buckets: int = N_BUCKETS) -> Column:
    """Stable bucket in [0, buckets) from the md5 of the key's string
    form (portable across engines and runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return _md5_bucket(c.cast("string"), buckets).alias("bucket")


def salted_bucket(key: str, salt: str, buckets: int) -> Column:
    """Bucket in [0, buckets) of column ``key`` under integer column
    ``salt``: the md5 bucket of ``key || ':' || salt``. One salt per
    hash row of a count-min sketch or per hash function of a Bloom
    filter; the SQL oracles replay it as
    ``conv(substring(md5(key || ':' || d), 1, 8), 16, 10) % m``."""
    s = F.concat(F.col(key), F.lit(":"), F.col(salt).cast("string"))
    return _md5_bucket(s, buckets)


def dataset_split(
    df: DataFrame,
    key: str = "doc_id",
    weights: tuple[tuple[str, float], ...] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
) -> DataFrame:
    """Assign every row to a named split by hash bucket: cumulative
    weight thresholds over ``hash_bucket(key)``.  Adding documents later
    never moves an existing document between splits."""
    b = hash_bucket(key)
    expr = None
    acc = 0.0
    for name, w in weights:
        acc += w
        cond = b < int(round(acc * N_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # float fuzz guard: anything past the last threshold joins the tail
    expr = expr.otherwise(weights[-1][0])
    return df.select("*", expr.alias("split"))


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    weights: tuple[tuple[str, float], ...] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
) -> DataFrame:
    """Dataset split keyed by CONTENT fingerprint instead of document id:
    exact duplicates (and re-crawls of the same page under new ids)
    always land in the same split, so a train/test leak via duplicated
    text is impossible by construction. Splitting on doc_id cannot give
    this guarantee — two copies of one document hash to independent
    buckets.

    Same cumulative-threshold bucket math as :func:`dataset_split`, over
    ``hash_bucket(fingerprint(text))`` — still one narrow scan-fused
    expression, no join and no shuffle. For NEAR-duplicate safety,
    compose upstream: map each doc to its dedup-cluster representative
    (:func:`~scipi_spark.operators.graph.dedup_clusters`) and split on
    the representative's fingerprint."""
    from scipi_spark.operators.textops import fingerprint

    b = hash_bucket(fingerprint(text_col))
    expr = None
    acc = 0.0
    for name, wt in weights:
        acc += wt
        cond = b < int(round(acc * N_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = expr.otherwise(weights[-1][0])
    return df.select("*", expr.alias("split"))


def neardup_safe_split(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: tuple[tuple[str, float], ...] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
) -> DataFrame:
    """The NEAR-duplicate-safe split :func:`leakage_safe_split` points
    at: every member of a near-dup cluster splits on the CLUSTER
    REPRESENTATIVE's content fingerprint, so lightly-edited copies —
    which hash to different fingerprints and would land in different
    splits — are co-located by construction. Singletons (absent from
    ``clusters``) fall back to their own fingerprint, i.e. exact-dup
    safety everywhere, near-dup safety where the pair graph found one.

    ``clusters`` is :func:`~scipi_spark.operators.graph.dedup_clusters`
    output (doc, cluster) with cluster = min member id — so the
    representative IS a document id, and its fingerprint comes from one
    join of the (tiny) distinct-cluster table back to the corpus. The
    corpus itself takes one left join against the doc→rep_fp map
    (cluster tables are duplicate-only and usually broadcast; the
    fallback is a doc-id shuffle join, bucketable on both sides). The
    split expression stays the same cumulative md5-bucket CASE as every
    other split operator."""
    from scipi_spark.operators.textops import fingerprint

    reps = (
        clusters.select(F.col("cluster").alias("rep_id")).distinct()
        .join(
            df.select(
                F.col(id_col).alias("rep_id"),
                fingerprint(text_col).alias("rep_fp"),
            ),
            "rep_id",
        )
    )
    doc_rep = clusters.join(reps, clusters.cluster == reps.rep_id).select(
        F.col("doc").alias(id_col), "rep_fp"
    )
    keyed = df.join(doc_rep, id_col, "left").withColumn(
        "split_key", F.coalesce(F.col("rep_fp"), fingerprint(text_col))
    )
    b = hash_bucket("split_key")
    expr = None
    acc = 0.0
    for name, wt in weights:
        acc += wt
        cond = b < int(round(acc * N_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = expr.otherwise(weights[-1][0])
    return keyed.select(*df.columns, expr.alias("split"))


def deterministic_sample(
    df: DataFrame, rate: float, key: str = "doc_id"
) -> DataFrame:
    """Keep a stable ``rate`` fraction by hash bucket — the reproducible
    (and join-consistent: the same keys survive in every table sampled
    with the same key) alternative to ``df.sample``."""
    return df.filter(hash_bucket(key) < int(round(rate * N_BUCKETS)))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    key: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing primitive:
    each stratum (source, language, domain, ...) keeps its own stable
    fraction, e.g. up-weight curated sources and down-weight crawl data
    while preserving reproducibility (the same documents survive on every
    run and cluster layout).

    One scan, one fused filter — the per-stratum threshold is a CASE
    expression on ``strata_col``, so no per-stratum jobs, no unions, and
    Catalyst pushes the whole predicate into the scan."""
    thr = None
    for s, r in sorted(rates.items()):
        t = int(round(r * N_BUCKETS))
        thr = (
            F.when(F.col(strata_col) == s, t)
            if thr is None
            else thr.when(F.col(strata_col) == s, t)
        )
    thr = (
        thr.otherwise(int(round(default_rate * N_BUCKETS)))
        if thr is not None
        else F.lit(int(round(default_rate * N_BUCKETS)))
    )
    return df.filter(hash_bucket(key) < thr)


def token_budget_cap(
    df: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    group_col: str = "source",
    key: str = "doc_id",
) -> DataFrame:
    """Cap each group's total token count at ``budget``: documents are
    admitted in stable hash order (bucket, then key — reproducible and
    independent of partitioning) until the group's running token sum
    would exceed the budget.  The standard "at most N tokens per domain"
    knob in training-data mixes; because admission order is hashed, the
    kept set is an unbiased sample of the group, not its head.

    One shuffle (window partitioned by group).  Skew note: a single
    giant group serializes into one window partition — at 100 TB, cap
    groups are domains/sources (thousands of rows each after upstream
    filters, not billions), which is the regime this targets."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(hash_bucket(key), F.col(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_cum_tokens", F.sum(tokens_col).over(w))
        .filter(F.col("_cum_tokens") <= budget)
        .drop("_cum_tokens")
    )


def shard_assignment(
    df: DataFrame, key: str = "doc_id", n_shards: int = 8
) -> DataFrame:
    """The deterministic shard id used by
    :func:`scipi_spark.sources.io.write_training_shards`: portable
    md5-bucket of ``key`` directly onto ``n_shards`` — a document's shard
    never changes across runs, corpus growth, or cluster layouts.  Pure
    Column expression fused into the scan; the writer adds one
    ``repartition(n_shards, shard)`` exchange on top."""
    return df.withColumn("shard", hash_bucket(key, n_shards))


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = 8,
    key: str = "doc_id",
) -> DataFrame:
    """Deterministic per-epoch global shuffle for training-data ordering:
    every row gets a stable pseudo-random order key from
    ``md5(key || ':' || epoch)``, a shard from that key, and its position
    within the shard. The SAME order reproduces on every run, engine, and
    partitioning, and each epoch is an independent permutation — the
    property a training job needs to resume mid-epoch or re-materialize a
    shard without re-shuffling the corpus differently.

    Scale shape: the order hash is scan-fused; one exchange on ``shard``
    (what writing shards needs anyway) and a within-shard sort — never a
    global sort. Reading side streams shard files in position order."""
    from pyspark.sql import Window

    c = F.col(key).cast("string")
    h = F.conv(
        F.substring(F.md5(F.concat(c, F.lit(":"), F.lit(str(epoch)))), 1, 12),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("order_key", F.col(key))
    return (
        df.withColumn("order_key", h)
        .withColumn("shard", (F.col("order_key") % n_shards).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def source_mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    budget: int,
    tokens_col: str = "n_tokens",
    group_col: str = "source",
) -> DataFrame:
    """Compute the admission plan for a budgeted source mixture — the
    domain-reweighting step of published training-data pipelines (a
    target mixture like {web: 0.6, code: 0.2, books: 0.2} over a total
    token budget): per source, how many tokens are available, how many
    the mixture wants (``floor(budget * weight)``), and the admission
    rate in basis points of the hash-bucket space that delivers it.

    A source with fewer tokens than its target admits everything
    (rate = N_BUCKETS); the mixture is then under-filled rather than
    silently rebalanced — the caller sees the shortfall in the plan and
    decides (published pipelines re-normalize across epochs, not within
    one pass). All arithmetic is integer (truncating division), so the
    plan replicates bit-exactly in any engine.

    One tiny aggregation (|sources| rows); the plan broadcasts into
    :func:`source_mixture_cap`'s filter, so the corpus itself is never
    shuffled — the admission decision is a scan-fused predicate."""
    avail = df.groupBy(group_col).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("available_tokens")
    )
    target = None
    for s, w in sorted(weights.items()):
        t = int(budget * w)
        target = (
            F.when(F.col(group_col) == s, F.lit(t))
            if target is None
            else target.when(F.col(group_col) == s, F.lit(t))
        )
    target = target.otherwise(F.lit(0)) if target is not None else F.lit(0)
    return avail.select(
        group_col,
        "available_tokens",
        target.cast("long").alias("target_tokens"),
    ).withColumn(
        "rate_bps",
        F.least(
            F.lit(N_BUCKETS).cast("long"),
            F.expr(f"(target_tokens * {N_BUCKETS}) DIV available_tokens"),
        ),
    )


def source_mixture_epochs(
    df: DataFrame,
    weights: dict[str, float],
    budget: int,
    tokens_col: str = "n_tokens",
    group_col: str = "source",
    key: str = "doc_id",
    max_epochs: int = 16,
) -> DataFrame:
    """The UP-sampling mixture: when a source's target exceeds its
    available tokens, published mixes repeat the source for multiple
    epochs (small curated corpora trained 2-5x against one web epoch)
    rather than under-fill. Per document: ``repeats`` = full epochs
    (``rate DIV N_BUCKETS``) + 1 if the document's stable hash bucket
    falls under the fractional remainder — so the planned token total
    tracks ``target`` exactly in expectation, every document appears
    either ``floor(rate)`` or ``ceil(rate)`` times, and the assignment
    is reproducible in any engine (all integer arithmetic + the md5
    bucket). ``max_epochs`` caps runaway weights (a 1000x repeat is a
    config bug, not a mixture).

    Output: one row per input document with ``repeats`` (possibly 0) —
    the loader materializes repeats at read time (or a trivial
    ``explode(sequence(1, repeats))`` does, at the cost of actually
    duplicating rows). Same shuffle story as the cap variant: the plan
    broadcasts, the corpus is never shuffled."""
    plan = source_mixture_plan(df, weights, budget, tokens_col, group_col)
    rate_uncapped = F.least(
        F.lit(max_epochs * N_BUCKETS).cast("long"),
        F.expr(f"(target_tokens * {N_BUCKETS}) DIV available_tokens"),
    )
    plan = plan.select(group_col, rate_uncapped.alias("rate_bps_raw"))
    b = hash_bucket(key)
    return df.join(F.broadcast(plan), group_col).select(
        "*",
        (
            F.expr(f"rate_bps_raw DIV {N_BUCKETS}")
            + (b < F.col("rate_bps_raw") % N_BUCKETS).cast("long")
        ).alias("repeats"),
    ).drop("rate_bps_raw")


def source_mixture_cap(
    df: DataFrame,
    weights: dict[str, float],
    budget: int,
    tokens_col: str = "n_tokens",
    group_col: str = "source",
    key: str = "doc_id",
    plan: DataFrame | None = None,
) -> DataFrame:
    """Apply :func:`source_mixture_plan`: keep each source's stable
    hash-bucket fraction so the admitted corpus approximates the target
    mixture under the token budget. The kept set is reproducible (same
    documents on every run, partitioning, and engine) and unbiased per
    source (hash order, not head-of-file order).

    The plan side is |sources| rows — broadcast by size — so the only
    work on the corpus is one scan with a fused comparison; no shuffle,
    no window. Pass ``plan`` if :func:`source_mixture_plan` was already
    computed (a caller reporting plan + admission would otherwise run
    the availability aggregation twice). Rate quantization note:
    admission is per-document by bucket, so realized tokens track
    ``rate * available`` with O(1/N_BUCKETS) relative granularity plus
    per-document variance — the same tolerance every bucket-sampling
    step of a pipeline has."""
    if plan is None:
        plan = source_mixture_plan(df, weights, budget, tokens_col, group_col)
    return df.join(
        F.broadcast(plan.select(group_col, "rate_bps")), group_col
    ).filter(hash_bucket(key) < F.col("rate_bps")).drop("rate_bps")


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    group_col: str | None = None,
    key: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row gets the key ``ln(u) / w`` with ``u`` a
    stable uniform derived from the md5 of ``key`` — the top-``n`` rows
    by that key (per ``group_col`` if given) are a weighted sample, and
    the SAME rows win on every run, partitioning, and engine. The
    weighted analog of :func:`deterministic_sample`: up-weight curated
    documents inside a fixed-size budget, reproducibly.

    One window shuffle on the group column when grouped; ungrouped, a
    global ``orderBy().limit(n)`` (TakeOrderedAndProject: per-partition
    partial top-n, only n rows per partition reach the driver-side merge
    — an empty-partitionBy window would funnel the whole corpus through
    ONE task at 100 TB). Cross-engine caveat: ordering parity relies on
    ``ln`` agreeing between engines, which holds beyond 1-ulp ties — the
    same contract the bigram cross-entropy oracle already uses."""
    from pyspark.sql import Window

    c = F.col(key).cast("string")
    h = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    # u in (0, 1]: (h + 1) / 2^32 over the full 8-hex-char range
    u = (h + F.lit(1).cast("double")) / F.lit(float(2**32))
    es_key = F.log(u) / F.col(weight_col).cast("double")
    scored = df.withColumn("_es", es_key)
    if group_col is None:
        return scored.orderBy(F.desc("_es"), F.col(key)).limit(n).drop("_es")
    w = Window.partitionBy(group_col).orderBy(F.desc("_es"), F.col(key))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_es", "_rn")
    )


def source_mixture_temperature(
    df: DataFrame,
    budget: int,
    temperature: float = 2.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled source mixing (the XLM / multilingual-LLM
    recipe, Conneau & Lample 2019): sampling weight per source
    ``w_s = n_s^(1/T)`` — T > 1 flattens the source distribution,
    upweighting tail sources relative to their corpus share, which is
    how every multilingual pretraining mix keeps low-resource
    languages from vanishing. Per-source targets use LARGEST-REMAINDER
    allocation (round-9 advice — independent per-source rounding could
    miss the budget by up to ~n_sources/2): each source gets
    ``floor(budget * w_s / sum(w))``, and the leftover
    ``budget - sum(floors)`` goes one-each to the largest fractional
    parts (ties by source name), so ``sum(target) == budget`` exactly
    whenever ``budget <= n_docs`` per source allows. Admission takes
    each source's top-``target`` documents by portable md5 rank
    (deterministic, order-free, stable under corpus repartitioning).

    Scale shape: the weight table is one tiny aggregate broadcast
    back; the remainder ranking is a window over the SOURCE table
    (one row per source, never the corpus); admission is ONE window
    shuffle partitioned by source (never a global sort); the corpus is
    scanned once. With T=2 the weight is an IEEE ``sqrt`` — exact in
    every engine, so the oracle reproduces targets bit-for-bit.

    ``id_col`` must be NUMERIC: the output pins the admitted set via
    ``sum_admitted_ids`` (and the md5 rank hashes the id's canonical
    integer string) — a non-numeric id column raises up front instead
    of producing a null checksum.

    Returns one row per source: (source, n_docs, weight, target,
    n_admitted, sum_admitted_ids) — the id-sum pins the exact admitted
    SET, not just its size."""
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    if not isinstance(df.schema[id_col].dataType, NumericType):
        raise TypeError(
            f"source_mixture_temperature requires a numeric id_col; "
            f"{id_col!r} is {df.schema[id_col].dataType.simpleString()} — "
            "the admitted-set checksum sums ids"
        )
    if temperature != 2.0:
        # n^(1/T) for general T relies on cross-libm pow parity; sqrt
        # (T=2, the common production setting) is IEEE-exact everywhere
        inv_t = 1.0 / temperature
        weight = F.pow(F.col("n_docs"), F.lit(inv_t))
    else:
        weight = F.sqrt(F.col("n_docs"))
    counts = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("weight", weight)
    )
    total = counts.agg(F.sum("weight").alias("w_total"))
    quota = F.lit(float(budget)) * F.col("weight") / F.col("w_total")
    floors = counts.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "weight",
        F.floor(quota).cast("long").alias("base"),
        (quota - F.floor(quota)).alias("frac"),
    )
    # largest-remainder: the leftover budget goes one-each to the
    # biggest fractional parts — windows over the tiny per-source table
    w_all = Window.partitionBy(F.lit(1))
    w_frac = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("frac"), F.asc("source")
    )
    plan = (
        floors.withColumn(
            "leftover", F.lit(int(budget)) - F.sum("base").over(w_all)
        )
        .withColumn("frac_rank", F.row_number().over(w_frac))
        .select(
            "source",
            "n_docs",
            "weight",
            (
                F.col("base")
                + (F.col("frac_rank") <= F.col("leftover")).cast("long")
            ).alias("target"),
        )
    )
    rank_key = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = Window.partitionBy(source_col).orderBy(rank_key, F.col(id_col))
    ranked = df.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        F.row_number().over(w).alias("rk"),
    )
    admitted = ranked.join(F.broadcast(plan), "source").filter(
        F.col("rk") <= F.col("target")
    )
    return (
        admitted.groupBy("source", "n_docs", "target")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_admitted"),
            F.sum("doc_id").cast("long").alias("sum_admitted_ids"),
        )
        .join(plan.select("source", F.round("weight", 6).alias("weight")), "source")
        .select(
            "source", "n_docs", "weight", "target",
            "n_admitted", "sum_admitted_ids",
        )
    )
