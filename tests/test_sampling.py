"""The property that justifies hash-based sampling over df.sample:
assignments are a pure function of the key — stable under corpus
growth, repartitioning, and across tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from scipi_spark.operators import sampling
from tests.oracle import executed_plan


def _docs(spark, n):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_split_stable_under_corpus_growth(spark):
    small = sampling.dataset_split(_docs(spark, 100), key="doc_id")
    large = sampling.dataset_split(_docs(spark, 200), key="doc_id")
    s = {r["doc_id"]: r["split"] for r in small.collect()}
    l = {r["doc_id"]: r["split"] for r in large.collect()}
    assert all(l[k] == v for k, v in s.items())  # no doc ever moves


def test_split_covers_and_weights_roughly_hold(spark):
    rows = sampling.dataset_split(_docs(spark, 5000), key="doc_id").collect()
    from collections import Counter

    c = Counter(r["split"] for r in rows)
    assert set(c) == {"train", "val", "test"}
    assert sum(c.values()) == 5000
    assert 0.85 < c["train"] / 5000 < 0.95


def test_deterministic_sample_join_consistent(spark):
    a = sampling.deterministic_sample(_docs(spark, 1000), 0.2, key="doc_id")
    b = sampling.deterministic_sample(
        _docs(spark, 1000).withColumn("extra", F.lit(1)), 0.2, key="doc_id"
    )
    ka = {r["doc_id"] for r in a.collect()}
    kb = {r["doc_id"] for r in b.collect()}
    assert ka == kb            # same survivors in any table
    assert 100 < len(ka) < 300  # ~20%


def test_split_unaffected_by_partitioning(spark):
    one = sampling.dataset_split(_docs(spark, 500).coalesce(1), key="doc_id")
    many = sampling.dataset_split(_docs(spark, 500).repartition(16), key="doc_id")
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def _sourced(spark, n):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
        (F.col("id") % 7 + 1).alias("n_tokens"),
    )


def test_stratified_sample_respects_per_stratum_rates(spark):
    rows = sampling.stratified_sample(
        _sourced(spark, 2000),
        rates={"src0": 1.0, "src1": 0.0, "src2": 0.5},
        strata_col="source",
        key="doc_id",
        default_rate=0.2,
    ).collect()
    from collections import Counter

    c = Counter(r["source"] for r in rows)
    assert c["src0"] == 500          # rate 1.0 keeps every row
    assert "src1" not in c           # rate 0.0 keeps none
    assert 175 < c["src2"] < 325     # ~50%
    assert 50 < c["src3"] < 150      # default 20%


def test_stratified_sample_subset_of_deterministic_sample(spark):
    # a stratum's survivors are exactly deterministic_sample at its rate
    df = _sourced(spark, 1000)
    strat = sampling.stratified_sample(
        df, rates={"src0": 0.3}, strata_col="source", key="doc_id"
    )
    flat = sampling.deterministic_sample(
        df.filter(F.col("source") == "src0"), 0.3, key="doc_id"
    )
    assert sorted(r["doc_id"] for r in strat.collect()) == sorted(
        r["doc_id"] for r in flat.collect()
    )


def test_token_budget_cap_bounds_every_group(spark):
    out = sampling.token_budget_cap(
        _sourced(spark, 1000), budget=50, group_col="source", key="doc_id"
    )
    sums = {
        r["source"]: r["t"]
        for r in out.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert sums and all(t <= 50 for t in sums.values())


def test_token_budget_cap_stable_under_partitioning(spark):
    df = _sourced(spark, 500)
    one = sampling.token_budget_cap(df.coalesce(1), budget=80, group_col="source")
    many = sampling.token_budget_cap(df.repartition(16), budget=80, group_col="source")
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_token_budget_cap_admits_prefix_not_head(spark):
    # admission is hash-ordered: the kept set is NOT simply the lowest ids
    df = _sourced(spark, 400)
    kept = {r["doc_id"] for r in sampling.token_budget_cap(
        df, budget=100, group_col="source").collect()}
    n = len(kept)
    assert 0 < n < 400
    assert kept != set(range(n))


def test_shard_assignment_stable_and_matches_writer(spark, tmp_path):
    """A document's shard is partitioning-invariant and identical to the
    shard directory write_training_shards puts it in."""
    from scipi_spark.sources.io import write_training_shards

    df = _sourced(spark, 300)
    one = {r["doc_id"]: r["shard"] for r in sampling.shard_assignment(
        df.coalesce(1), n_shards=8).collect()}
    many = {r["doc_id"]: r["shard"] for r in sampling.shard_assignment(
        df.repartition(16), n_shards=8).collect()}
    assert one == many
    path = str(tmp_path / "shards")
    write_training_shards(df, path, n_shards=8)
    written = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(path).select("doc_id", "shard").collect()
    }
    assert written == one


def test_weighted_sample_matches_duckdb_and_is_stable(spark):
    """A-ES weighted sample: identical rows across partitionings, and the
    exact same winners as the identical formula computed in DuckDB."""
    import duckdb

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = sampling.weighted_sample(
        docs, n=10, weight_col="n_chars", group_col="source"
    ).select("doc_id", "source")
    got = sorted(map(tuple, out.collect()))
    got_repart = sorted(
        map(
            tuple,
            sampling.weighted_sample(
                docs.repartition(16), n=10, weight_col="n_chars", group_col="source"
            ).select("doc_id", "source").collect(),
        )
    )
    assert got == got_repart
    want = duckdb.sql(f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                AS BIGINT) + 1.0) / 4294967296.0)
                            / CAST(n_chars AS DOUBLE) DESC,
                            doc_id
                 ) AS rn
          FROM read_parquet('{sf}/documents.parquet'))
        WHERE rn <= 10
    """).fetchall()
    assert got == sorted(map(tuple, want))


def test_weighted_sample_prefers_heavy_rows(spark):
    """With one group and extreme weights, heavy rows dominate the
    sample far beyond their count share."""
    rows = [(i, "g", 1000.0 if i < 20 else 0.001) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    kept = {
        r["doc_id"]
        for r in sampling.weighted_sample(df, n=15, weight_col="w").collect()
    }
    assert len(kept) == 15
    assert len([k for k in kept if k < 20]) >= 12  # heavy ids win


def test_epoch_shuffle_is_deterministic_and_epoch_independent(spark):
    """Same epoch → identical (shard, pos) regardless of partitioning;
    different epochs → different permutations; every shard's positions
    are 1..n dense."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    a = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in sampling.epoch_shuffle(docs, epoch=1).collect()
    }
    b = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in sampling.epoch_shuffle(docs.repartition(16), epoch=1).collect()
    }
    assert a == b
    c = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in sampling.epoch_shuffle(docs, epoch=2).collect()
    }
    assert a != c  # a different epoch is a different permutation
    by_shard: dict = {}
    for shard, pos in a.values():
        by_shard.setdefault(shard, []).append(pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_weighted_sample_ungrouped_plan_is_take_ordered(spark):
    """The ungrouped path must compile to TakeOrderedAndProject
    (per-partition partial top-n), NOT a global single-partition window
    — an empty partitionBy would funnel the whole corpus through one
    task at scale."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = sampling.weighted_sample(docs, n=5, weight_col="n_chars")
    plan = executed_plan(out)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert out.count() == 5


def test_source_mixture_plan_and_cap(spark):
    """Budgeted mixture: a source with fewer tokens than its target is
    fully admitted (rate = N_BUCKETS); a downsampled source's admitted
    tokens track its target within bucket-quantization + per-doc slack;
    unweighted sources admit nothing."""
    rows = [
        (i, "small" if i < 50 else ("big" if i < 1050 else "other"), 10)
        for i in range(1200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    weights = {"small": 0.5, "big": 0.5}
    budget = 2_000  # small: target 1000 > avail 500 -> full; big: 1000 of 10000
    plan = {r["source"]: r for r in
            sampling.source_mixture_plan(df, weights, budget).collect()}
    assert plan["small"]["rate_bps"] == sampling.N_BUCKETS
    assert plan["big"]["rate_bps"] == 1000  # (1000*10000) DIV 10000
    admitted = sampling.source_mixture_cap(df, weights, budget).collect()
    by_src = {}
    for r in admitted:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert "other" not in by_src
    assert len(by_src["small"]) == 50  # fully admitted
    big_tokens = len(by_src["big"]) * 10
    assert 500 <= big_tokens <= 1500  # ~target 1000, bucket variance


def test_source_mixture_stable_under_partitioning(spark):
    rows = [(i, f"s{i % 3}", i % 11 + 1) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    w = {"s0": 0.4, "s1": 0.4, "s2": 0.2}
    one = sorted(map(tuple, sampling.source_mixture_cap(
        df.coalesce(1), w, 1_000).collect()))
    many = sorted(map(tuple, sampling.source_mixture_cap(
        df.repartition(16), w, 1_000).collect()))
    assert one == many


def test_source_mixture_epochs_upsamples(spark):
    """Up-sampling regime: a source whose target is ~2.5x its available
    tokens gets every doc 2 or 3 times (floor/ceil of the rate), with
    the planned total tracking the target; an unweighted source plans
    zero repeats but still reports its docs."""
    rows = [(i, "cur" if i < 100 else "web", 10) for i in range(1100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = sampling.source_mixture_epochs(
        df, {"cur": 1.0}, budget=2_500  # cur avail 1000 -> rate 2.5 epochs
    ).collect()
    cur = [r for r in out if r["source"] == "cur"]
    web = [r for r in out if r["source"] == "web"]
    assert {r["repeats"] for r in cur} == {2, 3}
    planned = sum(r["repeats"] * 10 for r in cur)
    assert 2_000 <= planned <= 3_000  # tracks 2500 within bucket variance
    assert len(web) == 1000 and all(r["repeats"] == 0 for r in web)


def test_source_mixture_epochs_cap(spark):
    rows = [(i, "tiny", 1) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = sampling.source_mixture_epochs(
        df, {"tiny": 1.0}, budget=10_000_000, max_epochs=16
    ).collect()
    assert all(r["repeats"] == 16 for r in out)  # runaway weight capped


def test_leakage_safe_split_colocates_duplicates(spark):
    from scipi_spark.operators.sampling import leakage_safe_split

    rows = [(i, f"unique doc {i} body") for i in range(50)]
    # plant exact dups under different ids (normalization-equal too)
    rows += [(1000, "unique doc 7 body"), (1001, "Unique   DOC 7 body")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df).select("doc_id", "split").collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    assert by_id[7] == by_id[1000] == by_id[1001]
    # sanity: all three split names reachable over a larger id space
    assert set(by_id.values()) <= {"train", "val", "test"}


def test_neardup_safe_split_colocates_cluster_members(spark):
    """Near-identical docs (different fingerprints!) must land in one
    split via their cluster representative's key; singletons keep the
    exact-fingerprint behavior of leakage_safe_split."""
    from scipi_spark.operators.graph import dedup_clusters
    from scipi_spark.operators.sampling import (
        leakage_safe_split,
        neardup_safe_split,
    )
    from scipi_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " extra"),          # near-dup of 1, different fingerprint
        (3, base + " extra token"),    # near-dup chain member
        (4, "an entirely different document about spark bucketed joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, k=3, num_perm=64, bands=16, threshold=0.5)
    clusters = dedup_clusters(pairs)
    assert clusters.count() >= 3  # the planted chain actually clustered

    out = {
        r["doc_id"]: r["split"]
        for r in neardup_safe_split(df, clusters).collect()
    }
    assert len(out) == 4
    assert out[1] == out[2] == out[3], out
    # the naive fingerprint split CAN differ for the edited copies —
    # and the singleton's split matches leakage_safe_split exactly
    naive = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(df).collect()
    }
    assert out[4] == naive[4]


def test_pack_sequences_hand_fixture_mixed_lengths(spark):
    """textops.pack_sequences against hand-computed bins with UNEVEN doc
    lengths (the existing determinism test uses uniform 200-token docs):
    budget 10, token counts [4, 4, 4, 12, 3] in key order -> prefix-
    before [0, 4, 8, 12, 24] -> bins [0, 0, 0, 1, 2] — doc 2 straddles
    the boundary and stays in bin 0 (streaming spill, never split), the
    overlong doc 3 is admitted whole into bin 1, and doc 4 opens bin 2."""
    from scipi_spark.operators import textops

    rows = [(i, "a", " ".join(["w"] * t)) for i, t in enumerate([4, 4, 4, 12, 3])]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["bin"]: (r["n_docs"], r["sum_tokens"])
        for r in textops.pack_sequences(df, budget=10).collect()
    }
    assert out == {0: (3, 12), 1: (1, 12), 2: (1, 3)}


def test_pack_sequences_groups_independent_and_layout_stable(spark):
    """Each source packs its own bin stream from zero (bin 0 exists in
    every group), and assignments are stable under repartitioning — the
    window orders on (group, key), never physical layout."""
    from scipi_spark.operators import textops

    rows = [(i, "s%d" % (i % 3), " ".join(["w"] * 5)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    one = sorted(map(tuple, textops.pack_sequences(df.coalesce(1), budget=12).collect()))
    many = sorted(map(tuple, textops.pack_sequences(df.repartition(16), budget=12).collect()))
    assert one == many
    assert {t[0] for t in one if t[1] == 0} == {"s0", "s1", "s2"}


def test_pack_sequences_bins_are_dense_token_ranges(spark):
    """Bin ids form a contiguous range and the stream is DENSE: tokens
    accumulated through bin k reach at least budget * (k + 1) for every
    non-final bin (a single bin's own sum may be small when a large
    straddler spilled across its range — the cumulative bound is the
    packing-density property that holds)."""
    from scipi_spark.operators import textops

    rows = [(i, "a", " ".join(["w"] * (1 + i % 7))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    per_bin = {
        r["bin"]: r["sum_tokens"]
        for r in textops.pack_sequences(df, budget=32).collect()
    }
    last = max(per_bin)
    assert set(per_bin) == set(range(last + 1))
    cum = 0
    for b in range(last + 1):
        cum += per_bin[b]
        if b != last:
            assert cum >= 32 * (b + 1), (b, cum)


def test_source_mixture_temperature_flattens_shares(spark):
    """T=2 must pull the dominant source's admitted share BELOW its
    corpus share and lift tail sources above theirs; admission is
    deterministic and capped by availability."""
    from pyspark.sql import functions as F

    from scipi_spark.operators import sampling

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {
        r["source"]: r
        for r in sampling.source_mixture_temperature(df, budget=40).collect()
    }
    # corpus shares 90/10; sqrt weights ~9.49/3.16 -> targets 30/10
    assert out["big"]["target"] == 30 and out["small"]["target"] == 10
    assert out["big"]["n_admitted"] == 30
    assert out["small"]["n_admitted"] == 10
    # flattening: big's admitted share (0.75) < corpus share (0.9)
    assert out["big"]["n_admitted"] / 40 < 0.9
    # determinism: identical rerun, including the admitted id-sum
    again = {
        r["source"]: r["sum_admitted_ids"]
        for r in sampling.source_mixture_temperature(df, budget=40).collect()
    }
    assert again == {s: r["sum_admitted_ids"] for s, r in out.items()}
    # target larger than availability: admits everything there is
    tiny = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    res = {
        r["source"]: r
        for r in sampling.source_mixture_temperature(tiny, budget=30).collect()
    }
    assert res["a"]["n_admitted"] == 2 and res["b"]["n_admitted"] == 1


def test_source_mixture_temperature_hits_budget_exactly(spark):
    """Round-10 (r9 advice): largest-remainder allocation — the targets
    sum to the requested budget exactly (independent rounding could
    drift by ~n_sources/2), and a non-numeric id column raises up
    front."""
    import pytest
    from pyspark.sql import functions as F

    from scipi_spark.operators import sampling

    rows = [(i, f"s{i % 7}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for budget in (100, 101, 117, 250):
        out = sampling.source_mixture_temperature(
            df, budget=budget, source_col="source"
        )
        got = out.agg(
            F.sum("target").alias("t"), F.sum("n_admitted").alias("a")
        ).collect()[0]
        assert got["t"] == budget, f"budget {budget}: targets sum {got['t']}"
        assert got["a"] == budget  # every source can fill its target here

    bad = df.select(F.col("doc_id").cast("string").alias("doc_id"), "source")
    with pytest.raises(TypeError, match="numeric id_col"):
        sampling.source_mixture_temperature(bad, budget=10, source_col="source")
