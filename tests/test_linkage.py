"""Entity-resolution semantics: blocking contract, scoring, and
transitive closure beyond the gate fixture's pair-only components."""

from __future__ import annotations

from scipi_spark.operators import linkage
from tests.oracle import formatted_plan


def test_match_pairs_blocks_and_scores(spark):
    df = spark.createDataFrame(
        [
            (1, "smith john a"),
            (2, "smith john b"),      # matches 1 (jaccard 2/4)
            (3, "smith peter x y"),   # same block, too far (1/6 vs 1)
            (4, "jones john a"),      # different block from 1 entirely
        ],
        "rec_id long, name string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in linkage.match_pairs(df, threshold=0.5).collect()
    }
    assert set(out) == {(1, 2)}
    assert out[(1, 2)] == 0.5
    # blocking really prunes: (1,4) share 2/4 tokens but different first
    # token, so the pair is never even scored
    cands = {
        (r["id_a"], r["id_b"])
        for r in linkage.candidate_pairs(df).collect()
    }
    assert (1, 4) not in cands and (1, 2) in cands and (1, 3) in cands


def test_entity_ids_transitive_chain(spark):
    """A matches B, B matches C, A does NOT match C directly — the
    closure must still put all three in one entity (min id), while an
    unmatched record keeps its own id."""
    df = spark.createDataFrame(
        [
            (10, "k aa bb cc"),
            (11, "k aa bb zz"),   # vs 10: 3/5 = 0.6
            (12, "k aa zz yy"),   # vs 11: 3/5; vs 10: 2/6 = 0.33
            (99, "k qq rr ss"),   # singleton
        ],
        "rec_id long, name string",
    )
    matches = linkage.match_pairs(df, threshold=0.5)
    got = {
        (r["id_a"], r["id_b"]) for r in matches.select("id_a", "id_b").collect()
    }
    assert got == {(10, 11), (11, 12)}
    ents = {
        r["rec_id"]: r["entity_id"]
        for r in linkage.entity_ids(df, matches).collect()
    }
    assert ents == {10: 10, 11: 10, 12: 10, 99: 99}


def test_hot_block_cap_bounds_candidate_pairs(spark):
    """Round-10 verdict #2: a frequent first token must not go
    quadratic. 100 planted records share the block token 'hot' (4950
    pairs uncapped); with max_block_size=50 the oversized block is
    dropped WHOLE (the dedup.max_doc_freq recall trade) while normal
    blocks are untouched."""
    from pyspark.sql import functions as F

    hot = spark.range(100).select(
        (F.col("id") + 1000).alias("rec_id"),
        F.concat(F.lit("hot token"), F.col("id").cast("string")).alias("name"),
    )
    normal = spark.createDataFrame(
        [(1, "ok aa bb cc"), (2, "ok aa bb dd"), (3, "zz qq rr ss")],
        "rec_id long, name string",
    )
    df = normal.unionByName(hot)
    uncapped = linkage.candidate_pairs(df).count()
    assert uncapped == 1 + (100 * 99) // 2
    capped = {
        (r["id_a"], r["id_b"])
        for r in linkage.candidate_pairs(df, max_block_size=50).collect()
    }
    assert capped == {(1, 2)}  # hot block gone, normal block intact
    # the cap composes with matching: no hot pair is ever scored
    assert {
        (r["id_a"], r["id_b"])
        for r in linkage.match_pairs(df, threshold=0.5, max_block_size=50).collect()
    } == {(1, 2)}


def test_second_block_recovers_corrupted_first_token(spark):
    """The last-token second blocking pass finds pairs the first-token
    pass misses (corrupted first token), and the union is deduplicated
    (a pair co-blocked under both keys counts once)."""
    df = spark.createDataFrame(
        [
            (1, "x aa bb cc"),
            (2, "y aa bb cc"),   # first tokens differ, last agree; J = 3/5
            (3, "x aa bb cc"),   # same first AND last token as 1; J = 1
        ],
        "rec_id long, name string",
    )
    single = {
        (r["id_a"], r["id_b"])
        for r in linkage.match_pairs(df, threshold=0.5).collect()
    }
    assert single == {(1, 3)}
    both = linkage.match_pairs(df, threshold=0.5, second_block=True)
    rows = both.collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == {(1, 2), (2, 3), (1, 3)}
    assert len(rows) == 3  # (1,3) co-blocks under both keys, counted once


def test_fs_match_pairs_weights_nulls_and_threshold(spark):
    """Fellegi-Sunter per-field scoring: agreement adds log2(m/u),
    disagreement adds log2((1-m)/(1-u)), NULL on either side adds 0;
    the score is the field-ordered sum, thresholded."""
    import math

    df = spark.createDataFrame(
        [
            (1, "k1", "a", "p"),
            (2, "k1", "a", "q"),     # agree f1, f2; disagree f3
            (3, "k1", None, "p"),    # agree f1, f3; f2 null -> 0
            (4, "k2", "a", "p"),     # different block from 1-3
        ],
        "rec_id long, f1 string, f2 string, f3 string",
    )
    m, u = 0.9, 0.1
    aw = math.log2(m / u)
    dw = math.log2((1 - m) / (1 - u))
    out = {
        (r["id_a"], r["id_b"]): r["fs_score"]
        for r in linkage.fs_match_pairs(
            df, ["f1", "f2", "f3"], m, u, threshold=-100.0
        ).collect()
    }
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    assert out[(1, 2)] == round(aw + aw + dw, 6)
    assert out[(1, 3)] == round(aw + 0.0 + aw, 6)
    assert out[(2, 3)] == round(aw + 0.0 + dw, 6)
    # threshold keeps only the strongest pair: (1,3) scores 2*aw (two
    # agreements, the null field contributing nothing)
    kept = linkage.fs_match_pairs(
        df, ["f1", "f2", "f3"], m, u, threshold=(aw + 2 * aw) / 2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in kept} == {(1, 3)}
    # multi-key blocking unions f1 and f2 blocks and dedups pairs:
    # (1,4) and (2,4) share f2='a' only
    multi = {
        (r["id_a"], r["id_b"])
        for r in linkage.fs_match_pairs(
            df, ["f1", "f2", "f3"], m, u,
            block_cols=["f1", "f2"], threshold=-100.0,
        ).collect()
    }
    assert multi == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)}


def _bridge_records(spark):
    """Corpus with two separate entities {1,2} and {5,6}; batch record
    100 matches a member of EACH (via the second blocking key), so the
    fold must MERGE the stored entities under the global min id."""
    corpus = spark.createDataFrame(
        [
            (1, "aa p q r"),
            (2, "aa p q s"),    # vs 1: 3/5
            (5, "bb p q r"),
            (6, "bb p q t"),    # vs 5: 3/5
            (9, "cc z y x"),    # singleton
        ],
        "rec_id long, name string",
    )
    batch = spark.createDataFrame(
        [(100, "aa p q bb"), (101, "dd only one")],
        "rec_id long, name string",
    )
    return corpus, batch


def test_entity_store_increment_matches_one_shot_closure(spark, tmp_path):
    """er_increment_from_store == one-shot entity_ids over the combined
    records — including the cross-entity MERGE a bridging batch record
    forces — and the store fold persists exactly that state."""
    corpus, batch = _bridge_records(spark)
    spark.sql("DROP TABLE IF EXISTS er_store_t1")
    root = str(tmp_path / "er")
    linkage.write_entity_store(
        corpus, root, table="er_store_t1", threshold=0.5, two_keys=1
    )
    got = {
        r["rec_id"]: r["entity_id"]
        for r in linkage.er_increment_from_store(
            spark, root, batch, table="er_store_t1"
        ).collect()
    }
    combined = corpus.unionByName(batch)
    want = {
        r["rec_id"]: r["entity_id"]
        for r in linkage.entity_ids(
            combined,
            linkage.match_pairs(combined, threshold=0.5, second_block=True),
        ).collect()
    }
    assert got == want
    assert want == {1: 1, 2: 1, 5: 1, 6: 1, 100: 1, 9: 9, 101: 101}

    # fold, then the persisted assignment equals the same closure and a
    # follow-up batch probes against the MERGED state
    linkage.append_entity_store(batch, root, table="er_store_t1")
    stored = {
        r["rec_id"]: r["entity_id"]
        for r in linkage.entity_store_assignment(spark, root).collect()
    }
    assert stored == want
    batch2 = spark.createDataFrame(
        [(200, "bb p q u")], "rec_id long, name string"  # vs 5: 3/5
    )
    got2 = {
        r["rec_id"]: r["entity_id"]
        for r in linkage.er_increment_from_store(
            spark, root, batch2, table="er_store_t1"
        ).collect()
    }
    assert got2[200] == 1  # inherits the merged entity, not 5


def test_entity_store_recipe_mismatch_raises(spark, tmp_path):
    import pytest

    corpus, batch = _bridge_records(spark)
    spark.sql("DROP TABLE IF EXISTS er_store_t2")
    root = str(tmp_path / "er")
    linkage.write_entity_store(
        corpus, root, table="er_store_t2", threshold=0.5, two_keys=1
    )
    with pytest.raises(ValueError, match="store param mismatch"):
        linkage.er_increment_from_store(
            spark, root, batch, table="er_store_t2", threshold=0.7
        )
    with pytest.raises(ValueError, match="store param mismatch"):
        linkage.append_entity_store(
            batch, root, table="er_store_t2", two_keys=0
        )
    # omitted args inherit the recipe
    assert linkage.er_increment_from_store(
        spark, root, batch, table="er_store_t2"
    ).count() == 7


def test_entity_store_probe_is_corpus_shuffle_free(spark, tmp_path):
    """The store's reason to exist: the probe's block join must read
    the bucketed blocks table without an Exchange (differential vs a
    plain-parquet copy of the identical rows)."""
    import re

    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    recs = docs.select(
        F.col("doc_id").alias("rec_id"),
        F.substring("text", 1, 60).alias("name"),
    )
    corpus = recs.filter("rec_id < 300")
    batch = recs.filter("rec_id >= 300")
    spark.sql("DROP TABLE IF EXISTS er_store_plan")
    root = str(tmp_path / "er")
    linkage.write_entity_store(corpus, root, table="er_store_plan", n_buckets=8)
    old = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch_rows = linkage._block_rows(
            batch, "rec_id", "name", False, None
        ).select(
            "blk", F.col("rid").alias("brid"), F.col("w").alias("bw")
        ).localCheckpoint(eager=True)
        plain_path = str(tmp_path / "blocks_plain")
        spark.table("er_store_plan").write.mode("overwrite").parquet(plain_path)

        def n_exchanges(index_df):
            probe = batch_rows.join(index_df, "blk")
            plan = formatted_plan(probe)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            return len(re.findall(r"\(\d+\) Exchange\b", plan)), plan

        n_bucketed, plan_b = n_exchanges(spark.table("er_store_plan"))
        n_plain, _ = n_exchanges(spark.read.parquet(plain_path))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    assert "Bucketed: true" in plan_b
    assert n_bucketed == n_plain - 1, (n_bucketed, n_plain)


def test_compact_entity_store_repairs_replayed_append(spark, tmp_path):
    """Re-appending a batch whose record ids the store already holds
    lands its block rows and id rows twice. Probe matching survives
    (the candidate join dedups pairs) but the id universe double-counts.
    compact_entity_store drops the duplicates and the store's
    assignment + a follow-up probe are bit-identical to the clean
    store's."""
    import os

    from pyspark.sql import functions as F
    from scipi_spark.sources import storectl

    corpus, batch = _bridge_records(spark)
    spark.sql("DROP TABLE IF EXISTS er_store_cmp")
    root = str(tmp_path / "er")
    linkage.write_entity_store(
        corpus, root, table="er_store_cmp", threshold=0.5, two_keys=1
    )
    clean_assign = {
        (r["rec_id"], r["entity_id"])
        for r in linkage.entity_store_assignment(spark, root).collect()
    }

    # simulate the re-ingesting append: clone the live version, append
    # the SAME block/id rows again, publish
    cur = storectl.current_dir(root)
    blocks = spark.read.parquet(cur + "/blocks").localCheckpoint(eager=True)
    ids = spark.read.parquet(cur + "/ids").localCheckpoint(eager=True)
    with storectl.append_lock(root):
        build, cur = storectl.clone_current(root)
        storectl.append_bucketed(
            blocks, build + "/blocks", ["blk"], ["blk"], 16
        )
        ids.write.mode("append").parquet(build + "/ids")
        storectl.publish(
            root, build, "er-v1", expect_base=os.path.basename(cur),
            params=storectl.open_store(root, linkage.ER_STORE).params,
        )
    poisoned = linkage.entity_store_assignment(spark, root).count()
    assert poisoned == 2 * len(clean_assign)  # the corruption is real

    linkage.compact_entity_store(spark, root, table="er_store_cmp")
    repaired = {
        (r["rec_id"], r["entity_id"])
        for r in linkage.entity_store_assignment(spark, root).collect()
    }
    assert repaired == clean_assign
    got = {
        r["rec_id"]: r["entity_id"]
        for r in linkage.er_increment_from_store(
            spark, root, batch, table="er_store_cmp"
        ).collect()
    }
    assert got == {1: 1, 2: 1, 5: 1, 6: 1, 100: 1, 9: 9, 101: 101}


def test_fs_block_keys_are_namespaced_per_column(spark):
    """Round-11 advice: equal values in DIFFERENT blocking columns must
    not land in one block. Here record 1's f1 equals record 2's f2 (and
    vice versa) — under a shared key namespace they would co-block and
    produce a cross-column candidate pair; namespaced keys keep the
    column domains disjoint, so no pair forms at all."""
    df = spark.createDataFrame(
        [(1, "x", "zz"), (2, "zz", "x")],
        "rec_id long, f1 string, f2 string",
    )
    out = linkage.fs_match_pairs(
        df, ["f1", "f2"], 0.9, 0.1,
        block_cols=["f1", "f2"], threshold=-100.0,
    ).collect()
    assert out == []


def test_fs_block_cap_counts_per_column_key(spark):
    """Round-11 advice: the block cap must count each column's key
    membership separately. f1 has a legitimate 3-record block 'v'; f2
    holds the SAME value 'v' on two other records. With a merged key
    namespace the combined membership (5) would exceed cap=3 and the
    legitimate f1 block would be capped away; per-column keys keep it."""
    df = spark.createDataFrame(
        [
            (1, "v", "a1"),
            (2, "v", "a2"),
            (3, "v", "a3"),
            (4, "w1", "v"),
            (5, "w2", "v"),
        ],
        "rec_id long, f1 string, f2 string",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in linkage.fs_match_pairs(
            df, ["f1", "f2"], 0.9, 0.1,
            block_cols=["f1", "f2"], threshold=-100.0, max_block_size=3,
        ).collect()
    }
    # f1-block 'v' pairs survive (3 <= cap); f2-block 'v' pairs too (2)
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}


def _chain_records(spark, n: int):
    """n records forming a single match CHAIN (record i matches only
    record i+1): names 'b t{i} t{i+1}' share the block token 'b', and
    consecutive names overlap 2/4 = 0.5 while non-consecutive overlap
    1/5 — so the match graph is a path with diameter n-1."""
    rows = [(i, f"b t{i} t{i + 1}") for i in range(n)]
    return spark.createDataFrame(rows, "rec_id long, name string")


def test_fold_raises_on_nonconverged_closure(spark, tmp_path):
    """Round-11 advice: append_entity_store must ABORT (not persist a
    silently split clustering) when the match-graph closure does not
    converge — a 25-deep chain exceeds hash-min's default 20-iteration
    budget. The one-shot probe path keeps the RuntimeWarning (its wrong
    answer is transient)."""
    import pytest
    import warnings

    corpus = spark.createDataFrame(
        [(1000, "zz q r s")], "rec_id long, name string"
    )
    batch = _chain_records(spark, 25)
    spark.sql("DROP TABLE IF EXISTS er_store_deep")
    root = str(tmp_path / "er")
    linkage.write_entity_store(
        corpus, root, table="er_store_deep", threshold=0.5
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        linkage.append_entity_store(batch, root, table="er_store_deep")
    # the failed fold must not have published: the store still holds
    # only the original corpus
    assert linkage.entity_store_assignment(spark, root).count() == 1
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        linkage.er_increment_from_store(
            spark, root, batch, table="er_store_deep"
        ).collect()
    assert any(issubclass(x.category, RuntimeWarning) for x in w)


def test_incremental_cap_checks_combined_occupancy(spark, tmp_path):
    """Round-11 advice: with block_cap set, the probe enforces the cap
    against stored+batch occupancy, not the batch slice alone. Block
    'h' holds 3 stored + 3 batch records (combined 6 > cap 5) — its
    batch rows must not match; block 'k' holds 2 + 2 (4 <= 5) — its
    batch rows match normally."""
    corpus = spark.createDataFrame(
        [
            (1, "h p q r"),
            (2, "h p q s"),
            (3, "h p q t"),
            (10, "k m n o"),
            (11, "k m n x"),
        ],
        "rec_id long, name string",
    )
    batch = spark.createDataFrame(
        [
            (101, "h p q u"),
            (102, "h p q v"),
            (103, "h p q w"),
            (110, "k m n y"),
            (111, "k m n z"),
        ],
        "rec_id long, name string",
    )
    spark.sql("DROP TABLE IF EXISTS er_store_cap")
    root = str(tmp_path / "er")
    linkage.write_entity_store(
        corpus, root, table="er_store_cap", threshold=0.5, block_cap=5
    )
    got = {
        r["rec_id"]: r["entity_id"]
        for r in linkage.er_increment_from_store(
            spark, root, batch, table="er_store_cap"
        ).collect()
    }
    # 'k' batch rows fold into the stored entity; 'h' batch rows stay
    # singletons (block over the combined cap), and the stored 'h'
    # entity (built when the block was 3 <= 5) is untouched
    assert got[110] == 10 and got[111] == 10
    assert got[101] == 101 and got[102] == 102 and got[103] == 103
    assert got[1] == 1 and got[2] == 1 and got[3] == 1
