"""Similarity-search tests: brute-force correctness properties and
LSH recall vs the exact top-k."""

from __future__ import annotations

from scipi_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE
from tests.oracle import formatted_plan


def test_knn_brute_shape_and_selfexclusion(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = sim.knn_brute(emb, [0, 5], k=7).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 5}
    for q, rows in by_q.items():
        assert len(rows) == 7
        assert all(r["vec_id"] != q for r in rows)
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.000001 <= c <= 1.000001 for c in cosines)


def test_knn_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r["query_id"], r["vec_id"])
        for r in sim.knn_brute(emb, qids, k=10).collect()
    }
    lsh = {
        (r["query_id"], r["vec_id"])
        for r in sim.knn_lsh(emb, qids, k=10, bits=8).collect()
    }
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_knn_ivf_recall(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r["query_id"], r["vec_id"])
        for r in sim.knn_brute(emb, qids, k=10).collect()
    }
    ivf = {
        (r["query_id"], r["vec_id"])
        for r in sim.knn_ivf(emb, qids, k=10, n_centroids=8, nprobe=4).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_knn_ivf_exact_at_full_probe(spark):
    """nprobe = n_centroids scans every inverted list -> exact answer."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qids = [0, 3]
    brute = sorted(
        map(tuple, sim.knn_brute(emb, qids, k=5).collect())
    )
    ivf = sorted(
        map(
            tuple,
            sim.knn_ivf(
                emb, qids, k=5, n_centroids=4, nprobe=4, train_iters=2
            ).collect(),
        )
    )
    assert brute == ivf


def test_spherical_kmeans_deterministic_and_unit(spark):
    import numpy as np

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    c1 = sim.spherical_kmeans(emb, n_centroids=6, iters=2)
    c2 = sim.spherical_kmeans(emb, n_centroids=6, iters=2)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_neardup_lsh_blocking_vs_exact(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in sim.cosine_neardup_pairs(emb, threshold=0.98).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in sim.cosine_neardup_pairs(emb, threshold=0.98, bits=4).collect()
    }
    assert blocked <= exact
    if exact:
        assert len(blocked) / len(exact) >= 0.5


def test_allpairs_blocked_equals_exact(spark):
    """The blocked-GEMM all-pairs path is exact: identical (pair, cosine)
    set to the O(n^2) crossJoin variant at a dense threshold, including
    every vector landing in block 0 edge cases (n_blocks > n)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    # None = r13 scale-adaptive derivation (resolves to the 16-block
    # floor at this size — same results either way, by construction)
    for n_blocks in (4, 128, None):
        exact = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in sim.cosine_neardup_pairs(emb, threshold=0.3).collect()
        }
        blocked = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in sim.cosine_allpairs_blocked(
                emb, threshold=0.3, n_blocks=n_blocks
            ).collect()
        }
        assert blocked == exact


def test_semantic_dedup_drops_planted_copies(spark):
    """Every planted near-copy (higher id) is dropped; every original is
    kept (no original-original pair clears 0.95 on this corpus)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ed = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    out = sim.semantic_dedup(
        ed.unionByName(sim.perturbed_copies(ed)),
        threshold=0.95, n_centroids=8, nprobe=2, vec_col="e"
    )
    rows = {r["vec_id"]: r["kept"] for r in out.collect()}
    off = max(r["vec_id"] for r in ed.select("vec_id").collect()) + 1
    originals = {k for k in rows if k < off}
    assert originals and all(rows[k] for k in originals)
    assert all(not rows[k + off] for k in originals)


def test_semantic_dedup_keep_policy_not_chaining(spark):
    """Removal is non-chaining SemDeDup semantics: v drops iff SOME
    lower-id vector is near it, independent of that vector's own fate —
    a 3-chain a~b~c (a<b<c) keeps only a, even though b (c's witness)
    is itself dropped."""
    base = [1.0] + [0.0] * 63

    def bump(eps):
        v = list(base)
        v[1] = eps
        return v

    df = spark.createDataFrame(
        [(1, base), (2, bump(0.01)), (3, bump(0.02))], ["vec_id", "e"]
    )
    out = {r["vec_id"]: r["kept"] for r in sim.semantic_dedup(
        df, threshold=0.95, n_centroids=1, nprobe=1, vec_col="e").collect()}
    assert out == {1: True, 2: False, 3: False}


def test_pq_encode_shape_and_determinism(spark):
    import numpy as np

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    C = sim.pq_codebooks(emb, m=8, ksub=16, iters=2)
    assert C.shape == (8, 16, 8)
    C2 = sim.pq_codebooks(emb, m=8, ksub=16, iters=2)
    assert np.allclose(C, C2)
    codes = {r["vec_id"]: list(r["codes"]) for r in sim.pq_encode(emb, C).collect()}
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes.values())
    codes2 = {r["vec_id"]: list(r["codes"]) for r in sim.pq_encode(emb, C).collect()}
    assert codes == codes2


def test_knn_pq_recall_vs_brute(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qids = [r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").limit(3).collect()]
    brute = sim.knn_brute(emb, qids, k=5)
    pq = sim.knn_cosine_pq(emb, qids, k=5, m=8, ksub=16, rerank=25)
    want = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in pq.collect()}
    # random near-orthogonal vectors are PQ's worst case (true neighbors
    # sit barely above quantization noise); a 25-of-49 exact-reranked
    # candidate list still recovers the majority
    assert len(got & want) / len(want) >= 0.5
    # re-ranked scores are EXACT cosines: every overlapping pair matches brute
    bs = {(r["query_id"], r["vec_id"]): r["cosine"] for r in brute.collect()}
    ps = {(r["query_id"], r["vec_id"]): r["cosine"] for r in pq.collect()}
    for pair in got & want:
        assert abs(bs[pair] - ps[pair]) < 1e-9



def test_knn_pq_finds_planted_neighbors(spark):
    """PQ's operating regime: when the true neighbors are planted near-copies
    (cosine ~0.99 vs noise ~0), ADC + exact re-rank returns the planted
    twin as the top-1 for every query."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ed = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    both = ed.unionByName(sim.perturbed_copies(ed))
    qids = [r["vec_id"] for r in ed.select("vec_id").orderBy("vec_id").limit(5).collect()]
    pq = sim.knn_cosine_pq(both, qids, k=1, m=8, ksub=16, rerank=10, vec_col="e")
    off = max(r["vec_id"] for r in ed.select("vec_id").collect()) + 1
    top1 = {r["query_id"]: r["vec_id"] for r in pq.collect()}
    assert top1 == {q: q + off for q in qids}


def test_knn_join_matches_exact_and_is_symmetric_input(spark):
    """The kNN-graph self-join equals the exact per-vector top-k (recall
    1.0 at gate settings on this corpus), and partitioning never changes
    the result."""
    import duckdb

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = sorted(map(tuple, sim.knn_join(emb, k=3).collect()))
    rep = sorted(map(tuple, sim.knn_join(
        emb.repartition(16), k=3).collect()))
    assert got == rep
    want = duckdb.sql(f"""
      WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e
                    FROM read_parquet('{sf}/embeddings.parquet')),
      scored AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               round(list_inner_product(a.e, b.e)
                     / (sqrt(list_inner_product(a.e, a.e))
                        * sqrt(list_inner_product(b.e, b.e))), 6) AS cosine
        FROM base a, base b WHERE a.vec_id <> b.vec_id
      ), r AS (
        SELECT vec_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      SELECT vec_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 3
    """).fetchall()
    assert got == sorted(map(tuple, want))
    # every vector has exactly k neighbors
    from collections import Counter

    c = Counter(v for v, *_ in got)
    assert set(c.values()) == {3}


def test_hard_negatives_exclude_same_label(spark):
    from scipi_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 0),   # nearest overall, same label -> excluded
        (2, [0.9, 0.43], 1),    # nearest different-label
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = similarity.knn_hard_negatives(df, query_ids=[0], k=2).collect()
    assert [(r["vec_id"], r["neg_label"]) for r in got] == [(2, 1), (3, 1)]
    assert all(r["query_id"] == 0 for r in got)


def test_label_coherence_prototypes(spark):
    from scipi_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),   # tight cluster -> coherence 1.0
        (2, [0.0, 1.0], 1),
        (3, [0.0, -1.0], 1),  # antipodal -> centroid 0-ish, coherence ~0
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r["label"]: r.asDict() for r in similarity.label_coherence(df).collect()}
    assert got[0]["n"] == 2 and got[0]["centroid_norm"] == 1.0
    assert got[0]["coherence"] == 1.0
    assert got[1]["n"] == 2 and got[1]["centroid_norm"] == 0.0
    assert got[1]["coherence"] is None  # zero-norm prototype: no direction


def test_ann_store_matches_knn_lsh(spark, tmp_path):
    """For queries drawn from the indexed corpus, the persisted-store
    search must reproduce knn_lsh exactly (same planes, same multiprobe,
    same tie-breaks)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    spark.sql("DROP TABLE IF EXISTS annstore_eq")
    spark.sql("DROP TABLE IF EXISTS annstore_eq_vectors")
    sim.write_ann_store(
        emb, str(tmp_path / "ann"), table="annstore_eq", bits=6, tables=8
    )
    queries = emb.filter(F.col("vec_id").isin(qids))
    store_rows = {
        (r["query_id"], r["vec_id"], r["cosine"])
        for r in sim.knn_from_store(
            queries, table="annstore_eq", k=10, bits=6, tables=8
        ).collect()
    }
    direct_rows = {
        (r["query_id"], r["vec_id"], r["cosine"])
        for r in sim.knn_lsh(emb, qids, k=10, bits=6, tables=8).collect()
    }
    assert store_rows == direct_rows and store_rows


def test_ann_store_probe_is_corpus_shuffle_free(spark, tmp_path):
    """The store's reason to exist: the candidate join must read the
    bucketed signature table without an Exchange — only the query batch
    shuffles. Differential vs a plain-parquet copy of the same rows."""
    import re

    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    spark.sql("DROP TABLE IF EXISTS annstore_plan")
    spark.sql("DROP TABLE IF EXISTS annstore_plan_vectors")
    sim.write_ann_store(
        emb, str(tmp_path / "ann"), table="annstore_plan", bits=6, tables=4,
        n_buckets=8,
    )
    plain_path = str(tmp_path / "sigs_plain")
    spark.table("annstore_plan").write.mode("overwrite").parquet(plain_path)

    all_planes = [
        sim.hyperplanes(64, 6, 42 + 7919 * t) for t in range(4)
    ]
    sigs_udf = sim.make_signatures_udf(all_planes)
    qrows = (
        emb.filter(F.col("vec_id") < 50)
        .select(
            F.col("vec_id").alias("query_id"),
            sim._as_double("embedding").alias("qe"),
        )
        .withColumn("sigs", sigs_udf(F.col("qe")))
        .select("query_id", F.posexplode("sigs").alias("t", "qsig"))
        .localCheckpoint(eager=True)
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def n_exchanges(index_df):
            cand = (
                qrows.join(
                    index_df,
                    (qrows.t == index_df.t)
                    & (F.col("qsig") == F.col("sig"))
                    & (F.col("query_id") != F.col("vec_id")),
                )
                .select("query_id", "vec_id")
                .distinct()
            )
            plan = formatted_plan(cand)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            return len(re.findall(r"\(\d+\) Exchange\b", plan)), plan

        n_bucketed, plan_b = n_exchanges(spark.table("annstore_plan"))
        n_plain, _ = n_exchanges(spark.read.parquet(plain_path))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    assert "Bucketed: true" in plan_b
    assert n_bucketed == n_plain - 1, (n_bucketed, n_plain)


def test_ann_store_append_matches_oneshot(spark, tmp_path):
    """Append-fold: writing 80% then appending 20% must probe exactly
    like a one-shot store of the full corpus."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    for t in ("annstore_inc", "annstore_inc_vectors",
              "annstore_full", "annstore_full_vectors"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    sim.write_ann_store(
        old, str(tmp_path / "inc"), table="annstore_inc", bits=6, tables=4
    )
    sim.append_ann_store(
        new, str(tmp_path / "inc"), table="annstore_inc", bits=6, tables=4
    )
    sim.write_ann_store(
        emb, str(tmp_path / "full"), table="annstore_full", bits=6, tables=4
    )
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2, 450]))

    def probe(table):
        return {
            (r["query_id"], r["vec_id"], r["cosine"])
            for r in sim.knn_from_store(
                queries, table=table, k=5, bits=6, tables=4
            ).collect()
        }

    inc, full = probe("annstore_inc"), probe("annstore_full")
    assert inc == full and inc
    # new-batch vectors are genuinely probeable (not just carried along)
    assert any(v >= 400 for (_, v, _) in inc)


def test_ann_store_paths_release_their_spread_copy(spark, tmp_path):
    """A write and an append each spread their narrow input and release
    the spread copy once the signed rows are checkpointed, so the
    session caches neither input's copy afterwards."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    target = spark.sparkContext.defaultParallelism
    assert old.rdd.getNumPartitions() < target
    cache = spark._jsparkSession.sharedState().cacheManager()
    try:
        sim.write_ann_store(
            old, str(tmp_path / "ann"), table="annstore_spread", bits=6, tables=4
        )
        sim.append_ann_store(new, str(tmp_path / "ann"), table="annstore_spread")
        held = [
            cache.lookupCachedData(b.repartition(target)._jdf).isDefined()
            for b in (old, new)
        ]
        assert held == [False, False]
    finally:
        for t in ("annstore_spread", "annstore_spread_vectors"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_ann_store_repairs_duplicate_append(spark, tmp_path):
    """A crash-replayed append stores a vector twice: the scoring join
    then duplicates that candidate's scored rows and the top-k window
    under-fills with distinct neighbors. Compaction must restore exact
    one-shot parity."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    for t in ("annstore_dup", "annstore_dup_vectors"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    sim.write_ann_store(
        emb, str(tmp_path / "dup"), table="annstore_dup", bits=6, tables=4
    )
    # replayed append: the entire initial write folded a second time
    sim.append_ann_store(
        emb, str(tmp_path / "dup"), table="annstore_dup", bits=6, tables=4
    )
    queries = emb.filter(F.col("vec_id").isin([0, 1]))

    def rows(table):
        out = sim.knn_from_store(
            queries, table=table, k=5, bits=6, tables=4
        ).collect()
        return [(r["query_id"], r["vec_id"], r["cosine"]) for r in out]

    corrupted = rows("annstore_dup")
    # corruption is visible: some (query, neighbor) appears twice
    keys = [(q, v) for (q, v, _) in corrupted]
    assert len(keys) != len(set(keys)), "duplicate append went unnoticed"

    sim.compact_ann_store(
        spark, str(tmp_path / "dup"), table="annstore_dup", bits=6, tables=4
    )
    repaired = set(rows("annstore_dup"))
    spark.sql("DROP TABLE IF EXISTS annstore_ref")
    spark.sql("DROP TABLE IF EXISTS annstore_ref_vectors")
    sim.write_ann_store(
        emb, str(tmp_path / "ref"), table="annstore_ref", bits=6, tables=4
    )
    reference = set(rows("annstore_ref"))
    assert repaired == reference and repaired


def test_ann_store_params_persist_and_self_configure(spark, tmp_path):
    """Round-10: the store's hash recipe lives in the version marker —
    a probe with NO recipe args reproduces the explicit-args probe, and
    an explicitly mismatched probe raises instead of silently
    under-recalling in the wrong buckets."""
    import pytest
    from pyspark.sql import functions as F

    from scipi_spark.sources import storectl

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    for t in ("annstore_params", "annstore_params_vectors"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    root = str(tmp_path / "ann")
    sim.write_ann_store(emb, root, table="annstore_params", bits=5, tables=4)
    assert storectl.open_store(root, sim.ANN_STORE).params == {
        "bits": 5, "tables": 4, "dim": 64, "seed": 42, "n_buckets": 16,
    }
    queries = emb.filter(F.col("vec_id").isin([0, 1]))
    auto = {
        (r["query_id"], r["vec_id"], r["cosine"])
        for r in sim.knn_from_store(
            queries, table="annstore_params", k=5, path=root
        ).collect()
    }
    explicit = {
        (r["query_id"], r["vec_id"], r["cosine"])
        for r in sim.knn_from_store(
            queries, table="annstore_params", k=5, bits=5, tables=4, path=root
        ).collect()
    }
    assert auto == explicit and auto
    # session-local self-configuration (no path): the write recorded the
    # recipe for this process too
    local = {
        (r["query_id"], r["vec_id"], r["cosine"])
        for r in sim.knn_from_store(
            queries, table="annstore_params", k=5
        ).collect()
    }
    assert local == explicit
    with pytest.raises(ValueError, match="store param mismatch"):
        sim.knn_from_store(
            queries, table="annstore_params", k=5, bits=7, path=root
        )
    with pytest.raises(ValueError, match="store param mismatch"):
        sim.append_ann_store(queries, root, table="annstore_params", bits=7)
    with pytest.raises(ValueError, match="store param mismatch"):
        sim.compact_ann_store(spark, root, table="annstore_params", tables=9)


def test_ann_store_auto_bits_sizing(spark, tmp_path):
    """bits=None sizes the hyperplane count from corpus cardinality
    (log2(n/occupancy) rule) and the auto-sized store still reproduces
    the exact top-k on queries drawn from the corpus."""
    from pyspark.sql import functions as F

    assert sim.auto_bits(500) == 4          # floor
    assert sim.auto_bits(64 * 2**6) == 6
    assert sim.auto_bits(64 * 2**10) == 10  # 100x data -> +~7 bits
    assert sim.auto_bits(10**12, cap=24) == 24

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    for t in ("annstore_auto", "annstore_auto_vectors"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    root = str(tmp_path / "auto")
    sim.write_ann_store(emb, root, table="annstore_auto", tables=16)
    from scipi_spark.sources import storectl

    params = storectl.open_store(root, sim.ANN_STORE).params
    assert params["bits"] == sim.auto_bits(emb.count())
    qids = [0, 1, 2]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = {
        (r["query_id"], r["vec_id"])
        for r in sim.knn_from_store(
            queries, table="annstore_auto", k=5, path=root
        ).collect()
    }
    brute = {
        (r["query_id"], r["vec_id"])
        for r in sim.knn_brute(emb, qids, k=5).collect()
    }
    assert len(got & brute) / len(brute) == 1.0


def test_ivfpq_planted_regime_and_pruning(spark):
    """Round-10: the IVF-PQ composite returns planted 0.99-twins exactly
    at nprobe=4 of 8 (genuinely pruned), and pruning is real — with
    nprobe=1 and no re-rank the candidate set is a strict subset of the
    probe-everything run."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ed = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    both = ed.unionByName(sim.perturbed_copies(ed))
    qids = [0, 1, 2, 3, 4]
    n = emb.count()
    got = {
        r["query_id"]: (r["vec_id"], r["cosine"])
        for r in sim.knn_cosine_ivfpq(
            both, qids, k=1, n_centroids=8, nprobe=4, rerank=10, vec_col="e"
        ).collect()
    }
    for q in qids:
        assert got[q][0] == q + n      # the planted twin
        assert got[q][1] > 0.99

    cents = sim.spherical_kmeans(both, 8, 3, vec_col="e")
    # unbounded k exposes the raw candidate pools: one probed cell can
    # only ever yield that cell's members, all 8 yield the whole corpus
    narrow = sim.knn_cosine_ivfpq(
        both, qids, k=10**6, n_centroids=8, nprobe=1, rerank=None,
        vec_col="e", centroids=cents,
    )
    wide = sim.knn_cosine_ivfpq(
        both, qids, k=10**6, n_centroids=8, nprobe=8, rerank=None,
        vec_col="e", centroids=cents,
    )
    ks = lambda df: {(r["query_id"], r["vec_id"]) for r in df.collect()}
    nk, wk = ks(narrow), ks(wide)
    assert nk and nk < wk  # fewer cells -> strictly fewer candidates
    assert len(wk) == len(qids) * (2 * n - 1)  # all-cells = whole corpus


def test_open_ann_store_explicit_bucket_mismatch_raises(spark, tmp_path):
    """Round-10 advice #2: an explicitly passed n_buckets that
    mismatches the store's recorded value must raise like every sibling
    path — silently registering the bucketed tables with the wrong
    count would mis-route every probe's bucket join."""
    import pytest

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    root = str(tmp_path / "s")
    for t in ("annstore_nb", "annstore_nb_vectors"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    sim.write_ann_store(emb, root, table="annstore_nb", bits=6, tables=4)
    before = dict(sim._ANN_PARAMS.get("annstore_nb") or {})
    with pytest.raises(ValueError, match="store param mismatch"):
        sim.open_ann_store(spark, root, table="annstore_nb", n_buckets=7)
    # the raise must not have poisoned the session's recipe cache (the
    # table still points at the previously registered store)
    assert dict(sim._ANN_PARAMS.get("annstore_nb") or {}) == before
    # matching or omitted stays fine
    assert sim.open_ann_store(spark, root, table="annstore_nb") is not None


def test_knn_from_store_refuses_an_unbound_table(spark):
    """A probe by table name alone needs the recipe this process
    recorded when it wrote or opened that table; with none it raises
    instead of signing the queries under assumed planes."""
    import pytest

    queries = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    with pytest.raises(ValueError, match="no ANN store is bound"):
        sim.knn_from_store(queries, table="annstore_never_bound", k=5)
