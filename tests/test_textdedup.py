"""Text-analysis + dedup operator tests: synthetic fixtures with planted
exact/near duplicates, plus a MinHash-LSH recall measurement against the
exact n-gram Jaccard pairs on the real documents table."""

from __future__ import annotations

from pyspark.sql import functions as F

from scipi_spark.operators import dedup, textops
from tests.conftest import SF_SMOKE
from tests.oracle import formatted_plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles_edges(spark):
    df = _docs(
        spark,
        [
            (1, "a b c d"),
            (2, "a b"),  # shorter than k -> empty
            (3, "  x   y  z "),  # messy whitespace
            (4, "a b c a b c"),  # repeated shingles dedup
        ],
    )
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", textops.word_shingles("text", 3).alias("sh")).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []
    assert got[3] == ["x y z"]
    assert got[4] == ["a b c", "b c a", "c a b"]


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    bodies, start = [], plan.find("lambdafunction(")
    while start != -1:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start : end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


def test_shingles_and_chunks_tokenize_once(spark):
    """A lambda body gets no subexpression elimination, so a body that
    names the tokenizer re-splits the document once per shingle or
    chunk. The split runs outside every lambda, once per document; the
    dedup shingle projection (hashed inside the array) included."""
    df = _docs(spark, [(1, "a b c d e f g h i j")])
    for col in (
        F.transform(textops.word_shingles("text", 3), lambda x: F.xxhash64(x)),
        textops.token_chunks("text", 4),
    ):
        plan = formatted_plan(df.select(col.alias("out")))
        bodies = _lambda_bodies(plan)
        assert bodies and "split(" in plan, plan
        assert not [b for b in bodies if "split(" in b], plan
    got = df.select(textops.token_chunks("text", 4).alias("c")).first()["c"]
    assert got == ["a b c d", "e f g h", "i j"]


def test_exact_dup_groups_and_dedup(spark):
    df = _docs(
        spark,
        [
            (1, "hello world foo"),
            (2, "Hello   WORLD foo"),  # same after normalization
            (3, "different text entirely"),
            (4, "hello world foo"),
        ],
    )
    groups = dedup.exact_dup_groups(df).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 3
    assert groups[0]["canonical_id"] == 1

    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(df).collect())
    assert kept == [1, 3]


def test_ngram_jaccard_identical_docs(spark):
    df = _docs(
        spark,
        [
            (1, "w1 w2 w3 w4 w5 w6"),
            (2, "w1 w2 w3 w4 w5 w6"),  # identical -> jaccard 1.0
            (3, "w1 w2 w3 w4 w5 zz"),  # 3 of 4 shingles shared with 1
            (4, "completely other words here now"),
        ],
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # docs 1,3: shingles of 1 = {123,234,345,456}, of 3 = {123,234,345,45z}
    # inter=3, union=5 -> 0.6
    assert pairs[(1, 3)] == 0.6
    assert (1, 4) not in pairs


def test_minhash_recall_vs_exact(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, num_perm=64, bands=16, threshold=0.3
        ).collect()
    }
    assert exact, "fixture should contain near-duplicates"
    # verification makes precision exact
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_simhash_identical_and_blocking(spark):
    df = _docs(
        spark,
        [
            (1, "spark query engine fast scan"),
            (2, "spark query engine fast scan"),
            (3, "zebra yak xylophone walrus vulture"),
        ],
    )
    pairs = dedup.simhash_pairs(df, k=1, max_hamming=3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["hamming"] == 0


def test_quality_features_shape(spark):
    df = _docs(spark, [(1, "the quick brown fox"), (2, "zz")])
    out = {r["doc_id"]: r for r in textops.quality_features(df).collect()}
    assert out[1]["q_n_tokens"] == 4
    assert 0.0 <= out[1]["q_score"] <= 1.0
    assert out[1]["q_stopword_ratio"] == 0.25
    assert out[2]["q_stopword_ratio"] == 0.0


def test_lang_id(spark):
    df = _docs(
        spark,
        [(1, "the cat sat on the mat and looked at a bird"), (2, "xx yy zz qq")],
    )
    got = {r["doc_id"]: r["l"] for r in df.select(
        "doc_id", textops.lang_id("text").alias("l")).collect()}
    assert got[1] == "en"
    assert got[2] == "unknown"


def test_repetition_features_edges(spark):
    from scipi_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # one word repeated
            (2, "a b c d"),            # all distinct
            (3, "x"),                  # single word: no bigrams/trigrams
            (4, "a b a b a b"),        # perfectly periodic
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in textops.repetition_features(df).collect()
    }
    assert rows[1]["dup_word_frac"] == 0.75          # 1 distinct of 4
    assert rows[1]["top_bigram_frac"] == 1.0         # "a a" is every bigram
    assert rows[1]["dup_trigram_frac"] == 1.0
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] == round(1 / 3, 6)  # all unique
    assert rows[2]["dup_trigram_frac"] == 0.0
    assert rows[3]["top_bigram_frac"] == 0.0         # coalesced: no bigrams
    assert rows[3]["dup_trigram_frac"] == 0.0
    # doc 4: bigrams = [ab, ba, ab, ba, ab] -> top = 3/5
    assert rows[4]["top_bigram_frac"] == 0.6


def test_pii_scrub_redacts_and_counts(spark):
    from scipi_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@my-site.org today"),
            (2, "call 555-1234 or 555-9999"),
            (3, "nothing here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textops.pii_scrub(df).collect()}
    assert rows[1]["n_redactions"] == 1
    assert "<EMAIL>" in rows[1]["scrubbed"]
    assert "@" not in rows[1]["scrubbed"]
    assert rows[2]["n_redactions"] == 2
    assert rows[2]["scrubbed"] == "call <PHONE> or <PHONE>"
    assert rows[3]["n_redactions"] == 0
    assert rows[3]["scrubbed"] == "nothing here"


def test_chunk_documents_boundaries(spark):
    from scipi_spark.operators import textops

    words_100 = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, words_100), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    chunks = textops.chunk_documents(
        df, chunk_tokens=64, stride=48
    ).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts at 1, 49, 97 -> chunks of 64, 52, 4 tokens
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in d1] == [64, 52, 4]
    assert d1[0]["chunk_text"].split()[0] == "w0"
    assert d1[1]["chunk_text"].split()[0] == "w48"
    assert d1[2]["chunk_text"].split() == ["w96", "w97", "w98", "w99"]
    # short doc: one short chunk
    d2 = by_doc[2]
    assert len(d2) == 1 and d2[0]["n_tokens"] == 3
    # empty doc: no chunks
    assert 3 not in by_doc


def test_pack_sequences_deterministic_bins(spark):
    from scipi_spark.operators import textops

    # 5 docs of 200 tokens each in one shard: bins at budget 512 are
    # floor(tokens_before/512) = 0,0,0,1,1
    docs = [
        (i, "s0", " ".join(["t"] * 200)) for i in range(5)
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    rows = sorted(
        textops.pack_sequences(df, budget=512).collect(),
        key=lambda r: r["bin"],
    )
    assert [(r["bin"], r["n_docs"], r["sum_tokens"]) for r in rows] == [
        (0, 3, 600),
        (1, 2, 400),
    ]


def test_decontaminate_finds_planted_overlap(spark):
    from scipi_spark.operators import textops

    evald = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "x y alpha beta gamma delta epsilon end"),  # shares 5-grams
            (2, "p q r s t u v w"),                         # clean
        ],
        "doc_id long, text string",
    )
    rows = textops.decontaminate(train, evald, k=5).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 1
    # "alpha beta gamma delta epsilon" is the only shared 5-gram
    assert rows[0]["n_shared_grams"] == 1


def test_tfidf_top_terms_known_values(spark):
    from scipi_spark.operators import textops
    import math

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry durian cherry durian"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["doc_id"], r["term"]): (r["tf"], r["tfidf"], r["rank"])
        for r in textops.tfidf_top_terms(docs, k=2).collect()
    }
    ln = math.log
    # df: apple 1, banana 2, cherry 2, durian 1; N = 3
    assert out[(1, "apple")] == (2, round(2 * ln(3 / 1), 6), 1)
    assert out[(1, "banana")] == (1, round(1 * ln(3 / 2), 6), 2)
    assert out[(3, "cherry")][0] == 2 and out[(3, "durian")][0] == 2
    # durian (df=1) outscores cherry (df=2): 2*ln(3) > 2*ln(1.5)
    assert out[(3, "durian")][2] == 1 and out[(3, "cherry")][2] == 2
    assert len(out) == 6  # k=2 per doc


def test_tfidf_ubiquitous_term_scores_zero(spark):
    from scipi_spark.operators import textops

    docs = spark.createDataFrame(
        [(i, "common unique%d" % i) for i in range(4)], ["doc_id", "text"]
    )
    rows = textops.tfidf_top_terms(docs, k=2).collect()
    by_term = {(r["doc_id"], r["term"]): r for r in rows}
    for i in range(4):
        assert by_term[(i, "common")]["tfidf"] == 0.0
        assert by_term[(i, "unique%d" % i)]["rank"] == 1  # idf ln(4) beats 0


def test_minhash_increment_covers_batch_pairs_only(spark):
    from pyspark.sql import functions as F
    from scipi_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cutoff = docs.agg(
        F.floor(F.expr("percentile(doc_id, 0.8)")).cast("long").alias("c")
    ).collect()[0]["c"]
    corpus = docs.filter(F.col("doc_id") < cutoff)
    batch = docs.filter(F.col("doc_id") >= cutoff)

    inc = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_increment(
            corpus, batch, k=3, num_perm=64, bands=16, threshold=0.3
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, k=3, num_perm=64, bands=16, threshold=0.3
        ).collect()
    }
    want = {(a, b) for a, b in full if a >= cutoff or b >= cutoff}
    assert inc == want          # exactly the batch-touching pairs
    assert all(a >= cutoff or b >= cutoff for a, b in inc)  # no old-old


def test_bm25_ranks_rare_term_doc_first(spark):
    from scipi_spark.operators import textops
    import math

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta"),       # has both query terms
            (2, "alpha gamma gamma"),     # only the common term
            (3, "gamma gamma gamma"),     # no query terms
            (4, "alpha alpha alpha"),     # common term, high tf
        ],
        "doc_id long, text string",
    )
    rows = textops.bm25_search(docs, ["alpha", "beta"], topk=4).collect()
    ids = [r["doc_id"] for r in rows]
    assert 3 not in ids                  # no query terms -> no score
    assert ids[0] == 1                   # rare "beta" dominates
    # manual check of doc 1's score (N=4, df_alpha=3, df_beta=1, dl=3, avgdl=3)
    idf_a = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))
    idf_b = math.log(1 + (4 - 1 + 0.5) / (1 + 0.5))
    tf1a = (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 3 / 3))
    tf1b = (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / 3))
    want = round(idf_a * tf1a + idf_b * tf1b, 6)
    got = {r["doc_id"]: r["bm25"] for r in rows}[1]
    assert abs(got - want) < 1e-6


def test_cohort_retention_counts(spark):
    from scipi_spark.plans import relational
    import datetime as dt

    # week0: users 1,2,3 start; week1: 1,3 return + user 4 starts
    base = dt.datetime(2024, 1, 1, 12, 0)  # a Monday
    rows = [
        (1, base), (2, base), (3, base),
        (1, base + dt.timedelta(days=7)),
        (3, base + dt.timedelta(days=8)),
        (4, base + dt.timedelta(days=7)),
        (1, base + dt.timedelta(days=1)),   # same week dup -> distinct
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    import scipi_spark.sources.tables as tables
    orig = tables.load_events
    try:
        # events_cohort_retention loads via load_events(spark, sf_dir)
        import scipi_spark.plans.relational as rel
        saved = rel.load_events
        rel.load_events = lambda s, d: ev
        out = {
            (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
            for r in relational.events_cohort_retention(spark, "ignored").collect()
        }
    finally:
        rel.load_events = saved
    assert out[("2024-01-01", 0)] == 3
    assert out[("2024-01-01", 1)] == 2
    assert out[("2024-01-08", 0)] == 1
    assert len(out) == 3


def test_signature_store_probe_matches_direct_increment(spark, tmp_path):
    from pyspark.sql import functions as F
    from scipi_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cutoff = docs.agg(
        F.floor(F.expr("percentile(doc_id, 0.8)")).cast("long").alias("c")
    ).collect()[0]["c"]
    corpus = docs.filter(F.col("doc_id") < cutoff)
    batch = docs.filter(F.col("doc_id") >= cutoff)

    spark.sql("DROP TABLE IF EXISTS sigstore_test")
    dedup.write_signature_store(
        corpus, str(tmp_path / "store"), table="sigstore_test",
        k=3, num_perm=64, bands=16,
    )
    from_store = dedup.minhash_lsh_increment_from_store(
        spark, str(tmp_path / "store"), batch, table="sigstore_test",
        k=3, num_perm=64, bands=16, threshold=0.3,
    )
    direct = dedup.minhash_lsh_increment(
        corpus, batch, k=3, num_perm=64, bands=16, threshold=0.3
    )
    got = sorted(map(tuple, from_store.collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want and want  # identical pairs, non-empty fixture


def test_signature_store_probe_is_corpus_shuffle_free(spark, tmp_path):
    """The store's reason to exist: the probe join must read the bucketed
    band table without an Exchange (only the batch side shuffles)."""
    import re

    from pyspark.sql import functions as F
    from scipi_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(F.col("doc_id") >= 300)
    spark.sql("DROP TABLE IF EXISTS sigstore_plan")
    dedup.write_signature_store(
        corpus, str(tmp_path / "store"), table="sigstore_plan", n_buckets=8
    )
    # isolate the probe join: batch bands vs the stored table, no AQE
    # so the final plan is inspectable deterministically
    old = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # model the big-batch regime: a real increment is far beyond
        # broadcast size, so force the shuffled-join path the store is
        # designed for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        b_sizes, b_postings, b_bands = dedup.batch_lsh_state(batch)
        b_bands = b_bands.localCheckpoint(eager=True)
        # plain-parquet copy of the same corpus index for the differential
        plain_path = str(tmp_path / "bands_plain")
        spark.table("sigstore_plan").write.mode("overwrite").parquet(plain_path)

        def n_exchanges(index_df):
            probe = dedup._probe_candidates(b_bands, index_df)
            plan = formatted_plan(probe)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            return len(re.findall(r"\(\d+\) Exchange\b", plan)), plan

        n_bucketed, plan_b = n_exchanges(spark.table("sigstore_plan"))
        n_plain, _ = n_exchanges(spark.read.parquet(plain_path))
        probe = dedup.minhash_lsh_increment_from_store(
            spark, str(tmp_path / "store"), batch, table="sigstore_plan",
            batch_state=(b_sizes, b_postings, b_bands),
        )
        probe.collect()
        nodes = list(_plan_nodes(probe._jdf.queryExecution().executedPlan()))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    # identical batch side, identical join — the bucketed index is the
    # only difference, and it must remove exactly the corpus-side shuffle
    assert "Bucketed: true" in plan_b
    assert n_bucketed == n_plain - 1, (n_bucketed, n_plain)

    # the whole probe: the batch ids are broadcast as they are to the
    # anti joins over the stored postings and sizes — duplicate build keys
    # cannot change an anti join, so no aggregate or shuffle sits below
    # the broadcast
    anti = [
        n for n, _ in nodes
        if n.nodeName() == "BroadcastHashJoin"
        and n.joinType().toString() == "LeftAnti"
    ]
    stored = {"sizes" if "n_sh:" in n.left().toString() else "postings" for n in anti}
    assert stored == {"postings", "sizes"}, stored
    for join in anti:
        below = {m.nodeName() for m, _ in _plan_nodes(join.right())}
        assert not below & {"HashAggregate", "Exchange"}, below
    # the two probe joins' raw pairs take one distinct: between a probe
    # join and the verify join that reads the candidates, one shuffle
    # on the pair and the verify's own shuffle on doc_a
    probe_joins = [
        (n, up) for n, up in nodes
        if n.nodeName() == "SortMergeJoin" and "band" in n.leftKeys().toString()
    ]
    assert len(probe_joins) == 2
    for _, up in probe_joins:
        crossed = []
        for m in reversed(up):
            if m.nodeName().endswith("Join"):
                break
            if m.nodeName() == "Exchange":
                crossed.append(m.outputPartitioning().toString())
        pairs = [p for p in crossed if re.match(r"hashpartitioning\(doc_a#\d+L?, doc_b#", p)]
        assert len(pairs) == 1 and len(crossed) == 2, crossed


def _plan_nodes(plan, up=()):
    """(node, its ancestors from the root) over a physical plan tree."""
    yield plan, up
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i), up + (plan,))


def test_minhash_kernel_matches_golden_bits(spark, tmp_path):
    """Postings, signatures and band hashes are pinned bit for bit
    (tests/minhash_golden.json): a store written by an earlier build must
    stay probe-compatible. The golden signatures are checked against a
    pure-Python MinHash over the golden postings and their band hashes
    against the golden bands; the kernel, a store build and a store
    compaction must reproduce the postings and the bands."""
    import json
    import random
    from pathlib import Path

    import pytest

    from scipi_spark.sources import storectl

    g = json.loads((Path(__file__).parent / "minhash_golden.json").read_text())
    docs = _docs(spark, [tuple(d) for d in g["docs"]])
    want_postings = sorted(
        (int(d), sh) for d, shs in g["postings"].items() for sh in shs
    )
    want_bands = sorted(
        (int(d), b, bh) for d, bhs in g["bands"].items() for b, bh in enumerate(bhs)
    )
    # signatures: each shingle's xxhash64 mod 2^31-1 through 64 fixed-seed
    # 2-universal permutations, minimized per doc
    p = 2_147_483_647
    rng = random.Random(1_000_003)
    coeffs = [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(64)]
    for d, shs in g["postings"].items():
        if not shs:  # a doc with no shingles has no signature
            assert d not in g["sigs"], d
            continue
        want = [min((a * (sh % p) + b) % p for sh in shs) for a, b in coeffs]
        assert g["sigs"][d] == want, d
    # bands: murmur3 over each 4-row slice of the signature
    sigs = spark.createDataFrame(
        [(int(d), sig) for d, sig in g["sigs"].items()], "doc long, sig array<long>"
    )
    hashed = sigs.select(
        "doc",
        F.posexplode(
            F.array(
                *[F.hash(*[F.col("sig")[4 * b + j] for j in range(4)]) for b in range(16)]
            )
        ),
    )
    assert sorted(map(tuple, hashed.collect())) == want_bands

    sizes, postings, bands = dedup.batch_lsh_state(docs)
    assert sorted(map(list, sizes.collect())) == g["sizes"]
    with pytest.raises(ValueError):  # bands must divide num_perm
        dedup.batch_lsh_state(docs, num_perm=64, bands=5)
    assert sorted(map(tuple, postings.collect())) == want_postings
    assert sorted(map(tuple, bands.collect())) == want_bands

    root = str(tmp_path / "store")

    def stored():
        ver = storectl.current_dir(root)
        return (
            sorted(map(tuple, spark.read.parquet(ver + "/postings").collect())),
            sorted(map(tuple, spark.table("sigstore_golden").collect())),
        )

    spark.sql("DROP TABLE IF EXISTS sigstore_golden")
    dedup.write_signature_store(docs, root, table="sigstore_golden")
    assert stored() == (want_postings, want_bands)
    dedup.compact_signature_store(spark, root, table="sigstore_golden")
    assert stored() == (want_postings, want_bands)
    assert storectl.open_store(root, dedup.SIG_STORE).meta["build_key"] == "sig-v1"


def test_batch_lsh_state_releases_its_spread_copy(spark):
    """The shingle index caches a spread copy of a narrow input only
    until the shingle arrays are checkpointed: a streaming sink calling
    batch_lsh_state per micro-batch must not leave a cached copy of every
    batch in the session. The other operators that checkpoint what they
    derive from a spread copy release it the same way."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cache = spark._jsparkSession.sharedState().cacheManager()
    target = spark.sparkContext.defaultParallelism
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 40))
        for lo in (300, 340, 380)
    ]
    # the input is narrower than the session, so the index does spread it
    assert batches[0].rdd.getNumPartitions() < target
    for op in (
        dedup.batch_lsh_state,
        dedup.duplicate_substring_spans,
        dedup.winnow_overlap_pairs,
        dedup.simhash_pairs,
    ):
        for batch in batches:
            op(batch)
        held = [
            cache.lookupCachedData(b.repartition(target)._jdf).isDefined()
            for b in batches
        ]
        assert held == [False] * len(batches), op.__name__


def test_lsh_band_rows_plan_costs_no_call_per_permutation(spark, monkeypatch):
    """Building the signature and band plans is one SQL expression each:
    the JVM calls it takes do not grow with num_perm."""
    import gc

    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    postings = spark.createDataFrame([(1, 5), (1, 7), (2, 5)], "doc long, sh long")
    # proxies freed by Python are released on the JVM asynchronously;
    # those commands are not the build's own
    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(release):
            sent.append(command)
        return send(self, command)

    # warm-up; every plan stays referenced, so none is released while
    # the calls are counted
    built = [dedup._lsh_band_rows(postings, 64, 16)]
    calls = {}
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    for num_perm in (64, 256):
        gc.collect()
        del sent[:]
        built.append(dedup._lsh_band_rows(postings, num_perm, 16))
        calls[num_perm] = len(sent)
    assert max(calls.values()) <= 100, calls


def test_bm25_store_matches_direct_search(spark, tmp_path):
    """The persisted-index BM25 returns the same (doc, score) ranking as
    the raw-corpus search — equivalence that lets the gate entry share
    text_bm25's oracle."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS bm25store_test")
    textops.write_text_index_store(
        docs, str(tmp_path / "idx"), table="bm25store_test"
    )
    q = ["join", "hash", "scan"]
    from_store = sorted(
        map(
            tuple,
            textops.bm25_from_store(
                spark, str(tmp_path / "idx"), q, table="bm25store_test", topk=10
            ).collect(),
        )
    )
    direct = sorted(map(tuple, textops.bm25_search(docs, q, topk=10).collect()))
    assert from_store == direct and direct


def test_bm25_store_scan_bucket_prunes_to_query_terms(spark, tmp_path):
    """The index's reason to exist: an IN filter over the query terms must
    bucket-prune the postings scan (SelectedBucketsCount < total), so a
    3-term query reads a bounded slice of the index no matter the corpus
    size."""
    import re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS bm25store_plan")
    textops.write_text_index_store(
        docs, str(tmp_path / "idx"), table="bm25store_plan", n_buckets=16
    )
    out = textops.bm25_from_store(
        spark, str(tmp_path / "idx"), ["join", "hash", "scan"],
        table="bm25store_plan", topk=10,
    )
    plan = formatted_plan(out)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan[:3000]
    assert int(m.group(1)) <= 3 < int(m.group(2)) == 16, m.groups()


def test_paragraph_dedup_stats(spark):
    from scipi_spark.operators import dedup

    rows = [
        (1, "a b c d e f g h i j"),     # chunks: "a..h", "i j"
        (2, "a b c d e f g h x y"),     # first chunk duplicates doc 1's
        (3, ""),                         # no segments -> no output row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_paras"], r["n_dup"], r["dup_frac"])
        for r in dedup.paragraph_dedup_stats(df, words=8).collect()
    }
    assert got[1] == (2, 0, 0.0)
    assert got[2] == (2, 1, 0.5)
    assert 3 not in got


def test_quantize_embeddings_stats(spark):
    from scipi_spark.operators import similarity

    rows = [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r.asDict() for r in
           similarity.quantize_embeddings_stats(df).collect()}
    # amax=1.0 -> scale=1/127; q = round(x*127) = [127, -64, 32, 0]
    r1 = got[1]
    assert (r1["q_max"], r1["q_min"]) == (127, -64)
    assert r1["q_sum"] == 127 - 64 + 32 + 0
    assert r1["q_l1"] == 127 + 64 + 32
    # all-zero vector: guarded scale=1.0, q all zero, zero error
    r2 = got[2]
    assert (r2["q_sum"], r2["q_l1"], r2["max_err"]) == (0, 0, 0.0)
    assert r2["scale"] == 1.0


def test_bigram_cross_entropy(spark):
    import math

    from scipi_spark.operators import textops

    rows = [(1, "a b a b"), (2, "a a a a"), (3, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           textops.bigram_cross_entropy(df).collect()}
    # corpus bigrams: doc1 {ab, ba, ab}, doc2 {aa x3}; V = 3 (a, b, x)
    # c(a,b)=2 c(b,a)=1 c(a,a)=3; c1(a)=5 c1(b)=1
    p_ab = (2 + 1) / (5 + 3)
    p_ba = (1 + 1) / (1 + 3)
    p_aa = (3 + 1) / (5 + 3)
    want1 = round(-(2 * math.log(p_ab) + math.log(p_ba)) / 3, 6)
    want2 = round(-(3 * math.log(p_aa)) / 3, 6)
    assert got[1]["n_bigrams"] == 3 and abs(got[1]["xent"] - want1) < 1e-9
    assert got[2]["n_bigrams"] == 3 and abs(got[2]["xent"] - want2) < 1e-9
    assert 3 not in got  # single-token doc has no bigrams


def test_c4_gopher_filter_rules(spark):
    good = (
        "the quick brown fox jumps over that lazy dog with great energy "
        "and calm today " * 5
    )
    rows = [
        (1, good),
        (2, "too short to pass"),
        (3, good + " {code}"),
        (4, good + " Lorem Ipsum dolor"),
        (5, good + " " + "### " * 20),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in textops.c4_gopher_filter(df).collect()}
    assert got[1]["keep"] and got[1]["stop_hits"] >= 2
    assert not got[2]["keep"] and got[2]["n_words"] < 50
    assert not got[3]["keep"] and got[3]["has_brace"]
    assert not got[4]["keep"] and got[4]["has_bad_phrase"]
    assert not got[5]["keep"] and got[5]["symbol_ratio"] > 0.1


def test_compact_signature_store_repairs_duplicate_append(spark, tmp_path):
    """A replayed append (same batch folded twice) inflates Jaccard for
    later probes that don't contain the duplicated ids; compaction
    restores probe results to exactly those of a cleanly-built store."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(25)
        .localCheckpoint(eager=True)
    )
    corpus = docs.limit(20)
    batch = docs.limit(5).select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    probe = docs.limit(5).select((F.col("doc_id") + 20_000).alias("doc_id"), "text")

    broken = str(tmp_path / "broken")
    clean = str(tmp_path / "clean")
    dedup.write_signature_store(corpus, broken, table="t_cmp_broken")
    dedup.write_signature_store(corpus, clean, table="t_cmp_clean")
    try:
        # crash-replay: the SAME batch appended twice into one store,
        # appended once into the reference store
        dedup.append_signature_store(batch, broken, table="t_cmp_broken")
        dedup.append_signature_store(batch, broken, table="t_cmp_broken")
        dedup.append_signature_store(batch, clean, table="t_cmp_clean")

        want = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.minhash_lsh_increment_from_store(
                spark, clean, probe, table="t_cmp_clean", threshold=0.5
            ).collect()
        }
        # the probe pairs against the doubled batch docs: for exact
        # copies the doubled intersection drives the union denominator to
        # zero, so the hazard manifests as inflated scores OR an ANSI
        # divide-by-zero — either way, wrong
        try:
            got_broken = {
                (r["doc_a"], r["doc_b"], r["jaccard"])
                for r in dedup.minhash_lsh_increment_from_store(
                    spark, broken, probe, table="t_cmp_broken", threshold=0.5
                ).collect()
            }
            assert got_broken != want
        except Exception:
            pass  # DIVIDE_BY_ZERO from the doubled store

        dedup.compact_signature_store(spark, broken, table="t_cmp_broken")
        got_fixed = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.minhash_lsh_increment_from_store(
                spark, broken, probe, table="t_cmp_broken", threshold=0.5
            ).collect()
        }
        assert got_fixed == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cmp_broken")
        spark.sql("DROP TABLE IF EXISTS t_cmp_clean")


def test_remove_boilerplate(spark):
    from scipi_spark.operators import textops

    boiler = "nav home about contact legal cookie accept privacy"  # 8 words
    rows = [
        (1, boiler + " alpha beta gamma delta one two three four"),
        (2, boiler + " epsilon zeta eta theta five six seven eight"),
        (3, boiler),                         # doc that is ALL boilerplate
        (4, "iota kappa lambda mu nine ten eleven twelve"),  # unique only
        (5, ""),                             # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           textops.remove_boilerplate(df, min_docs=3, words=8).collect()}
    assert len(got) == 5                     # every doc comes back
    # boilerplate removed EVERYWHERE, incl. its first occurrence
    assert got[1]["n_removed"] == 1
    assert got[1]["text_clean"] == "alpha beta gamma delta one two three four"
    assert got[2]["n_removed"] == 1
    assert got[2]["text_clean"] == "epsilon zeta eta theta five six seven eight"
    assert got[3] == {"doc_id": 3, "n_segments": 1, "n_removed": 1,
                      "text_clean": ""}
    # a segment in only ONE doc stays
    assert got[4]["n_removed"] == 0
    assert got[4]["text_clean"] == rows[3][1]
    assert got[5] == {"doc_id": 5, "n_segments": 0, "n_removed": 0,
                      "text_clean": ""}


def test_remove_boilerplate_reassembles_in_order(spark):
    from scipi_spark.operators import textops

    # 3 segments; the MIDDLE one is boilerplate across 3 docs — the
    # cleaned text must keep segments 0 and 2 in original order
    common = "c1 c2 c3 c4 c5 c6 c7 c8"
    texts = {
        i: f"a{i}1 a{i}2 a{i}3 a{i}4 a{i}5 a{i}6 a{i}7 a{i}8 "
           + common
           + f" z{i}1 z{i}2 z{i}3 z{i}4 z{i}5 z{i}6 z{i}7 z{i}8"
        for i in range(3)
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           textops.remove_boilerplate(df, min_docs=3, words=8).collect()}
    for i in range(3):
        head, _, tail = texts[i].partition(" " + common + " ")
        assert got[i]["text_clean"] == head + " " + tail
        assert got[i]["n_removed"] == 1
        assert got[i]["n_segments"] == 3


def test_nb_quality_classifier_separates_and_scores_prior_only(spark):
    import math

    from scipi_spark.operators import textops

    train_rows = [
        (0, "good clean prose text", True),
        (2, "good curated clean text", True),
        (4, "spam junk click buy", False),
        (6, "junk spam noise buy", False),
    ]
    train = spark.createDataFrame(
        train_rows, "doc_id long, text string, is_pos boolean"
    )
    score_rows = [
        (1, "good clean text"),     # positive-looking
        (3, "spam junk buy"),       # negative-looking
        (5, ""),                    # empty -> prior only
        (7, "zzz qqq"),             # fully unseen tokens
    ]
    score = spark.createDataFrame(score_rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           textops.nb_quality_scores(train, score).collect()}
    assert got[1]["log_odds"] > 0 and got[1]["pred_pos"]
    assert got[3]["log_odds"] < 0 and not got[3]["pred_pos"]
    # balanced classes: prior = ln(2/2) = 0 -> empty doc scores 0
    assert got[5]["n_tokens"] == 0 and got[5]["log_odds"] == 0.0
    # unseen tokens: per-token ln(1/1)=0, so only the length term
    # n * ln((Tn+V)/(Tp+V)) remains (Tp=Tn=8, V=12 distinct train terms)
    assert got[7]["log_odds"] == round(2 * math.log((8 + 12) / (8 + 12)), 6)


def test_containment_catches_excerpt_jaccard_misses(spark):
    # doc 2 is a verbatim excerpt of doc 1; doc 1 is much longer, so
    # Jaccard is low but containment of 2-in-1 is 1.0 and directional.
    long_text = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(10, 15))
    df = _docs(spark, [(1, long_text), (2, excerpt), (3, "totally different text here")])
    pairs = {
        (r["contained"], r["container"]): r["containment"]
        for r in dedup.containment_pairs(df, k=3, threshold=0.9).collect()
    }
    assert pairs == {(2, 1): 1.0}
    # the symmetric metric indeed misses it at the same bar
    jac = dedup.ngram_jaccard_pairs(df, k=3, threshold=0.9).collect()
    assert jac == []


def test_snapshot_diff_statuses(spark):
    old = _docs(spark, [(1, "alpha beta"), (2, "gamma delta"), (3, "kept text")])
    new = _docs(
        spark,
        [
            (2, "gamma delta REVISED"),
            (3, "Kept   TEXT"),  # normalization-equal -> unchanged
            (4, "brand new doc"),
        ],
    )
    got = {
        r["doc_id"]: r["status"]
        for r in dedup.snapshot_diff(old, new).collect()
    }
    assert got == {1: "removed", 2: "changed", 3: "unchanged", 4: "added"}


def test_winnowing_guarantee_and_density(spark):
    # Schleimer et al. guarantee: any shared verbatim run of length
    # >= k + w - 1 chars yields at least one shared fingerprint.
    k, w = 8, 4
    shared = "the quick brown fox jumps over the lazy dog"  # 43 chars
    df = _docs(
        spark,
        [
            (1, f"PREFIX one {shared} SUFFIX one"),
            (2, f"completely different beginning {shared} and ending"),
            (3, "no overlap with anything else at all zzz"),
        ],
    )
    fps = dedup.winnow_fingerprints(df, k=k, w=w)
    by_doc = {
        r["doc_id"]: {x["fp"] for x in rows}
        for r in fps.select("doc_id").distinct().collect()
        for rows in [fps.filter(F.col("doc_id") == r["doc_id"]).collect()]
    }
    assert by_doc[1] & by_doc[2], "shared span must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # density: winnowing selects ~2/(w+1) of positions; distinct set is
    # bounded above by the number of windows
    n1 = len(by_doc[1])
    n_grams = len("prefix one " + shared + " suffix one") - k + 1
    assert 0 < n1 <= n_grams


def test_winnowing_guarantee_randomized(spark):
    """Property form of the Schleimer guarantee: for 30 seeded-random doc
    pairs each sharing a verbatim run of length >= k + w - 1 (embedded at
    random offsets in otherwise-random text), EVERY pair shares at least
    one fingerprint. One Spark job for all pairs."""
    import random
    import string

    k, w = 8, 4
    rng = random.Random(20260814)
    alpha = string.ascii_lowercase + string.digits

    def chunk(n):
        # single-space-separated words: survives normalize_text unchanged
        out = []
        while sum(len(x) + 1 for x in out) < n:
            out.append("".join(rng.choice(alpha) for _ in range(rng.randint(2, 9))))
        return " ".join(out)

    rows = []
    for i in range(30):
        run = chunk(rng.randint(k + w - 1, 48))
        rows.append((2 * i, f"{chunk(rng.randint(0, 60))} {run} {chunk(rng.randint(0, 60))}".strip()))
        rows.append((2 * i + 1, f"{chunk(rng.randint(0, 60))} {run} {chunk(rng.randint(0, 60))}".strip()))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(df, k=k, w=w)
    by_doc: dict = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    missing = [
        i for i in range(30)
        if not (by_doc.get(2 * i, set()) & by_doc.get(2 * i + 1, set()))
    ]
    assert not missing, f"pairs without a shared fingerprint: {missing}"


def _winnow_ref(text: str, k: int, w: int) -> list[int]:
    """Pure-Python reference: 60-bit md5 gram hashes, w-wide clamped
    window minima, first-occurrence distinct — the exact r12 fused-array
    semantics the chunked fold must reproduce bit-for-bit."""
    import hashlib

    t = " ".join(text.lower().split())
    hs = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(t) - k + 1)
    ]
    out: list[int] = []
    seen: set[int] = set()
    for i in range(len(hs)):
        m = min(hs[i : i + w])
        if m not in seen:
            seen.add(m)
            out.append(m)
    return out


def test_winnow_chunked_fold_matches_reference(spark):
    """r13 (r12 verdict #8): the chunked aggregate fold must be
    bit-identical to the unchunked computation for EVERY chunk size —
    including chunks that split mid-window, chunk == 1 position, and
    docs whose last chunk is shorter than w."""
    k, w = 8, 4
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "abcdefgh",  # exactly one gram
        "abcdefghi",  # two grams, window clamps at the tail
        "xyz " * 40,  # periodic: heavy duplicate fingerprints
        "pad " * 2100,  # 8400 chars: crosses smallDocChars → chunked
    ]
    df = _docs(spark, list(enumerate(texts)))
    expected = {
        i: _winnow_ref(t, k, w) for i, t in enumerate(texts)
        if len(" ".join(t.lower().split())) >= k
    }
    # 1 clamps up to w=4; 5/7 split mid-window; 1<<20 = one chunk
    for chunk in (1, 5, 7, 1 << 20):
        spark.conf.set("spark.scipi.winnow.chunkChars", str(chunk))
        try:
            got: dict = {}
            for r in dedup.winnow_fingerprints(df, k=k, w=w).collect():
                got.setdefault(r["doc_id"], []).append(r["fp"])
            assert {i: sorted(v) for i, v in got.items()} == {
                i: sorted(v) for i, v in expected.items()
            }, f"chunkChars={chunk}"
        finally:
            spark.conf.unset("spark.scipi.winnow.chunkChars")


def test_winnow_multi_mb_doc_bounded_chunks(spark):
    """r13 (r12 verdict #8): a multi-MB document runs through MULTIPLE
    bounded chunks at the default 256 KiB chunk size, and its
    fingerprint set equals the single-chunk (whole-doc-array)
    computation — the guard changes peak allocation, never results."""
    import random
    import string

    rng = random.Random(13)
    alpha = string.ascii_lowercase + string.digits + " "
    big = "".join(rng.choice(alpha) for _ in range(2_200_000))
    df = _docs(spark, [(1, big)])
    multi = sorted(
        r["fp"] for r in dedup.winnow_fingerprints(df, k=8, w=4).collect()
    )
    spark.conf.set("spark.scipi.winnow.chunkChars", str(1 << 22))
    try:  # one chunk spanning the whole doc == the pre-guard computation
        single = sorted(
            r["fp"] for r in dedup.winnow_fingerprints(df, k=8, w=4).collect()
        )
    finally:
        spark.conf.unset("spark.scipi.winnow.chunkChars")
    assert multi == single
    assert len(multi) > 100_000  # a real multi-MB fingerprint set


def test_winnow_overlap_pair_expansion_is_codegen_explodes(spark):
    """r13: the pair fan-out is two chained codegen'd explodes + an
    inequality filter — the interpreted transform/struct/flatten array
    comprehension (CodegenFallback: one interpreted lambda evaluation
    and one boxed struct per pair, the whole |ds|^2 array materialized
    per posting row; A/B'd 1.7x slower at sf1) must not reappear — and
    the overlaps must equal a brute-force set reference."""
    import re

    body = " ".join(f"tok{i}" for i in range(40))
    df = _docs(
        spark,
        [
            (1, body),
            (2, body + " with more trailing content"),
            (3, body + " and a different long tail"),
            (4, "nothing shared with the others at all here"),
        ],
    )
    out = dedup.winnow_overlap_pairs(df, k=8, w=4, threshold=0.1)
    plan = formatted_plan(out)
    assert "flatten(transform" not in plan
    # two chained pair explodes + the sizes explode
    assert len(re.findall(r"Arguments: explode\(", plan)) >= 3
    fp_sets: dict[int, set] = {}
    for r in dedup.winnow_fingerprints(df, k=8, w=4).collect():
        fp_sets.setdefault(r["doc_id"], set()).add(r["fp"])
    expect = {}
    for a, sa in fp_sets.items():
        for b, sb in fp_sets.items():
            if a != b:
                ov = round(len(sa & sb) / len(sa), 6)
                if ov >= 0.1:
                    expect[(a, b)] = ov
    got = {
        (r["contained"], r["container"]): r["overlap"] for r in out.collect()
    }
    assert got == expect


def test_winnow_overlap_flags_excerpt(spark):
    body = " ".join(f"tok{i}" for i in range(30))
    df = _docs(spark, [(1, body), (2, body + " extra tail content here beyond"), (3, "unrelated words only")])
    pairs = {
        (r["contained"], r["container"])
        for r in dedup.winnow_overlap_pairs(df, k=8, w=4, threshold=0.8).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_corpus_stats_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c", "en", "s1"),
            (2, "d e", "fr", "s1"),
            (3, "x" * 200, "en", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        r["grp"]: r.asDict()
        for r in textops.corpus_stats(df, short_chars=10).collect()
    }
    assert got["s1"]["n_docs"] == 2
    assert got["s1"]["n_langs"] == 2
    assert got["s1"]["total_chars"] == 8
    assert got["s1"]["total_tokens"] == 5
    assert got["s1"]["short_frac"] == 1.0
    assert got["s2"]["total_tokens"] == 1
    assert got["s2"]["short_frac"] == 0.0


def test_corpus_stats_diff_handles_one_sided_groups(spark):
    """A group present only in one snapshot reports zeros for the missing
    side and signed deltas."""
    old = spark.createDataFrame(
        [(1, "aaaa", "s1"), (2, "bb", "s1"), (3, "cc", "gone")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(1, "aaaa", "s1"), (4, "dddddd", "fresh")],
        "doc_id long, text string, source string",
    )
    got = {
        r["grp"]: r.asDict()
        for r in textops.corpus_stats_diff(old, new).collect()
    }
    assert got["s1"] == {
        "grp": "s1", "docs_old": 2, "docs_new": 1, "docs_delta": -1,
        "chars_old": 6, "chars_new": 4, "chars_delta": -2,
    }
    assert got["gone"]["docs_new"] == 0 and got["gone"]["docs_delta"] == -1
    assert got["fresh"]["docs_old"] == 0 and got["fresh"]["chars_delta"] == 6


def _py_bpe(texts, n_merges):
    """Independent reference BPE (Sennrich et al.): dict-of-lists, greedy
    leftmost non-overlapping merge, ties by (freq desc, pair asc)."""
    from collections import Counter

    vocab = Counter(w for t in texts for w in t.split())
    seqs = {w: list(w) for w in vocab}
    merges = []
    for step in range(1, n_merges + 1):
        pc = Counter()
        for w, c in vocab.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (x, y), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        merges.append((step, f"{x} {y}", cnt))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


def test_bpe_train_matches_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new new new",
        "aaaa baaab ab ab ab abab",  # overlapping-run stress: greedy left
        "x",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["step"], r["pair"], r["freq"])
        for r in textops.bpe_train(df, n_merges=6).orderBy("step").collect()
    ]
    assert got == _py_bpe(texts, 6)


def test_bpe_pair_counts_known(spark):
    df = spark.createDataFrame(
        [(1, "ab ab ba"), (2, "abc")], "doc_id long, text string"
    )
    got = {
        r["pair"]: r["pair_freq"]
        for r in textops.bpe_pair_counts(df).collect()
    }
    # vocab: ab->2, ba->1, abc->1 ; pairs weighted by word freq
    assert got == {"a b": 3, "b a": 1, "b c": 1}


def test_bpe_encode_counts_known(spark):
    df = _docs(spark, [(1, "ab ab cd"), (2, "abcd")])
    out = {
        r["doc_id"]: (r["n_words"], r["n_subwords"], r["subword_per_char"])
        for r in textops.bpe_encode_counts(df, ["a b", "c d"]).collect()
    }
    # 'ab' -> [ab] (1), 'cd' -> [cd] (1), 'abcd' -> [ab, cd] (2)
    assert out[1] == (3, 3, 0.5)
    assert out[2] == (1, 2, 0.5)


def test_cross_corpus_neardup_cross_side_only(spark):
    """Pairs form strictly across the two inputs: a near-identical pair
    WITHIN the left corpus must not appear, while a left-right near-dup
    must (with its exact Jaccard)."""
    left = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # dup of 1 (within-left)
            (3, "completely different words about spark and parquet files"),
        ],
    )
    right = _docs(
        spark,
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1 and 2
            (11, "unrelated eval document mentioning nothing shared at all"),
        ],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.cross_corpus_neardup(left, right, threshold=0.5).collect()
    }
    assert set(got) == {(1, 10), (2, 10)}
    assert got[(1, 10)] == 1.0


def test_cluster_representatives_keeps_best_scored(spark):
    from scipi_spark.operators.graph import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)], "doc long, cluster long"
    )
    docs = spark.createDataFrame(
        [(1, 50), (2, 80), (3, 80), (7, 10), (9, 5), (99, 1000)],
        "doc_id long, n_chars long",
    )
    rows = {
        r["doc"]: (r["rep"], r["keep"])
        for r in cluster_representatives(clusters, docs).collect()
    }
    # cluster 1: docs 2 and 3 tie on score 80 -> smallest id (2) wins
    assert rows[1] == (2, False)
    assert rows[2] == (2, True)
    assert rows[3] == (2, False)
    # cluster 7: doc 7 outscores doc 9
    assert rows[7] == (7, True)
    assert rows[9] == (7, False)
    # unclustered doc 99 is absent (singletons keep themselves trivially)
    assert 99 not in rows


def test_source_overlap_counts_shared_fingerprints(spark):
    df = spark.createDataFrame(
        [
            ("Same  Text", "a"),       # fp X in a (normalization collapses ws)
            ("same text", "b"),        # fp X in b
            ("same text", "c"),        # fp X in c
            ("other doc", "a"),        # fp Y in a
            ("other doc", "b"),        # fp Y in b
            ("other doc", "b"),        # duplicate within b: still one (fp,src)
            ("lonely", "c"),
        ],
        "text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r["shared_fps"]
        for r in textops.source_overlap(df).collect()
    }
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_length_buckets_known_values(spark):
    df = _docs(
        spark,
        [
            (1, " ".join(["w"] * 10)),   # 10 tokens -> cap 16
            (2, " ".join(["w"] * 16)),   # boundary -> cap 16
            (3, " ".join(["w"] * 17)),   # -> cap 32
            (4, " ".join(["w"] * 100)),  # -> cap 128
        ],
    )
    got = {
        r["bucket_cap"]: (
            r["n_docs"],
            r["total_tokens"],
            r["padded_tokens"],
            r["padding_frac"],
        )
        for r in textops.length_buckets(df).collect()
    }
    assert got[16] == (2, 26, 6, round(6 / 32, 6))
    assert got[32] == (1, 17, 15, round(15 / 32, 6))
    assert got[128] == (1, 100, 28, round(28 / 128, 6))


def test_length_buckets_randomized_against_python(spark):
    """Property: bucket assignment and padding replicate the pure-Python
    spec for arbitrary token counts (incl. 0, exact edges, and beyond
    the largest edge)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    edges = textops.LENGTH_BUCKET_EDGES

    def py_cap(n):
        for e in edges:
            if n <= e:
                return e
        return edges[-1] * 2

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=20000), min_size=1, max_size=30
        )
    )
    def run(counts):
        rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(counts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["bucket_cap"]: (r["n_docs"], r["total_tokens"], r["padded_tokens"])
            for r in textops.length_buckets(df).collect()
        }
        want = {}
        for n in counts:
            c = py_cap(n)
            d, t, p = want.get(c, (0, 0, 0))
            want[c] = (d + 1, t + n, p + (c - n))
        assert got == want

    run()


def test_source_overlap_randomized_against_bruteforce(spark):
    """Property: the no-join posting-list pair expansion equals the naive
    (fp, source) self-join count for random source/content assignments."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from itertools import combinations

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),   # content id
                st.integers(min_value=0, max_value=3),   # source id
            ),
            min_size=1,
            max_size=40,
        )
    )
    def run(assignments):
        rows = [
            (f"content piece number {c} repeated words", f"s{g}")
            for c, g in assignments
        ]
        df = spark.createDataFrame(rows, "text string, source string")
        got = {
            (r["source_a"], r["source_b"]): r["shared_fps"]
            for r in textops.source_overlap(df).collect()
        }
        fp_src = {(c, f"s{g}") for c, g in assignments}
        want = {}
        srcs = sorted({s for _, s in fp_src})
        for a, b in combinations(srcs, 2):
            n = len(
                {c for c, s in fp_src if s == a} & {c for c, s in fp_src if s == b}
            )
            if n:
                want[(a, b)] = n
        assert got == want

    run()


def test_perplexity_buckets_thirds_and_per_language(spark):
    """Bucketing is per language: each language's docs split into
    head/middle/tail by their own xent ranking, not a global cutoff."""
    rows = []
    # language A: 6 docs with increasingly repetitive (low-xent) text
    for i in range(6):
        rows.append((i, "en", ("common words " * (6 - i) + f"rare{i} " * (i + 1)).strip()))
    # language B: 3 docs
    for i in range(3):
        rows.append((10 + i, "fr", f"autre texte {'repete ' * (i + 2)} fin{i}"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r["doc_id"]: r["bucket"] for r in textops.perplexity_buckets(df).collect()}
    assert len(out) == 9
    for lang_ids in ([0, 1, 2, 3, 4, 5], [10, 11, 12]):
        buckets = [out[i] for i in lang_ids]
        # per-language: every language has a head and a tail
        assert "head" in buckets and "tail" in buckets
    # thirds on 6 docs: exactly 2 head, 2 middle, 2 tail
    a = [out[i] for i in range(6)]
    assert sorted(a) == ["head", "head", "middle", "middle", "tail", "tail"]


def test_embedding_norm_screen_flags_defects(spark):
    from scipi_spark.operators import similarity as sim

    rows = [
        (1, [3.0, 4.0]),          # healthy: norm 5
        (2, [0.0, 0.0]),          # near-zero norm
        (3, [1.0]),               # wrong dim
        (4, [float("nan"), 1.0]), # non-finite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["n_dim"], r["n_nonfinite"], r["l2_norm"], r["ok"])
        for r in sim.embedding_norm_screen(df, low=0.1, dim=2).collect()
    }
    assert out[1] == (2, 0, 5.0, True)
    assert out[2] == (2, 0, 0.0, False)
    assert out[3][0] == 1 and out[3][3] is False
    assert out[4][1] == 1 and out[4][2] is None and out[4][3] is False


def test_lm_store_matches_in_corpus_cross_entropy(spark, tmp_path):
    """Scoring the training corpus against its own persisted LM must
    reproduce bigram_cross_entropy exactly (every n-gram is seen, so
    the left joins all hit)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(80)
    for t in ("lmstore_eq", "lmstore_eq_ctx"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    textops.write_lm_store(docs, str(tmp_path / "lm"), table="lmstore_eq")
    store = {
        r["doc_id"]: (r["n_bigrams"], r["xent"])
        for r in textops.score_from_lm_store(
            docs, str(tmp_path / "lm"), table="lmstore_eq"
        ).collect()
    }
    direct = {
        r["doc_id"]: (r["n_bigrams"], r["xent"])
        for r in textops.bigram_cross_entropy(docs).collect()
    }
    assert store == direct and store


def test_lm_store_unseen_ngrams_hit_laplace_floor(spark, tmp_path):
    """A batch doc whose n-grams the model never saw scores exactly
    -mean(ln(1/V)) = ln(V) — the Laplace floor, computed not NaN/null."""
    import math

    train = _docs(spark, [(1, "aa bb cc dd aa bb")])
    for t in ("lmstore_floor", "lmstore_floor_ctx"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    textops.write_lm_store(train, str(tmp_path / "lm"), table="lmstore_floor")
    batch = _docs(spark, [(9, "zz yy xx ww")])
    out = textops.score_from_lm_store(
        batch, str(tmp_path / "lm"), table="lmstore_floor"
    ).collect()
    assert len(out) == 1
    r = out[0]
    # V = 4 distinct train tokens; every batch bigram unseen, context
    # unseen: P = (0+1)/(0+4) -> xent = ln(4)
    assert r["n_bigrams"] == 3
    assert abs(r["xent"] - round(math.log(4.0), 6)) < 1e-9


def test_lm_store_score_is_store_shuffle_free(spark, tmp_path):
    """The stored count tables must be read without an Exchange — only
    the batch's bigrams shuffle. Differential vs plain-parquet copies."""
    import re

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(200)
    for t in ("lmstore_plan", "lmstore_plan_ctx"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    textops.write_lm_store(docs, str(tmp_path / "lm"), table="lmstore_plan")
    plain_bc = str(tmp_path / "bc_plain")
    plain_uc = str(tmp_path / "uc_plain")
    spark.table("lmstore_plan").write.mode("overwrite").parquet(plain_bc)
    spark.table("lmstore_plan_ctx").write.mode("overwrite").parquet(plain_uc)

    batch = docs.limit(40)
    bi = textops._doc_bigrams(batch, "doc_id", "text").localCheckpoint(
        eager=True
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def n_exchanges(bc_df, uc_df):
            j = bi.join(bc_df, ["w1", "w2"], "left").join(uc_df, "w1", "left")
            plan = formatted_plan(j)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            return len(re.findall(r"\(\d+\) Exchange\b", plan)), plan

        n_bucketed, plan_b = n_exchanges(
            spark.table("lmstore_plan"), spark.table("lmstore_plan_ctx")
        )
        n_plain, _ = n_exchanges(
            spark.read.parquet(plain_bc), spark.read.parquet(plain_uc)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    assert "Bucketed: true" in plan_b
    # both stored tables drop their Exchange (bigram + context joins)
    assert n_bucketed == n_plain - 2, (n_bucketed, n_plain)


def test_lang_metadata_audit_counts_planted_mislabels(spark):
    """Declared-vs-detected disagreement: a stopword-free doc tagged 'en'
    and a stopword-rich doc tagged 'de' both count as disagreements;
    agreeing docs do not."""
    rows = [
        ("s1", "en", "the cat is on the mat with a dog"),   # en, detected en: agree
        ("s1", "en", "zqx wvu ponm lkj hgf dsa"),           # en tag, not en: disagree
        ("s1", "de", "kein englisch hier nur worte"),       # de, not en: agree
        ("s2", "de", "the cat is on the mat with a dog"),   # de tag, detected en: disagree
    ]
    df = spark.createDataFrame(rows, "source string, lang string, text string")
    out = {
        r["grp"]: (r["n_docs"], r["n_declared_en"], r["n_pred_en"],
                   r["n_disagree"], r["disagree_frac"])
        for r in textops.lang_metadata_audit(df).collect()
    }
    assert out["s1"] == (3, 2, 1, 1, round(1 / 3, 6))
    assert out["s2"] == (1, 0, 1, 1, 1.0)


def test_tokenizer_fertility_known_values(spark):
    """Hand-computed fertility: punctuation and digit runs split into
    extra pieces; the ratio is sum-of-pieces over sum-of-words."""
    rows = [
        (1, "en", "hello world"),           # 2 words, 2 pieces
        (2, "en", "it's 42 done."),         # 3 words, pieces: it,',s,42,done,. = 6
        (3, "zz", "abc"),                   # 1 word, 1 piece
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r["lang"]: (r["n_docs"], r["total_words"], r["total_pieces"], r["fertility"])
        for r in textops.tokenizer_fertility(df).collect()
    }
    assert out["en"] == (2, 5, 8, 1.6)
    assert out["zz"] == (1, 1, 1, 1.0)


def test_duplicate_substring_spans_planted(spark):
    """Two docs share a verbatim 60-char sentence inside otherwise
    unique text: both must report a span covering it; the unique doc
    reports nothing; adjacent/overlapping grid hits merge into ONE
    maximal span per occurrence."""
    shared = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, "alpha beta gamma " + shared + " delta epsilon"),
        (2, "one two three four five " + shared + " six seven"),
        (3, "totally unique content with no repeats anywhere here at all"),
    ]
    out = dedup.duplicate_substring_spans(_docs(spark, rows), k=20).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    for did, prefix in ((1, "alpha beta gamma "), (2, "one two three four five ")):
        spans = by_doc[did]
        assert len(spans) == 1  # one merged island, not per-gram rows
        s = spans[0]
        # the maximal common region is ' ' + shared + ' ' (the spaces on
        # both sides match across the two docs): exact start and length
        assert s["span_start"] == len(prefix)  # 1-based: prefix's trailing space
        assert s["span_len"] == len(shared) + 2


def test_duplicate_substring_spans_within_doc_repeat(spark):
    """A substring repeated twice INSIDE one doc counts as duplicated
    (corpus count > 1) and yields two separated spans."""
    s = "repeatable license header block"
    rows = [(1, s + " unique middle part goes here " + s)]
    out = dedup.duplicate_substring_spans(_docs(spark, rows), k=20).collect()
    assert len(out) == 2
    spans = sorted((r["span_start"], r["span_len"]) for r in out)
    text = rows[0][1]
    second = text.find(s, 1) + 1  # 1-based start of the second copy
    assert spans == [(1, len(s)), (second, len(s))]


def test_dsir_importance_prefers_target_like_docs(spark):
    """Docs built from the target vocabulary must out-score docs from a
    disjoint vocabulary; a doc with < 2 tokens emits no row; top-k
    selection returns the k best."""
    t = "the model trains on clean english text with good grammar"
    o = "zzq qqz zqz qzq zzz qqq zqq qzz zzqq qqzz"
    rows = [
        (1, t + " " + t, "en"),
        (2, t + " extra words here", "en"),
        (3, o + " " + o, "xx"),
        (4, t + " also target like", "xx"),  # held-out but target-like
        (5, "single", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: r["dsir_logw"]
        for r in textops.dsir_importance(
            df, F.col("lang") == "en", n_buckets=64
        ).collect()
    }
    assert 5 not in out  # no bigrams -> no row
    assert out[1] > out[3] and out[2] > out[3]
    # the target-like held-out doc scores above the off-target doc:
    # scoring generalizes through the hashed features, not membership
    assert out[4] > out[3]
    top = textops.dsir_importance(
        df, F.col("lang") == "en", n_buckets=64, k=2
    ).collect()
    assert len(top) == 2
    assert {r["doc_id"] for r in top} <= {1, 2, 4}


def test_decontaminate_bloom_no_false_negatives(spark):
    """The Bloom variant must flag a SUPERSET of the exact n-gram
    decontamination (no false negatives, ever), with identical overlap
    counts on truly-contaminated docs when no hash collision inflates
    them; a tiny filter (high FP pressure) still never misses."""
    ev = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    rows = [
        (1, "x1 y1 alpha beta gamma delta epsilon tail words here"),  # hit
        (2, "clean document with entirely different vocabulary okay"),
        (3, "alpha beta gamma delta epsilon zeta full overlap doc"),  # hit
    ]
    tr = _docs(spark, rows)
    exact = {
        r["doc_id"]: r["n_shared_grams"]
        for r in textops.decontaminate(tr, ev, k=5).collect()
    }
    bloom = {
        r["doc_id"]: r["n_flagged_grams"]
        for r in textops.decontaminate_bloom(tr, ev, k=5).collect()
    }
    assert set(exact) <= set(bloom)  # no false negatives
    for did, n in exact.items():
        assert bloom[did] >= n
    assert 1 in bloom and 3 in bloom
    # saturated filter (m_bits tiny): everything flags — still a
    # superset, demonstrating the conservative failure direction
    sat = {
        r["doc_id"]: r["n_flagged_grams"]
        for r in textops.decontaminate_bloom(tr, ev, k=5, m_bits=8).collect()
    }
    assert set(exact) <= set(sat)


def test_char_entropy_known_values(spark):
    """Hand-computable entropy: uniform 2-char text = ln 2; single
    repeated char = 0; empty doc emits no row; gibberish outscores
    natural-ish text."""
    import math

    rows = [
        (1, "abab"),              # p = {a: .5, b: .5} -> ln 2
        (2, "aaaa"),              # single symbol -> 0
        (3, ""),                  # no row
        (4, "the cat sat on the mat"),
        (5, "xq9!zK2@pL7#mW4$vB8%"),  # key-mash: near-uniform chars
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.char_entropy(df).collect()}
    assert 3 not in out
    assert out[1]["entropy"] == round(math.log(2), 6)
    assert out[1]["n_chars"] == 4 and out[1]["distinct_chars"] == 2
    assert out[2]["entropy"] == 0.0
    assert out[5]["entropy"] > out[4]["entropy"]
    # key-mash with all-distinct chars: entropy = ln(n)
    assert out[5]["entropy"] == round(math.log(20), 6)


def test_trim_duplicate_spans_accounting(spark):
    """Trim accounting: the shared sentence's chars count as dup in
    both docs, the clean doc keeps everything, kept = n - dup exactly
    (normalized-text coordinates)."""
    shared = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, "alpha beta gamma " + shared + " delta epsilon"),
        (2, "one two three four five " + shared + " six seven"),
        (3, "totally unique content with no repeats anywhere here at all"),
    ]
    out = {
        r["doc_id"]: r
        for r in dedup.trim_duplicate_spans(_docs(spark, rows), k=20).collect()
    }
    assert len(out) == 3
    assert out[3]["n_spans"] == 0 and out[3]["dup_chars"] == 0
    assert out[3]["kept_chars"] == out[3]["n_chars"]
    for did in (1, 2):
        r = out[did]
        # maximal common region = ' ' + shared + ' ' (see span test)
        assert r["dup_chars"] == len(shared) + 2
        assert r["kept_chars"] == r["n_chars"] - r["dup_chars"]
        assert r["dup_frac"] == round(r["dup_chars"] / r["n_chars"], 6)


def test_signature_store_params_persist_and_mismatch_raises(spark, tmp_path):
    """Round-10 (r9 verdict #6): the minhash recipe (k, num_perm, bands,
    n_buckets) is persisted in the store's version marker. A probe with
    no recipe args self-configures to the stored recipe; an explicitly
    mismatched probe/append/compact raises LOUDLY instead of silently
    under-recalling against wrong-bucket band hashes."""
    import pytest
    from pyspark.sql import functions as F

    from scipi_spark.operators import dedup
    from scipi_spark.sources import storectl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    spark.sql("DROP TABLE IF EXISTS sigstore_params")
    root = str(tmp_path / "store")
    dedup.write_signature_store(
        corpus, root, table="sigstore_params", k=3, num_perm=32, bands=8,
    )
    assert storectl.open_store(root, dedup.SIG_STORE).params == {
        "k": 3, "num_perm": 32, "bands": 8, "n_buckets": 16,
    }
    # self-configured probe == explicit probe at the stored recipe
    auto = sorted(map(tuple, dedup.minhash_lsh_increment_from_store(
        spark, root, batch, table="sigstore_params", threshold=0.3,
    ).collect()))
    explicit = sorted(map(tuple, dedup.minhash_lsh_increment_from_store(
        spark, root, batch, table="sigstore_params",
        k=3, num_perm=32, bands=8, threshold=0.3,
    ).collect()))
    assert auto == explicit
    with pytest.raises(ValueError, match="store param mismatch"):
        dedup.minhash_lsh_increment_from_store(
            spark, root, batch, table="sigstore_params",
            num_perm=64, bands=16,
        )
    with pytest.raises(ValueError, match="store param mismatch"):
        dedup.append_signature_store(
            batch, root, table="sigstore_params", k=5,
        )
    with pytest.raises(ValueError, match="store param mismatch"):
        dedup.compact_signature_store(
            spark, root, table="sigstore_params", bands=16,
        )
    # append inheriting the stored recipe keeps probes green and carries
    # the recipe into the new version's marker
    dedup.append_signature_store(batch, root, table="sigstore_params")
    assert storectl.open_store(root, dedup.SIG_STORE).params["num_perm"] == 32


def test_kneser_ney_scores_are_finite_and_orderable(spark):
    """KN sanity: probabilities are in (0, 1] so xent > 0 and finite;
    a document made of the corpus's most common bigram scores LOWER
    cross-entropy than one made of a unique bigram; and the KN score
    genuinely differs from the Laplace twin (the continuation term)."""
    from scipi_spark.operators import textops

    rows = [(i, "the cat sat") for i in range(20)]
    rows += [(100, "the cat sat the cat sat"), (101, "zz qq zz qq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kn = {r["doc_id"]: r["xent"]
          for r in textops.kneser_ney_cross_entropy(df).collect()}
    assert all(x > 0 and x == x for x in kn.values())
    assert kn[100] < kn[101]
    lap = {r["doc_id"]: r["xent"]
           for r in textops.bigram_cross_entropy(df).collect()}
    assert kn[100] != lap[100]
    # a 1-token doc yields no row
    one = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    assert textops.kneser_ney_cross_entropy(one).count() == 0


def test_append_text_index_matches_full_rebuild(spark, tmp_path):
    """Round-11: the BM25 index fold — append postings + recomputed
    stats must produce scores BIT-IDENTICAL to a from-scratch index
    over the combined corpus (stats derive from sum/count of longs,
    order-independent), and the recipe inherits from the marker with
    loud mismatch errors."""
    import pytest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    q = ["join", "hash", "scan"]
    for t in ("bm25app_a", "bm25app_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    root_a = str(tmp_path / "a")
    textops.write_text_index_store(corpus, root_a, table="bm25app_a")
    textops.append_text_index_store(batch, root_a, table="bm25app_a")
    folded = sorted(
        map(tuple, textops.bm25_from_store(
            spark, root_a, q, table="bm25app_a", topk=50
        ).collect())
    )

    root_b = str(tmp_path / "b")
    textops.write_text_index_store(docs, root_b, table="bm25app_b")
    scratch = sorted(
        map(tuple, textops.bm25_from_store(
            spark, root_b, q, table="bm25app_b", topk=50
        ).collect())
    )
    assert folded == scratch and folded

    # recipe enforcement: explicit mismatching bucket count raises on
    # both the fold and the probe; omitted args inherit
    with pytest.raises(ValueError, match="store param mismatch"):
        textops.append_text_index_store(
            batch, root_a, table="bm25app_a", n_buckets=7
        )
    with pytest.raises(ValueError, match="store param mismatch"):
        textops.bm25_from_store(
            spark, root_a, q, table="bm25app_a", n_buckets=7
        )


def test_lm_store_append_fold_matches_rebuild(spark, tmp_path):
    """Round-12 LM-store fold: write slice A, append_lm_store slice B
    (partial count rows + exact vocabulary-set fold), and batch scores
    against the folded store are BIT-identical to a from-scratch
    write_lm_store over A union B — including docs whose bigrams use
    tokens only slice B introduced (the V fold must be exact, not
    approximate). Also pins: recipe mismatch raises, compaction
    resets the delta counter without changing a single score, and a
    pre-fold-shape store (no vocab_toks) refuses to append."""
    import shutil

    import pytest

    from scipi_spark.sources import storectl

    slice_a = _docs(spark, [(1, "aa bb cc"), (2, "bb cc dd")])
    slice_b = _docs(spark, [(3, "cc dd ee zz"), (4, "zz aa bb")])
    both = slice_a.unionByName(slice_b)
    batch = _docs(spark, [(9, "aa bb zz qq"), (10, "ee zz cc")])
    tables = ("lmf_app", "lmf_app_ctx", "lmf_full", "lmf_full_ctx")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        textops.write_lm_store(slice_a, str(tmp_path / "lm"), table="lmf_app")
        textops.append_lm_store(slice_b, str(tmp_path / "lm"), table="lmf_app")
        textops.write_lm_store(both, str(tmp_path / "full"), table="lmf_full")
        folded = {
            r["doc_id"]: (r["n_bigrams"], r["xent"])
            for r in textops.score_from_lm_store(
                batch, str(tmp_path / "lm"), table="lmf_app"
            ).collect()
        }
        rebuilt = {
            r["doc_id"]: (r["n_bigrams"], r["xent"])
            for r in textops.score_from_lm_store(
                batch, str(tmp_path / "full"), table="lmf_full"
            ).collect()
        }
        assert folded == rebuilt and folded
        # V folded exactly: 4 stored (aa bb cc dd) + 2 new (ee, zz) = 6
        ver = storectl.open_store(str(tmp_path / "lm"), textops.LM_STORE)
        vrow = spark.read.parquet(ver.path("vocab")).collect()[0]["v"]
        assert vrow == 6.0
        assert ver.params["delta_appends"] == 1

        with pytest.raises(ValueError, match="param mismatch"):
            textops.append_lm_store(
                slice_b, str(tmp_path / "lm"), table="lmf_app", n_buckets=8
            )

        textops.compact_lm_store(spark, str(tmp_path / "lm"), table="lmf_app")
        ver2 = storectl.open_store(str(tmp_path / "lm"), textops.LM_STORE)
        assert ver2.params["delta_appends"] == 0
        compacted = {
            r["doc_id"]: (r["n_bigrams"], r["xent"])
            for r in textops.score_from_lm_store(
                batch, str(tmp_path / "lm"), table="lmf_app"
            ).collect()
        }
        assert compacted == rebuilt
        # one row per key after compaction
        bc = spark.table("lmf_app")
        assert bc.count() == bc.select("w1", "w2").distinct().count()

        # a store whose live version lacks vocab_toks cannot fold
        shutil.rmtree(ver2.path("vocab_toks"))
        with pytest.raises(FileNotFoundError, match="vocab_toks"):
            textops.append_lm_store(
                slice_b, str(tmp_path / "lm"), table="lmf_app"
            )
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
