"""Text-analysis operators for large-scale training-data pipelines
(north-star surface beyond the reference; the reference's in-family
precedent is the P3/P4 string cleaning and A1 shingle-cosine).

All pure Column expressions — tokenization, language-ID, quality scoring,
token counting, and fingerprinting run JVM-side inside whole-stage codegen;
at 100 TB these are narrow maps fused into the parquet scan with full
column pruning (only ``text`` is read).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scipi_spark.sources import storectl

#: Tiny English function-word list for the n-gram/stopword language heuristic.
EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization with empty tokens dropped (leading/trailing
    whitespace safe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-ish proxy count: word-pieces = maximal runs of letters, runs
    of digits, or runs of other non-space symbols — an upper-bound estimate
    of subword token counts without a tokenizer library. (Pure alternation,
    no lookarounds, so the same pattern runs on Java regex and RE2.)"""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"), 0)
    return F.size(pieces).cast("long")


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in (stopwords or EN_STOPWORDS)])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return (n_sw / F.greatest(F.size(toks), F.lit(1))).cast("double")


def lang_id(col: Column | str, threshold: float = 0.05) -> Column:
    """Heuristic language-ID: English iff the stopword ratio clears the
    threshold. (A full n-gram model would broadcast per-language trigram
    tables; the plumbing is identical.)"""
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-language tokenizer fertility: word-pieces per whitespace word
    (``bpe_ish_token_count`` / ``token_count``), aggregated per language
    — the standard multilingual-tokenizer bias audit (a language with
    2× the fertility pays 2× the sequence length, compute, and context
    budget per word; the number that motivates per-language vocabulary
    allocations).

    Ratio of exact integer sums (never a mean-of-ratios, so long docs
    weigh in proportion) — one scan-fused narrow map + one
    partial-aggregated groupBy on the language key."""
    words = token_count(text_col)
    pieces = bpe_ish_token_count(text_col)
    return df.groupBy(F.col(group_col).alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(words).cast("long").alias("total_words"),
        F.sum(pieces).cast("long").alias("total_pieces"),
        F.round(
            (F.sum(pieces) / F.greatest(F.sum(words), F.lit(1))).cast(
                "double"
            ),
            6,
        ).alias("fertility"),
    )


def lang_metadata_audit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Metadata-vs-content language audit: per source, how often the
    DECLARED language tag disagrees with what the content-based detector
    says — crawl metadata lies (mislabeled mirrors, template headers,
    default-'en' CMSes), and a source whose tags can't be trusted needs
    its language routing re-derived from content before mixing.

    Disagreement is measured on the is-English axis the heuristic
    detector (:func:`lang_id`) resolves. One scan-fused narrow map + one
    partial-aggregated groupBy on the source key — the same shape as
    ``corpus_stats``, no joins."""
    declared_en = F.col(lang_col) == "en"
    pred_en = lang_id(text_col) == "en"
    dis = declared_en != pred_en
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        one(declared_en).alias("n_declared_en"),
        one(pred_en).alias("n_pred_en"),
        one(dis).alias("n_disagree"),
        F.round(
            (F.sum(F.when(dis, 1).otherwise(0)) / F.count(F.lit(1))).cast(
                "double"
            ),
            6,
        ).alias("disagree_frac"),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: char/token counts, mean token length,
    stopword ratio, alphabetic ratio, and a composite score in [0,1]."""
    toks = tokens(text_col)
    n_chars = F.length(text_col).cast("long")
    n_tokens = F.size(toks).cast("long")
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z]", "")).cast(
        "long"
    )
    mean_tok = (n_chars / F.greatest(n_tokens, F.lit(1))).cast("double")
    sw_ratio = stopword_ratio(text_col)
    alpha_ratio = (alpha_chars / F.greatest(n_chars, F.lit(1))).cast("double")
    # monotone, bounded score: rewards stopword presence and alpha text,
    # penalizes degenerate token lengths
    score = F.round(
        F.least(
            F.lit(1.0),
            (F.lit(0.5) * alpha_ratio)
            + (F.lit(0.3) * F.least(sw_ratio * 4, F.lit(1.0)))
            + F.when((mean_tok >= 3) & (mean_tok <= 10), 0.2).otherwise(0.0),
        ),
        6,
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(mean_tok, 6).alias("q_mean_token_len"),
        F.round(sw_ratio, 6).alias("q_stopword_ratio"),
        F.round(alpha_ratio, 6).alias("q_alpha_ratio"),
        score.alias("q_score"),
    )


def quality_percentile(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_frac: float | None = None,
) -> DataFrame:
    """Per-group quality percentile rank (percent_rank over ``q_score``
    within each source), the cross-source-bias-free form of quality
    thresholding: one GLOBAL cutoff keeps most of a clean source and
    starves a noisy one, while ranking within source keeps the top X% of
    EACH — the curation shape web-corpus pipelines actually use when
    mixing crawls of very different baseline quality. Ties break by id,
    so the rank (and any ``keep_frac`` cut) is deterministic.

    Scale shape: the rank is the distributed exact percent_rank of
    :mod:`scipi_spark.operators.ranking` — range-sliced, ranked inside
    bounded slices, offsets from a tiny per-slice count table — so one
    source's entire document set never lands on one reducer (a
    ``partitionBy(source)`` window would put ~half a 100 TB crawl on a
    single machine). The quality features are scan-fused Column
    expressions (no UDF, no second pass)."""
    from scipi_spark.operators.ranking import with_percent_rank

    scored = quality_features(df, text_col=text_col).select(
        F.col(id_col), F.col(group_col).alias("grp"), F.col("q_score")
    )
    ranked = with_percent_rank(
        scored,
        order_cols=[("q_score", True), (id_col, True)],
        part_cols=["grp"],
        out_col="__pr",
    )
    out = ranked.select(
        id_col,
        "grp",
        "q_score",
        F.round(F.col("__pr"), 6).alias("q_pct"),
    )
    if keep_frac is not None:
        out = out.filter(F.col("q_pct") >= 1.0 - keep_frac)
    return out


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint (md5 of the normalized text) —
    the exact-dedup key."""
    return F.md5(normalize_text(col))


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row. A lambda
    body gets no subexpression elimination, so an expression named
    inside one is re-evaluated per element (a document re-split once per
    shingle, O(n^2) in its length); bound to a lambda variable, the one
    element of a one-element array, it is computed once."""
    return F.transform(F.array(value), body)[0]


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles (space-joined k-grams of the whitespace
    tokens); the unit set for Jaccard/MinHash dedup. Each document is
    tokenized once."""

    def shingles(toks):
        # transform over 1-based start indices; sequence() must be
        # guarded: sequence(1, 0) would generate a DESCENDING range
        grams = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
        return F.when(F.size(toks) >= k, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return _let(tokens(col), shingles)


def token_chunks(col: Column | str, words: int) -> Column:
    """The whitespace tokens in non-overlapping chunks of ``words``, each
    space-joined, in order (the last chunk may be shorter); an empty
    array for a document with no tokens. Each document is tokenized
    once."""

    def chunks(toks):
        n_chunks = F.ceil(F.size(toks) / F.lit(words)).cast("int")
        return F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * words + 1, words)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _let(tokens(col), chunks)


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition metrics per document: duplicate-word
    fraction, top-bigram fraction (mass of the most frequent 2-gram), and
    duplicate-trigram fraction (mass of 3-grams occurring more than once).

    High values flag boilerplate/spam for training-data filtering (the
    same role as the repetition rules in the Gopher/MassiveText paper).
    The word-level metric is a pure Column expression fused into the
    scan; the n-gram metrics are ONE explode -> count -> per-doc
    aggregate chain: 2- and 3-grams are tagged and exploded together, so
    the whole operator costs two shuffles (by (doc, n, gram), then by
    doc) regardless of corpus size, with no Python anywhere."""
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("w"))
    word_stats = base.select(
        id_col,
        F.size("w").cast("long").alias("n_words"),
        F.round(
            1
            - F.size(F.array_distinct("w"))
            / F.greatest(F.size("w"), F.lit(1)).cast("double"),
            6,
        ).alias("dup_word_frac"),
    )

    def grams(n: int) -> Column:
        g = F.transform(
            F.sequence(F.lit(1), F.size("w") - (n - 1)),
            lambda i: F.struct(
                F.lit(n).alias("n"), F.concat_ws(" ", F.slice("w", i, n)).alias("g")
            ),
        )
        return F.when(F.size("w") >= n, g).otherwise(
            F.array().cast("array<struct<n:int,g:string>>")
        )

    counts = (
        base.select(id_col, F.explode(F.concat(grams(2), grams(3))).alias("ng"))
        .groupBy(id_col, "ng.n", "ng.g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is2, is3 = F.col("n") == 2, F.col("n") == 3
    per_doc = counts.groupBy(id_col).agg(
        F.round(
            F.max(F.when(is2, F.col("c")))
            / F.sum(F.when(is2, F.col("c"))).cast("double"),
            6,
        ).alias("top_bigram_frac"),
        F.round(
            F.coalesce(
                F.sum(F.when(is3 & (F.col("c") > 1), F.col("c"))), F.lit(0)
            )
            / F.sum(F.when(is3, F.col("c"))).cast("double"),
            6,
        ).alias("dup_trigram_frac"),
    )
    # left join keeps degenerate docs (<2 words) with NULL-coalesced zeros
    return (
        word_stats.join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            "n_words",
            "dup_word_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


#: Redaction patterns shared by Java regex (Spark) and RE2 (DuckDB oracle):
#: pure alternation/classes, no lookarounds or backreferences.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact email addresses and phone-shaped digit runs, keeping a
    per-document redaction count for audit.  Pure regexp Column
    expressions — a narrow map fused into the scan; the patterns are
    deliberately lookaround-free so the same regex text runs on Spark's
    Java engine and RE2-based engines."""
    c = F.col(text_col)
    n_redactions = (
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0))
        + F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), 0))
    ).cast("long")
    scrubbed = F.regexp_replace(
        F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return df.select(
        "*",
        n_redactions.alias("n_redactions"),
        scrubbed.alias("scrubbed"),
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word k-gram with an evaluation set (the standard n-gram overlap
    check run before LLM training).

    Scale shape: the eval side is always tiny relative to the corpus, so
    its distinct shingle set BROADCASTS — the training corpus is never
    shuffled, just one narrow explode + broadcast hash join + per-doc
    count.  Returns (id, n_shared_grams) for contaminated docs only."""
    eval_grams = (
        eval_docs.select(F.explode(word_shingles(text_col, k)).alias("g"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("g")
    )
    return (
        train_grams.join(F.broadcast(eval_grams), on="g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 5,
    m_bits: int = 65536,
    k_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination through a BOUNDED broadcast — the
    100 TB-eval-suite variant of :func:`decontaminate`: the eval set's
    word k-grams are folded into a Bloom filter (``analytics.
    bloom_build`` — at most ``m_bits`` DISTINCT bit rows no matter how
    many eval documents), and every training gram probes the broadcast
    bit set. :func:`decontaminate` broadcasts the eval gram set itself,
    which is right until the eval suite grows past broadcast range;
    the Bloom's wire size is capped by construction (64 KB of bits here
    vs potentially gigabytes of grams), and the merge across eval
    batches is a distinct union of bit positions.

    Guarantee direction: NO false negatives — a contaminated training
    doc is always flagged; false positives over-flag clean docs at the
    classic (1-e^{-kn/m})^k rate, which is the conservative failure
    mode for decontamination (drop a little extra training data, never
    leak eval content). Portable md5 bit hashes, so a SQL oracle
    replays the filter bit-identically, false positives included.

    Plan: eval explode -> <= m_bits distinct bits (tiny agg) ->
    broadcast; train explode (narrow) x k_hashes salt fan-out ->
    broadcast left join on bit -> per-(doc, gram) all-bits-set test ->
    per-doc rollup. The training corpus is never shuffled on content —
    both aggregations key on (doc, gram) then doc.

    Returns (id, n_flagged_grams) for flagged docs only."""
    from scipi_spark.operators.analytics import bloom_build
    from scipi_spark.operators.sampling import salted_bucket

    eval_grams = eval_docs.select(
        F.explode(word_shingles(text_col, k)).alias("key")
    )
    bloom = bloom_build(eval_grams, "key", m_bits=m_bits, k_hashes=k_hashes)
    salts = F.array(*[F.lit(d) for d in range(k_hashes)])
    bit = salted_bucket("g", "d", m_bits)
    probe = (
        train.select(
            F.col(id_col), F.explode(word_shingles(text_col, k)).alias("g")
        )
        .select(id_col, "g", F.explode(salts).alias("d"))
        .select(id_col, "g", bit.alias("bit"))
    )
    hits = probe.join(
        F.broadcast(bloom.select(F.col("bit").alias("b"))),
        probe["bit"] == F.col("b"),
        "left",
    )
    return (
        hits.groupBy(id_col, "g")
        .agg((F.count("b") == k_hashes).alias("flagged"))
        .filter(F.col("flagged"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged_grams"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token-count overlapping chunks (the
    context-window preprocessing step for LLM training).  One narrow
    explode fused into the scan — chunk starts are a stepped sequence()
    and each chunk is a slice of the token array; no shuffle, no Python.
    The last chunk may be short; empty docs yield no chunks."""
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("w"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(stride))
    return (
        base.filter(F.size("w") > 0)
        .select(id_col, "w", F.explode(starts).alias("start"))
        .select(
            id_col,
            ((F.col("start") - 1) / stride).cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.slice("w", F.col("start"), chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(
                F.lit(chunk_tokens), F.size("w") - F.col("start") + 1
            ).cast("long").alias("n_tokens"),
        )
    )


def remove_boilerplate(
    df: DataFrame,
    min_docs: int = 3,
    words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate removal (the CCNet/web-cleaning step
    that strips navigation bars, cookie banners, license footers):
    a segment that appears in ``min_docs`` or more DISTINCT documents is
    boilerplate; every occurrence is dropped and the document's text is
    reassembled from the surviving segments in order.

    Differs from :func:`scipi_spark.operators.dedup.paragraph_dedup_stats`
    in both rule and output: there, later OCCURRENCES of a segment are
    flagged (first stays); here, segments frequent across the corpus are
    removed EVERYWHERE (including their first occurrence), and the
    cleaned text comes back, not just counts.

    The segmenter is the same fixed-``words`` non-overlapping token
    chunk as paragraph dedup (the test corpus has no newlines; real
    deployments swap in blank-line splitting — plan shape identical).

    Scale shape: one explode, one (chunk -> distinct-doc-count)
    aggregation (map-side partial, so shuffle traffic is bounded by
    distinct chunks per partition), one join back on the chunk, and one
    per-doc rollup. The frequent-chunk set after the ``>= min_docs``
    filter is the heavy tail of the chunk distribution — orders of
    magnitude smaller than the corpus — and AQE broadcasts it at
    runtime; the explicit plan keeps the big explode on the probe side
    either way. Docs whose every segment is boilerplate return with
    empty ``text_clean``; empty docs return zero counts."""
    seg = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(token_chunks(text_col, words)).alias("idx", "chunk"),
    )
    boiler = (
        seg.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("chunk")
    )
    kept = seg.join(boiler.withColumn("_b", F.lit(True)), "chunk", "left")
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("_b").isNotNull().cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_b").isNull(),
                            F.struct(F.col("idx"), F.col("chunk")),
                        )
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_clean"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed-budget
    training bins by running token count in (group, id) order — the
    streaming first-fit approximation of bin packing, made reproducible
    by the explicit ordering.  bin = floor(tokens_before / budget).

    Scale shape: the prefix sum is a window WITHIN each group (source
    shard), never a global single-partition sort — adding more shards
    adds parallelism.  Returns per-bin occupancy for audit."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = token_count(text_col)
    with_bins = df.select(
        F.col(group_col), F.col(id_col), n_tok.alias("n_tokens")
    ).select(
        group_col,
        id_col,
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget)
        .cast("long")
        .alias("bin"),
    )
    return with_bins.groupBy(group_col, "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


def rarity_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-frequency rarity scoring — the shuffle-shape stand-in for
    LM-perplexity quality filters (KenLM-style) without a model: per
    document, the mean corpus frequency of its tokens and the fraction
    of below-mean-frequency ("rare") tokens.  Gibberish scores rare-high;
    boilerplate scores rare-low.

    Two aggregations: the global vocabulary (token -> count, tiny
    relative to the corpus — broadcast back; at web scale a vocabulary
    is ~1e7 rows and still broadcastable, else it becomes a bucketed
    join on token) and the per-doc rollup.  Deliberately integer-based:
    every float here is a ratio of exact counts, so the DuckDB oracle is
    bit-identical — a log-probability variant would hinge on cross-libm
    ln() rounding."""
    toks = tokens(text_col)
    words = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    # vocab feeds BOTH the mean-frequency aggregate and the broadcast
    # join; materialize it or the full explode+count chain runs twice.
    # localCheckpoint (not persist): blocks are freed when the DataFrame
    # is GC'd, so repeated calls don't accumulate catalog cache entries.
    vocab = (
        words.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    # below-mean-frequency threshold from exact integer totals
    stats = vocab.agg(
        (F.sum("freq") / F.count(F.lit(1))).alias("mean_freq")
    )
    return (
        words.join(F.broadcast(vocab), on="tok")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("freq") / F.count(F.lit(1)), 6).alias(
                "avg_corpus_freq"
            ),
            F.round(
                F.sum(F.when(F.col("freq") < F.col("mean_freq"), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("rare_frac"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic keyword-extraction /
    relevance primitive (and the exact shuffle shape of building an
    inverted index with scored postings).

    Plan shape: one explode -> (doc, term) count aggregation [shuffle on
    (doc, term)], a vocabulary-sized document-frequency aggregation
    [shuffle on term] broadcast back (web-scale vocabularies are ~1e7
    rows — still broadcastable; beyond that this becomes a bucketed join
    on term), and a per-doc top-k window [reuses the doc partitioning].
    idf = ln(N / df) over exact integer counts, so the only float is one
    ln both engines compute identically under round-6 hashing."""
    terms = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    # tf feeds BOTH the document-frequency aggregation and the scoring
    # join; materialize it or the scan+explode+agg chain executes twice
    # (plan-verified: without this the physical plan shows two full
    # parquet scans of the text column). localCheckpoint so long-lived
    # sessions don't accumulate cached relations across calls.
    tf = (
        terms.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def _bm25_tokens(text_col: str) -> Column:
    """The BM25 tokenization: lowercase alphanumeric runs."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda t: t != ""
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25 (the Lucene
    idf variant: ln(1 + (N - df + 0.5)/(df + 0.5))).

    Scale shape: the posting explode filters to the query's terms at the
    scan (a broadcast-literal IN over a handful of terms — Catalyst
    folds it into the explode filter), so only query-term postings ever
    shuffle; document length and the global avgdl come from one narrow
    length projection (avgdl + N is a 1-row broadcast). Ranking is a
    global top-k (orderBy + limit = TakeOrdered, no full sort)."""
    q = [t for t in query_terms if t]
    terms = df.select(
        F.col(id_col), F.explode(_bm25_tokens(text_col)).alias("term")
    ).filter(F.col("term").isin(q))
    # tf feeds BOTH dfreq and the scoring join; lens feeds BOTH the
    # avgdl aggregate and the scoring join — materialize each or the
    # text scan executes four times (branches never share subplans).
    # localCheckpoint so repeated searches don't leak cache entries.
    tf = (
        terms.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )

    lens = df.select(
        F.col(id_col), F.size(_bm25_tokens(text_col)).cast("long").alias("dl")
    ).localCheckpoint(eager=True)
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )
    return (
        scored.orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(topk)
        .select(id_col, "bm25")
    )


#: the BM25 index: (term, doc, tf) postings bucketed and sorted on term,
#: beside plain-parquet ``doclen`` and ``stats``
BM25_STORE = storectl.StoreSpec(
    "text index", "bm25-v1", (storectl.Layout("postings", ("term",)),)
)


def _add_bm25_docs(
    build: storectl.Build, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Add ``df``'s (term, doc, tf) postings and (doc, dl) lengths to a
    store build; returns the lengths."""
    toks = _bm25_tokens(text_col)
    terms = df.select(F.col(id_col).alias("doc"), F.explode(toks).alias("term"))
    tf = terms.groupBy("term", "doc").agg(F.count(F.lit(1)).alias("tf"))
    build.add("postings", tf)
    lens = df.select(
        F.col(id_col).alias("doc"), F.size(toks).cast("long").alias("dl")
    )
    build.add("doclen", lens)
    return lens


def _doclen_stats(lens: DataFrame) -> DataFrame:
    """The 1-row (n, avgdl) corpus statistics of (doc, dl) lengths."""
    return lens.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )


def write_text_index_store(
    df: DataFrame,
    path: str,
    table: str = "text_index_postings",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    build_key: str = "bm25-v1",
) -> None:
    """Persist the corpus's BM25 state once so later searches probe it
    with ZERO corpus-side recompute (the search-index twin of
    ``dedup.write_signature_store``):

    - table ``<table>`` (data at ``<path>/postings``): (term, doc, tf)
      postings bucketed AND sorted on ``term`` — an ``IN`` filter over
      the query's terms bucket-prunes the scan (the plan shows
      ``SelectedBucketsCount: q of n``), so a 3-term query reads at most
      3/16ths of the postings no matter how large the corpus is;
    - ``<path>/doclen`` — (doc, dl) per-document token lengths;
    - ``<path>/stats`` — 1 row (N, avgdl).

    Tokenization is byte-identical to :func:`bm25_search`, so
    :func:`bm25_from_store` returns the same scores (equivalence is
    pytest-pinned)."""
    with storectl.rebuild(
        path.rstrip("/"), BM25_STORE, {"n_buckets": n_buckets}, build_key
    ) as b:
        lens = _add_bm25_docs(b, df, id_col, text_col)
        b.add("stats", _doclen_stats(lens))
    BM25_STORE.register(df.sparkSession, table, b.version)


def append_text_index_store(
    batch: DataFrame,
    path: str,
    table: str = "text_index_postings",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
    *,
    fold: tuple[str, int] | None = None,
) -> None:
    """Fold a new document batch into an existing BM25 index:

    - the batch's (term, doc, tf) postings APPEND to the bucketed
      postings table under the same bucket spec, so search's
      bucket-pruned scan property is preserved;
    - the batch's (doc, dl) rows append to ``doclen``;
    - ``stats`` (N, avgdl) is REWRITTEN from the merged doclen — sum
      and count of longs are order-independent-exact, so the appended
      store's stats (and therefore every BM25 score) are bit-identical
      to a from-scratch rebuild over the combined corpus
      (equivalence pytest-pinned). Scores legitimately CHANGE on
      append: N, avgdl, and document frequencies are corpus
      statistics — that is BM25 semantics, not drift.

    Append-only contract: batch doc ids must be new (a replayed id
    would double its postings and inflate its tf); the repair is a
    :func:`write_text_index_store` rebuild. ``fold``: the streaming
    sink's ``(query_key, batch_id)`` stamp."""
    spark = batch.sparkSession
    with storectl.append(
        path.rstrip("/"), BM25_STORE, {"n_buckets": n_buckets}, fold=fold
    ) as b:
        _add_bm25_docs(b, batch, id_col, text_col)
        # stats over the merged doclen, materialized first: the write
        # must not read the files it replaces
        b.replace(
            "stats",
            _doclen_stats(spark.read.parquet(b.path("doclen"))).localCheckpoint(
                eager=True
            ),
        )
    BM25_STORE.register(spark, table, b.version)


def bm25_from_store(
    spark,
    path: str,
    query_terms: list[str],
    table: str = "text_index_postings",
    topk: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """Top-k BM25 against a persisted index (:func:`write_text_index_store`)
    — same scores as :func:`bm25_search` without touching the corpus text:
    the postings scan bucket-prunes to the query's terms, document-frequency
    aggregates over bucketed postings without an Exchange, and the
    corpus-sized doclen table is scanned narrow once and broadcast-joined
    against the tiny query-term posting set. O(postings of the query's
    terms), not O(corpus). The bucket count self-configures from the
    resolved version's marker (one CURRENT read — recipe and data from
    the same version); explicit mismatches raise."""
    q = [t for t in query_terms if t]
    ver = storectl.open_store(
        path.rstrip("/"), BM25_STORE, {"n_buckets": n_buckets}
    )
    BM25_STORE.register(spark, table, ver)
    tf = spark.table(table).filter(F.col("term").isin(q))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    lens = spark.read.parquet(ver.path("doclen"))
    stats = spark.read.parquet(ver.path("stats"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    # broadcast the query-side postings so the corpus-sized doclen table
    # never shuffles: narrow scan + broadcast hash join
    scored = (
        lens.join(F.broadcast(tf.join(F.broadcast(dfreq), "term")), "doc")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )
    return (
        scored.orderBy(F.desc("bm25"), F.asc("doc"))
        .limit(topk)
        .select(F.col("doc").alias(id_col), "bm25")
    )


def bigram_cross_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under a Laplace-smoothed bigram model
    trained on the corpus itself — the count-based ancestor of the
    KenLM-perplexity quality filter every large corpus pipeline runs
    (gibberish scores high, boilerplate scores low).

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V), with c() taken over bigram
    occurrences and V the corpus vocabulary size; xent(doc) =
    -mean(ln P) over the doc's bigrams.

    Scale shape: bigrams explode once (narrow); the model is two count
    aggregations shuffled on the bigram/context key; scoring joins the
    doc's bigrams back to the counts on the same keys (bigram-keyed
    shuffle joins — at web scale the count tables exceed broadcast range,
    so the join IS the right plan; AQE will broadcast them when small)
    and rolls up per doc. Every count is an exact integer, so the only
    floats are one division and one ln — cross-engine ln parity at
    round-6 is the same (empirically held) contract tfidf/bm25 use.

    Docs with fewer than 2 tokens have no bigrams and produce no row."""
    toks = tokens(text_col)
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = df.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # bi feeds the two model aggregations AND the scoring join
    bi = bi.localCheckpoint(eager=True)
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vrow = df.select(F.explode(toks).alias("w")).agg(
        F.count_distinct(F.col("w")).cast("double").alias("v")
    )
    logp = F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
    return (
        bi.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .crossJoin(F.broadcast(vrow))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum(logp) / F.count(F.lit(1)), 6).alias("xent"),
        )
    )


def kneser_ney_cross_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document cross-entropy under an INTERPOLATED KNESER-NEY
    bigram model trained on the corpus itself — the smoothing actual
    KenLM quality filters use (Laplace, the
    :func:`bigram_cross_entropy` baseline, systematically over-penalizes
    frequent contexts; KN's absolute discounting + continuation
    probability is the published fix, Kneser & Ney 1995):

        P(w2|w1) = (c(w1,w2) - d) / c(w1.)
                 + (d * N1+(w1.) / c(w1.)) * (N1+(.w2) / N1+(..))

    with d = ``discount``, c(w1.) the context's bigram total, N1+(w1.)
    the distinct continuations of w1, N1+(.w2) the distinct contexts
    preceding w2, and N1+(..) the total distinct bigram types. Scoring
    the training corpus means every scored bigram has c >= 1 > d, so
    the discounted term never floors at zero here; held-out scoring
    composes through the same joins with the continuation term carrying
    unseen bigrams.

    Scale shape identical to the Laplace twin: bigrams explode once
    (narrow), the model is count aggregations on the bigram table
    (map-side combined), scoring joins back on the same keys and rolls
    up per doc; the only scalar broadcast is the 1-row bigram-type
    total. d = 0.75 is exactly representable, counts are exact
    integers, and the formula is written with one fixed association
    order, so the DuckDB oracle reproduces every double bit-for-bit
    (same ln-parity contract as tfidf/bm25).

    Docs with fewer than 2 tokens have no bigrams and produce no row."""
    bi = _doc_bigrams(df, id_col, text_col).localCheckpoint(eager=True)
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    bc = bc.localCheckpoint(eager=True)  # feeds uc, cc, tot, and the join
    uc = bc.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    cc = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p"))
    tot = bc.agg(F.count(F.lit(1)).cast("double").alias("t"))
    d = F.lit(float(discount))
    p = (F.col("c2") - d) / F.col("c1") + (
        (d * F.col("n1f")) / F.col("c1")
    ) * (F.col("n1p") / F.col("t"))
    return (
        bi.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .join(cc, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum(F.log(p)) / F.count(F.lit(1)), 6).alias("xent"),
        )
    )


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, w1, w2) exploded bigrams — shared by the in-corpus
    cross-entropy and the LM-store train/score paths."""
    toks = tokens(text_col)
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    alpha: float = 1.0,
    k: int | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.,
    NeurIPS 2023): score every document by how target-like its hashed
    n-gram feature distribution is, for selecting pretraining data that
    matches a target domain without training a classifier.

    Features are word bigrams hashed into ``n_buckets`` buckets with
    the portable md5-prefix hash (same hash both engines). Two
    Laplace-``alpha``-smoothed unigram-over-buckets models are fit in
    ONE aggregation pass — the raw model over the whole corpus, the
    target model over rows matching ``target_pred`` (here the
    membership indicator plays the role of DSIR's target sample) — and
    each document's importance log-weight is the sum over its bigram
    occurrences of ``ln p_target(bucket) - ln p_raw(bucket)``.

    ``k`` selects the top-k docs by (rounded) log-weight — the
    deterministic argmax variant of DSIR's Gumbel-top-k resample —
    compiling to TakeOrderedAndProject (no global sort, no window).

    Scale shape: one narrow bigram explode; the model is a single
    ``n_buckets``-row aggregate (map-side partial combine does nearly
    all the work; the result is broadcast back, never shuffled on);
    the per-doc rollup shuffles on doc_id once. At 100 TB the bucket
    table stays a few-KB broadcast regardless of corpus size — that is
    the point of hashed features. Docs with < 2 tokens have no
    features and produce no row (same contract as
    :func:`bigram_cross_entropy`). Float surface: one ln per bucket
    and one rounded sum — the empirically-held cross-engine ln parity
    contract tfidf/bm25/perplexity already rely on."""
    toks = tokens(text_col)
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("bg")), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).alias("bucket")
    feats = (
        df.select(
            F.col(id_col).alias("doc_id"),
            target_pred.alias("is_t"),
            F.explode(pairs).alias("bg"),
        )
        .select("doc_id", "is_t", bucket)
    )
    feats = feats.localCheckpoint(eager=True)  # feeds model AND scoring
    model = (
        feats.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("c_raw"),
            F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("c_t"),
        )
    )
    totals = model.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_t").alias("t_t")
    )
    a, b_ = F.lit(float(alpha)), F.lit(float(alpha * n_buckets))
    logr = F.log((F.col("c_t") + a) / (F.col("t_t") + b_)) - F.log(
        (F.col("c_raw") + a) / (F.col("t_raw") + b_)
    )
    scored = (
        feats.join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.round(F.sum(logr), 6).alias("dsir_logw"),
        )
    )
    if k is not None:
        scored = scored.orderBy(
            F.desc("dsir_logw"), F.col("doc_id")
        ).limit(k)
    return scored


#: the bigram LM store: (w1, w2, c2) counts bucketed and sorted on
#: (w1, w2), (w1, c1) context counts on w1 (table ``<table>_ctx``), the
#: vocabulary set on its token (never registered under the family's
#: name) and the plain-parquet 1-row ``vocab`` size
LM_STORE = storectl.StoreSpec(
    "LM store",
    "lm-v1",
    (
        storectl.Layout("bigrams", ("w1", "w2")),
        storectl.Layout("ctx", ("w1",), suffix="_ctx"),
        storectl.Layout("vocab_toks", ("w",), suffix=None),
    ),
)


def _add_lm_counts(build: storectl.Build, bi: DataFrame) -> None:
    """Add the (w1, w2, c2) and (w1, c1) counts of exploded bigrams."""
    n = F.count(F.lit(1)).cast("long")
    build.add("bigrams", bi.groupBy("w1", "w2").agg(n.alias("c2")))
    build.add("ctx", bi.groupBy("w1").agg(n.alias("c1")))


def _vocab_size(spark, build: storectl.Build) -> DataFrame:
    """The 1-row vocabulary size V of the build's ``vocab_toks``."""
    return spark.read.parquet(build.path("vocab_toks")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )


def write_lm_store(
    df: DataFrame,
    path: str,
    table: str = "lm_store_bigrams",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    build_key: str = "lm-v1",
) -> None:
    """Persist the Laplace-smoothed bigram LM ONCE so later batches are
    perplexity-scored with zero training-corpus recompute. The
    production shape of the perplexity filter: the reference model is
    trained on a curated corpus one time; every crawl increment is
    scored against it (CCNet trains KenLM on Wikipedia once for exactly
    this reason).

    - table ``<table>`` — bigram counts (w1, w2, c2) bucketed+sorted on
      (w1, w2): the score join hits exactly the bucket keys, so the
      stored counts are read with no Exchange and no Sort;
    - table ``<table>_ctx`` — context counts (w1, c1) bucketed+sorted
      on w1, same property for the context join;
    - ``<path>/vocab`` — the 1-row vocabulary size V."""
    bi = _doc_bigrams(df, id_col, text_col).localCheckpoint(eager=True)
    with storectl.rebuild(
        path.rstrip("/"), LM_STORE,
        {"n_buckets": n_buckets, "delta_appends": 0}, build_key,
    ) as b:
        _add_lm_counts(b, bi)
        # the vocabulary SET (not just its size) is persisted, bucketed on
        # the token: V = |vocab| folds exactly on append (new tokens = the
        # batch's distinct tokens anti-joined against this table, store
        # side Exchange-free), which keeps every Laplace denominator — and
        # therefore every score — bit-identical to a from-scratch rebuild
        b.add(
            "vocab_toks",
            df.select(F.explode(tokens(text_col)).alias("w")).distinct(),
        )
        b.add("vocab", _vocab_size(df.sparkSession, b))
    LM_STORE.register(df.sparkSession, table, b.version)


def _vocab_table(spark, vocab_toks: str, n_buckets: int) -> str:
    """Register the vocabulary set at ``vocab_toks`` under a throwaway
    table name, bucketed on the token, and return the name; the caller
    drops it."""
    vt = f"lm_vocab_{uuid.uuid4().hex[:12]}"
    storectl.register_bucketed(spark, vt, vocab_toks, ["w"], ["w"], n_buckets)
    return vt


def append_lm_store(
    batch: DataFrame,
    path: str,
    table: str = "lm_store_bigrams",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> None:
    """Fold a new document batch into a persisted bigram LM:
    Kneser-Ney/Laplace inputs are exact LONG counts, so the folded model
    is bit-identical to a from-scratch :func:`write_lm_store` over the
    combined corpus (equivalence pytest-pinned):

    - the batch's partial (w1, w2, c2) and (w1, c1) counts APPEND
      under the stores' bucket specs — O(batch) I/O, the LSM
      merge-on-read shape; :func:`score_from_lm_store` collapses the
      partial rows with Exchange-free aggregates while the version
      marker records outstanding deltas, and :func:`compact_lm_store`
      restores the one-row-per-key read-optimal layout;
    - NEW tokens (the batch's distinct tokens anti-joined against the
      stored ``vocab_toks`` table — store side bucketed on the token,
      no corpus shuffle) append to the vocabulary set, and the 1-row
      ``vocab`` size rewrites as stored V + |new| — exact, so every
      Laplace denominator matches the rebuild bit-for-bit.

    Scores legitimately CHANGE on append: counts and V are corpus
    statistics — that is LM semantics, not drift. Append-only
    contract: batch doc ids must be NEW (a replayed batch would double
    its n-gram counts; the repair is a :func:`write_lm_store`
    rebuild). Stores written before the fold shape existed lack
    ``vocab_toks`` and raise (rebuild once with :func:`write_lm_store`)."""
    spark = batch.sparkSession
    with storectl.append(
        path.rstrip("/"), LM_STORE,
        {"n_buckets": n_buckets, "delta_appends": None},
    ) as b:
        if not os.path.isdir(b.path("vocab_toks")):
            raise FileNotFoundError(
                f"the LM store under {path!r} predates the fold shape "
                "(no vocab_toks table) — V cannot be folded exactly; "
                "rebuild it once with write_lm_store"
            )
        bi = _doc_bigrams(batch, id_col, text_col).localCheckpoint(eager=True)
        _add_lm_counts(b, bi)
        # vocabulary fold: batch-distinct tokens not already stored.
        # Materialize BEFORE appending — the anti-join reads the very
        # directory the append writes into.
        vt = _vocab_table(spark, b.path("vocab_toks"), b.params["n_buckets"])
        try:
            new_toks = (
                batch.select(F.explode(tokens(text_col)).alias("w"))
                .distinct()
                .join(spark.table(vt), "w", "left_anti")
                .localCheckpoint(eager=True)
            )
            n_new = new_toks.count()
            if n_new:
                b.add("vocab_toks", new_toks)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {vt}")
        old_v = spark.read.parquet(b.path("vocab")).collect()[0]["v"]
        b.replace(
            "vocab",
            spark.createDataFrame([(float(old_v) + n_new,)], "v double"),
        )
        b.extra["delta_appends"] = b.params["delta_appends"] + 1
    LM_STORE.register(spark, table, b.version)


def compact_lm_store(
    spark,
    path: str,
    table: str = "lm_store_bigrams",
    n_buckets: int | None = None,
    build_key: str | None = None,
) -> None:
    """Rewrite an appended LM store with partial count rows merged —
    one row per n-gram key again, delta counter reset, so scoring
    reads the counts direct with no merge aggregate. Sums of LONG
    counts recombine exactly; the vocabulary set dedups (a
    crash-replayed append is the only duplicate source) and the 1-row
    V rewrites from it."""
    root = path.rstrip("/")
    cur = storectl.open_store(root, LM_STORE, {"n_buckets": n_buckets})
    LM_STORE.register(spark, table, cur)
    with storectl.rebuild(root, LM_STORE, build_key=build_key, base=cur) as b:
        vt = _vocab_table(spark, cur.path("vocab_toks"), cur.params["n_buckets"])
        try:
            b.add(
                "bigrams",
                spark.table(table).groupBy("w1", "w2").agg(F.sum("c2").alias("c2")),
            )
            b.add(
                "ctx",
                spark.table(table + "_ctx").groupBy("w1").agg(F.sum("c1").alias("c1")),
            )
            b.add("vocab_toks", spark.table(vt).distinct())
            b.add("vocab", _vocab_size(spark, b))
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {vt}")
        b.extra["delta_appends"] = 0
    LM_STORE.register(spark, table, b.version)


def score_from_lm_store(
    batch: DataFrame,
    path: str,
    table: str = "lm_store_bigrams",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """Per-document cross-entropy of a NEW batch under a persisted
    :func:`write_lm_store` model: P(w2|w1) = (c2 + 1) / (c1 + V) with
    c2/c1 = 0 for n-grams the model never saw (the Laplace floor —
    exactly how unseen text should score high). For docs from the
    training corpus itself the scores equal :func:`bigram_cross_entropy`
    (pytest-pinned).

    Plan: the batch's bigrams explode narrow and shuffle once to each
    stored table's bucket layout; the corpus-sized count tables never
    move (plan-asserted Exchange-free on the store side). The bucket
    count self-configures from the resolved version's marker (explicit
    mismatches raise). A store with outstanding
    :func:`append_lm_store` deltas collapses its partial count rows
    first — Exchange-free aggregates on the bucket keys; scores are
    bit-identical to the compacted (or rebuilt) store's. Output is
    (doc_id, n_bigrams, xent)."""
    spark = batch.sparkSession
    ver = storectl.open_store(
        path.rstrip("/"), LM_STORE,
        {"n_buckets": n_buckets, "delta_appends": None},
    )
    LM_STORE.register(spark, table, ver)
    bi = _doc_bigrams(batch, id_col, text_col)
    bc = spark.table(table)
    uc = spark.table(table + "_ctx")
    if ver.params["delta_appends"]:
        bc = bc.groupBy("w1", "w2").agg(F.sum("c2").alias("c2"))
        uc = uc.groupBy("w1").agg(F.sum("c1").alias("c1"))
    vrow = spark.read.parquet(ver.path("vocab"))
    logp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
    )
    return (
        bi.join(bc, ["w1", "w2"], "left")
        .join(uc, "w1", "left")
        .crossJoin(F.broadcast(vrow))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum(logp) / F.count(F.lit(1)), 6).alias("xent"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al., LREC'20): per
    LANGUAGE, rank documents by LM cross-entropy and cut the corpus into
    head / middle / tail thirds — the step that turns a raw perplexity
    score into the keep/review/drop decision, per-language so a noisy
    language's tail never competes with a clean language's head (the
    same bias quality_percentile kills for heuristic scores).

    Composes :func:`bigram_cross_entropy` (the count-based KenLM
    stand-in) with a per-language exact percent_rank; ties break by
    doc id so the rank — and therefore the bucket — is deterministic.
    Scale shape: the model scoring dominates (bigram-keyed shuffles, see
    bigram_cross_entropy); the bucketing uses the distributed rank of
    :mod:`scipi_spark.operators.ranking` (range-sliced + tiny offset
    table), NOT a ``partitionBy(lang)`` window — English alone is ~half
    a 100 TB web corpus, so a per-language window partition is a
    single-reducer sort of half the data. Docs with <2 tokens have no
    cross-entropy and produce no row."""
    from scipi_spark.operators.ranking import with_percent_rank

    xent = bigram_cross_entropy(df, id_col, text_col)
    langs = df.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    )
    scored = with_percent_rank(
        xent.join(langs, "doc_id"),
        order_cols=[("xent", True), ("doc_id", True)],
        part_cols=["lang"],
        out_col="pr",
    )
    return scored.select(
        "doc_id",
        "lang",
        "xent",
        F.when(F.col("pr") < F.lit(1.0) / 3, F.lit("head"))
        .when(F.col("pr") < F.lit(2.0) / 3, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def nb_quality_scores(
    train: DataFrame,
    score: DataFrame,
    pos_col: str = "is_pos",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classifier-based quality filtering (the curated-vs-crawl linear
    classifier step of published LLM corpus pipelines, in its count-based
    form): a multinomial Naive Bayes model with Laplace smoothing is
    trained on ``train`` (boolean ``pos_col`` = curated/high-quality)
    and every ``score`` document gets its log-odds of being positive.

    log_odds(d) = ln(Np/Nn) + |d| * ln((Tn + V) / (Tp + V))
                  + sum_t ln((c_pos(t) + 1) / (c_neg(t) + 1))

    with c_*(t) the class token counts, T_* the class totals, V the
    train vocabulary, Np/Nn the class document counts. Every count is an
    exact integer; the only floats are ln terms summed per document —
    the same empirically-held round-6 cross-engine parity contract the
    bigram cross-entropy / tfidf / bm25 oracles use.

    Scale shape: training is one explode + one (term -> class counts)
    aggregation with map-side partials (shuffle bounded by distinct
    terms per partition); the class totals / priors are 1-row broadcast
    aggregates; scoring joins the score-side tokens to the count table
    on the term key (AQE broadcasts it when small; at web scale the
    term-keyed shuffle join IS the right plan) and rolls up per doc.
    Nothing ever reaches the driver. Docs with zero tokens score the
    prior alone."""
    tr_toks = train.select(
        F.col(pos_col).alias("pos"), F.explode(tokens(text_col)).alias("w")
    )
    counts = tr_toks.groupBy("w").agg(
        F.sum(F.col("pos").cast("long")).alias("cp"),
        F.sum((~F.col("pos")).cast("long")).alias("cn"),
    ).localCheckpoint(eager=True)  # feeds the totals agg AND the scoring
    # join — without a barrier the training explode executes twice
    # 1-row scalars: class token totals + vocabulary size + doc priors
    tot = counts.agg(
        F.sum("cp").cast("double").alias("tp"),
        F.sum("cn").cast("double").alias("tn"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    prior = train.agg(
        F.log(
            F.sum(F.col(pos_col).cast("double"))
            / F.sum((~F.col(pos_col)).cast("double"))
        ).alias("prior")
    )
    sc_toks = score.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("w")
    )
    term_lr = sc_toks.join(counts, "w", "left").select(
        "doc_id",
        F.log(
            (F.coalesce("cp", F.lit(0)) + F.lit(1.0))
            / (F.coalesce("cn", F.lit(0)) + F.lit(1.0))
        ).alias("lt"),
    )
    per_doc = term_lr.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("lt").alias("s")
    )
    out = (
        score.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round(
                F.col("prior")
                + F.coalesce("n_tokens", F.lit(0))
                * F.log((F.col("tn") + F.col("v")) / (F.col("tp") + F.col("v")))
                + F.coalesce("s", F.lit(0.0)),
                6,
            ).alias("log_odds"),
        )
    )
    return out.withColumn("pred_pos", F.col("log_odds") > 0)


# ---------------------------------------------------------------------------
# C4 / Gopher heuristic document gate
# ---------------------------------------------------------------------------

#: Gopher's stopword-presence list (Rae et al. 2021, appendix A1.1).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: C4-style boilerplate phrases that drop the whole document.
C4_BAD_PHRASES = [
    "lorem ipsum",
    "terms of use",
    "privacy policy",
    "all rights reserved",
]


def c4_gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The published heuristic web-corpus gate — C4's boilerplate/brace
    drops (Raffel et al. 2020) plus Gopher's repetition-independent
    document rules (Rae et al. 2021): word-count bounds, mean-word-length
    band, symbol-to-word ratio (# and ellipsis), fraction of words
    containing an alphabetic character, and required stopword presence.
    Emits per-rule evidence columns plus the fused ``keep`` verdict, so
    downstream audits can attribute every rejection to its rule (the
    same dead-letter philosophy as the ingest P5 gate).

    All pure Column expressions over one pass of ``text`` — at 100 TB
    this is a narrow map fused into the parquet scan (no shuffle, full
    column pruning); the filter itself never materializes a dropped row.
    """
    text = F.col(text_col)
    toks = tokens(text_col)
    n_words = F.size(toks).cast("long")
    nw = F.greatest(n_words, F.lit(1))
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_wl = sum_len / nw
    n_sym = (F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))) + (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = n_sym / nw
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("long")
    alpha_ratio = alpha_words / nw
    toks_low = F.transform(toks, F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(toks_low, s),
        )
    ).cast("long")
    low = F.lower(text)
    has_bad_phrase = F.lit(False)
    for p in C4_BAD_PHRASES:
        has_bad_phrase = has_bad_phrase | F.contains(low, F.lit(p))
    has_brace = F.contains(text, F.lit("{")) | F.contains(text, F.lit("}"))
    keep = (
        n_words.between(min_words, max_words)
        & mean_wl.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (alpha_ratio >= min_alpha_word_ratio)
        & (stop_hits >= min_stopword_hits)
        & ~has_bad_phrase
        & ~has_brace
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
        has_bad_phrase.alias("has_bad_phrase"),
        has_brace.alias("has_brace"),
        keep.alias("keep"),
    )


def corpus_stats(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
    short_chars: int = 150,
) -> DataFrame:
    """Per-group dataset-card statistics: document/char/token totals,
    language diversity, mean length, short-doc fraction. The corpus
    profiling step every curation run starts and ends with (before/after
    comparison is how a filter's effect is audited).

    One partial-aggregated groupBy over scan-fused narrow expressions —
    no joins, no second pass; ``approx_count_distinct`` would replace the
    exact distinct-lang count at extreme group cardinality, but language
    inventories are tiny and the exact count keeps the oracle exact.
    Ratios are ratios of exact integers rounded to 6 places (the oracle
    parity contract)."""
    n_chars = F.length(text_col)
    n_toks = token_count(text_col)
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(lang_col).alias("n_langs"),
            F.sum(n_chars).cast("long").alias("total_chars"),
            F.sum(n_toks).cast("long").alias("total_tokens"),
            F.round(
                (F.sum(n_chars) / F.count(F.lit(1))).cast("double"), 6
            ).alias("avg_chars"),
            F.round(
                (
                    F.sum(F.when(n_chars < short_chars, 1).otherwise(0))
                    / F.count(F.lit(1))
                ).cast("double"),
                6,
            ).alias("short_frac"),
        )
    )


def corpus_stats_diff(
    old: DataFrame,
    new: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-card diff between two corpus snapshots: per group, doc and
    char totals on each side plus their deltas — the audit table a
    re-crawl / re-filter run publishes next to its CDC diff (which docs
    changed is ``dedup.snapshot_diff``; this is what the change did to
    the corpus shape). Groups present on only one side report zeros for
    the missing side.

    Two partial-aggregated groupBys (each output is |groups| rows) and
    one tiny full-outer join on the group key — the corpus is scanned
    once per snapshot and never shuffled beyond the group aggregation."""
    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count(F.lit(1)).alias(f"docs_{tag}"),
            F.sum(F.length(text_col)).cast("long").alias(f"chars_{tag}"),
        )

    joined = agg(old, "old").join(agg(new, "new"), "grp", "full_outer")
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return joined.select(
        "grp",
        z("docs_old").alias("docs_old"),
        z("docs_new").alias("docs_new"),
        (z("docs_new") - z("docs_old")).alias("docs_delta"),
        z("chars_old").alias("chars_old"),
        z("chars_new").alias("chars_new"),
        (z("chars_new") - z("chars_old")).alias("chars_delta"),
    )


def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source duplication audit: for every pair of sources, how
    many distinct document fingerprints they share — the dataset-card
    number that decides which crawl/source pair needs cross-source dedup
    (mirrors, syndication networks, and re-crawled dumps show up as hot
    pairs).

    Plan: one narrow fingerprint projection → distinct (fp, source) →
    one groupBy collecting each fingerprint's source set → the pair
    fan-out happens INSIDE the row (array comprehension over the sorted
    set, same no-join shape as ``graph.cooccurrence_pairs``) → one count
    aggregation. Fingerprints shared by s sources emit C(s,2) rows —
    bounded by the source inventory, never by corpus size; there is no
    self-join anywhere."""
    fp_src = df.select(
        fingerprint(text_col).alias("fp"), F.col(group_col).alias("src")
    ).distinct()
    sets = (
        fp_src.groupBy("fp")
        .agg(F.sort_array(F.collect_set("src")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("srcs"),
                    lambda a, i: F.transform(
                        F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                        lambda b: F.struct(
                            a.alias("source_a"), b.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
    )


# power-of-2 sequence-length buckets used by length_buckets; fixed edges
# keep the bucket function a portable integer CASE in both engines
LENGTH_BUCKET_EDGES = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192]


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batching audit: assign each document to the
    smallest power-of-2 token-capacity bucket that holds it, and report
    per-bucket doc/token totals plus the padding a bucket-uniform batch
    would waste (``padded = cap - n_tokens`` per doc). Training loaders
    bucket by length precisely to cut this padding — the operator
    quantifies the win and sizes the buckets.

    One scan-fused narrow map (token count + a CASE ladder over the
    fixed ``LENGTH_BUCKET_EDGES``) and one partial-aggregated groupBy on
    the bucket id. No joins, no window, no Python."""
    n = token_count(text_col)
    cap = F.lit(LENGTH_BUCKET_EDGES[-1] * 2)
    for edge in reversed(LENGTH_BUCKET_EDGES):
        cap = F.when(n <= edge, F.lit(edge)).otherwise(cap)
    b = df.select(n.alias("n_tokens"), cap.cast("long").alias("bucket_cap"))
    return b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("bucket_cap") - F.col("n_tokens"))
        .cast("long")
        .alias("padded_tokens"),
        F.round(
            (
                F.sum(F.col("bucket_cap") - F.col("n_tokens"))
                / F.sum(F.col("bucket_cap"))
            ).cast("double"),
            6,
        ).alias("padding_frac"),
    )


def _bpe_word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) corpus aggregation — BPE trains on the word-frequency
    table, which is vocabulary-sized (tiny vs the corpus): every
    subsequent merge iteration touches only this table."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _adjacent_pairs(sym_col: str) -> Column:
    """array<string> symbols -> array of space-joined adjacent pairs
    ('x y'); symbols never contain spaces (words are whitespace tokens),
    so the join is unambiguous."""
    return F.expr(
        f"transform(sequence(1, size({sym_col}) - 1), "
        f"i -> concat(element_at({sym_col}, i), ' ', element_at({sym_col}, i + 1)))"
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies — iteration zero
    of BPE tokenizer training (Sennrich et al., ACL'16). Two aggregations
    end-to-end: corpus -> word-frequency table (the only corpus-sized
    shuffle), then char-pair explode over the VOCABULARY weighted by word
    frequency — at web scale the second stage costs |vocab|, not |corpus|."""
    vocab = _bpe_word_vocab(df, text_col)
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    return (
        vocab.filter(F.length("w") >= 2)
        .select("freq", chars.alias("chars"))
        .select("freq", F.explode(_adjacent_pairs("chars")).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_freq"))
    )


def _bpe_merge_fold(s: Column, x: str, y: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (x, y) into
    xy — the reference BPE apply rule — as one JVM-side array fold (no
    Python in the loop). On a run like [a,a,a] with pair (a,a) the fold
    consumes left-first: [aa, a]."""
    xl, yl, ml = F.lit(x), F.lit(y), F.lit(x + y)
    return F.aggregate(
        s,
        F.array().cast("array<string>"),
        lambda acc, el: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == xl) & (el == yl),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(ml)),
        ).otherwise(F.concat(acc, F.array(el))),
    )


def bpe_train(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich, Haddow & Birch,
    ACL'16): ``n_merges`` iterations of [count adjacent symbol pairs ->
    pick the most frequent -> merge it greedily everywhere], over the
    word-frequency table. Returns the learned merge list
    (step, pair, freq) — the tokenizer artifact.

    Scale shape: the corpus is touched ONCE (word-frequency aggregation);
    every iteration after that runs on the vocabulary-sized symbol table —
    one pair-explode aggregation plus one narrow array-fold map, with a
    single-ROW argmax collect per step (bounded driver traffic, the same
    contract as the k-means centroid reduce). Ties break (freq DESC,
    pair ASC) for determinism. The DuckDB oracle replays all steps with a
    structurally different merge implementation (window-function greedy
    alternation instead of a sequential fold), so a gate hash-match is
    two independent algorithms agreeing on every merge."""
    spark = df.sparkSession
    seqs = (
        _bpe_word_vocab(df, text_col)
        .select(
            "freq",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, int]] = []
    for step in range(1, n_merges + 1):
        best = (
            seqs.filter(F.size("s") >= 2)
            .select("freq", F.explode(_adjacent_pairs("s")).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], best[0]["cnt"]
        x, y = pair.split(" ")
        merges.append((step, pair, cnt))
        seqs = seqs.select(
            "freq", _bpe_merge_fold(F.col("s"), x, y).alias("s")
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(merges, "step int, pair string, freq long")


def bpe_encode_counts(
    df: DataFrame,
    merges: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge list to the corpus and return per-doc
    subword statistics (n_words, n_subwords, round-6 compression vs char
    count) — the encode half of the tokenizer: the REAL token counts a
    token-budget sampler or sequence packer should use, replacing the
    regex proxy of :func:`bpe_ish_token_count`.

    The merges are applied to the VOCABULARY once (|merges| chained
    array folds on the word table — each fold is a narrow map over
    |vocab| rows), then each document's whitespace words join the encoded
    vocabulary on the word key and roll up per doc. At web scale the
    vocabulary is broadcastable, so encoding costs one explode + one
    broadcast join + one per-doc aggregation — the corpus text never
    shuffles."""
    words = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("_n")).drop("_n")
    seq = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    for pair in merges:
        x, y = pair.split(" ")
        seq = _bpe_merge_fold(seq, x, y)
    encoded = vocab.select(
        "w", F.size(seq).cast("long").alias("n_sub"), F.length("w").alias("n_chr")
    )
    return (
        words.join(F.broadcast(encoded), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
            F.round(
                (F.sum("n_sub") / F.sum("n_chr")).cast("double"), 6
            ).alias("subword_per_char"),
        )
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    cheap screen for encoding noise, binary-in-text, and gibberish
    (natural language sits in a narrow entropy band; base64 blobs and
    key-mash score high, repeated-char padding scores near zero), used
    alongside the C4/Gopher heuristics in web-corpus cleaning.

    ``H = -sum(p_c * ln(p_c))`` over the document's character
    distribution, plus the distinct-character count and length.

    Scale shape: one narrow character explode (positions generated,
    never shuffled), a (doc, char) count aggregate and the per-doc
    rollup — two shuffles on doc-prefixed keys, map-side combined; the
    alphabet (tens of distinct chars per doc) keeps the intermediate
    tiny relative to the corpus. Float surface: one ln per (doc, char)
    class and a rounded sum — the established cross-engine ln-parity
    contract. Empty documents emit no row."""
    # guard: Spark's sequence(1, 0) DESCENDS rather than being empty,
    # so a zero-length text must short-circuit to an empty array
    chars = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(
                f"CASE WHEN length({text_col}) > 0 THEN "
                f"transform(sequence(1, length({text_col})), "
                f"i -> substring({text_col}, i, 1)) "
                f"ELSE array() END"
            )
        ).alias("ch"),
    )
    by_char = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = by_char.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        by_char.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("distinct_chars"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )
