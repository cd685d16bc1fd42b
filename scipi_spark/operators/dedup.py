"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each):

- **exact**: one hash aggregation on the fingerprint — map-side partial
  aggregation means the shuffle carries one row per distinct document.
- **ngram_jaccard_pairs**: the exact similarity join, O(candidate pairs);
  the shingle-inverted-index self-join bounds work to pairs that share at
  least one shingle (never the full cross product). Hot shingles are
  dropped by a document-frequency cap — the classic posting-list
  truncation — so a shingle shared by half the corpus can't quadratically
  blow up the join; AQE skew-join splits whatever remains.
- **minhash_lsh_pairs**: the 100 TB path — fixed-width signatures
  (num_perm ints per doc) replace shingle sets; banding turns similarity
  search into an equi-join on (band_idx, band_hash), which Catalyst
  shuffles on a uniform key. Candidates are then verified with exact
  Jaccard, so precision is exact and only recall is probabilistic.
- **simhash64**: one 64-bit signature per doc; near-dup = small Hamming
  distance, blocked on 16-bit chunks (pigeonhole: distance<=3 pairs must
  collide on >=1 of 4 chunks).

Everything is built-in Column expressions; no Python UDFs anywhere on
the hot path. A MinHash signature is one xxhash64 base hash per shingle
put through ``num_perm`` 2-universal permutations mod 2^31-1; murmur3
(``F.hash``) hashes only the LSH bands.
"""

from __future__ import annotations

import functools
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scipi_spark.sources import storectl

from scipi_spark.operators.textops import (
    fingerprint,
    normalize_text,
    token_chunks,
    word_shingles,
)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of exact duplicates (by normalized-text fingerprint):
    fingerprint, group size, canonical (min) id. Only groups with >1 member."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one row (min id) per distinct normalized text."""
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity join (exact)
# ---------------------------------------------------------------------------

def _spread(df: DataFrame) -> DataFrame:
    """Spread a narrow source across the cluster before per-row explosion:
    a small corpus file arrives as 1-2 scan partitions, which would run
    the entire shingle/signature chain single-threaded.

    The persist() is a required optimizer barrier, not (just) a cache:
    Catalyst pushes projections below a bare repartition, which would move
    the expensive shingle computation back into the single scan task.
    Identical plans share one cache entry (CacheManager plan matching), so
    repeated calls don't duplicate storage. A caller that checkpoints
    what it derives from the copy unpersists the copy right after, or
    every call on a new input would leave one cached copy in the
    session."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target).persist()
    return df


def _shingle_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_doc_freq: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(doc shingle-set sizes, exploded shingle postings) — postings
    optionally truncated at a document-frequency cap.

    Each shingle string is replaced by its 64-bit xxhash64 — set
    identity, not content, is all the downstream joins/aggregations
    need, and fixed-width longs shuffle and hash-join far cheaper than
    k-word strings. A collision (which would slightly overcount one
    pair's intersection) needs ~2^32 DISTINCT shingles by the birthday
    bound — at that corpus size switch to a 128-bit hash.

    The (pre-explode) per-doc shingle ARRAYS are localCheckpointed
    once; postings explode narrowly from the checkpoint per consumer
    and sizes are a pure ``size()`` projection of it. Every downstream
    consumer then replays a cheap in-memory explode instead of the
    scan+shingle chain: _jaccard_verify alone consumes postings twice
    and sizes twice, which un-materialized means FOUR shingle
    computations per call. Checkpointing the arrays rather than the
    exploded postings spares each consumer a groupBy(doc) for the sizes
    (measured 18.5 task-s / 10.4 cpu-s for that aggregation alone on the
    sf0.1 ngram entry). A doc with no shingles has a (doc, 0) sizes
    row — invisible to every consumer, which are all inner joins on docs
    that appear in postings/candidates, and empty sets can't pair.

    Once the arrays are checkpointed the spread copy of the input is
    released: nothing reads it again, and a streaming sink calling this
    per micro-batch would otherwise keep one cached copy of every batch
    in the session."""
    # hash INSIDE the array, before the explode: the explode then
    # materializes fixed-width longs instead of k-word strings
    # (measured ~25% off the shingle-index segment at sf0.1)
    grams = F.transform(word_shingles(text_col, k), lambda x: F.xxhash64(x))
    spread = _spread(df)
    sh = spread.select(
        F.col(id_col).alias("doc"), grams.alias("shingles")
    ).localCheckpoint(eager=True)
    if spread is not df:
        spread.unpersist()
    postings = sh.select("doc", F.explode("shingles").alias("sh"))
    sizes = sh.select("doc", F.size("shingles").cast("long").alias("n_sh"))
    if max_doc_freq is not None:
        df_counts = postings.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        postings = postings.join(
            df_counts.filter(F.col("df") <= max_doc_freq).select("sh"), "sh"
        )
    return sizes, postings


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (a<b) with word-k-shingle Jaccard >= threshold.

    inter(a,b) via the shingle self-join; |A|,|B| joined back in;
    jaccard = inter / (|A|+|B|-inter).

    ``max_doc_freq`` (None = exact) drops shingles occurring in more than
    that many documents before pairing — at corpus scale the exact variant
    is reserved for candidate verification, not all-pairs discovery.
    """
    # the self-join reads postings twice and the size join reads sizes
    # twice — the index's checkpoint keeps the shingle chain from
    # executing four times (measured ~2x end-to-end on the bench entry)
    sizes, postings = _shingle_index(df, id_col, text_col, k, max_doc_freq)
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jac.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed near-dup pairs by shingle-set CONTAINMENT: |A∩B| / |A| >=
    threshold, A != B — the asymmetric complement of Jaccard dedup.

    Jaccard misses the quote/subset case: a short document wholly
    contained in a much longer one scores inter/(|A|+|B|-inter) ≈
    |A|/|B| → 0, yet for training-data curation the small doc IS a
    duplicate (excerpts, mirrored article fragments, quoted posts).
    Containment normalizes by the contained side only, so a verbatim
    excerpt scores 1.0 regardless of the container's length.

    Same plan as :func:`ngram_jaccard_pairs` minus the a<b restriction
    (containment is directional, both orientations matter): one
    materialized shingle index feeding a posting self-join [shuffle on
    the 64-bit shingle hash] and one size join back. Output rows are
    (contained, container); at corpus scale the ``max_doc_freq`` posting
    cap bounds the self-join exactly as in the Jaccard variant."""
    sizes, postings = _shingle_index(df, id_col, text_col, k, max_doc_freq)
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") != F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("contained"), F.col("b.doc").alias("container"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("contained"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(sa, "contained")
        .select(
            "contained",
            "container",
            F.round((F.col("inter") / F.col("n_a")).cast("double"), 6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Change-data-capture diff of two corpus snapshots: per document id,
    ``status`` in {added, removed, changed, unchanged} — the primitive
    under incremental re-ingestion (only ``added``/``changed`` docs need
    to re-enter the dedup/filter/embed pipeline; ``removed`` ids need
    tombstones in downstream stores).

    Content equality is by :func:`~scipi_spark.operators.textops.
    fingerprint` (md5 of normalized text), computed NARROW on each side
    before the join so only (id, 32-char fp) rows shuffle — the text
    column never moves. One full-outer hash join on the id; at 100 TB
    both sides bucket by id and the join is co-located and shuffle-free."""
    fp_old = old.select(
        F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp_old")
    )
    fp_new = new.select(
        F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp_new")
    )
    return fp_old.join(fp_new, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): per document, the DISTINCT set of
    window-minimum char-k-gram hashes, guaranteed to include at least
    one fingerprint from every verbatim match of length >= k + w - 1.
    The span-level (plagiarism / verbatim-quote / license-text) detection
    primitive that set-of-words methods can't provide: word shingles see
    bag overlap, winnowing sees contiguous character runs.

    Expected density is 2/(w+1) of the k-gram stream — the subsampling
    IS the scale story: downstream cross-document joins touch ~2/(w+1)
    of the positions instead of every shingle, with the detection
    guarantee intact.

    Plan (r12, guide §2.4 remove-the-shuffle): the winnow selection is a
    purely LOCAL per-document computation, so it is done entirely in
    array expressions fused into the scan — gram hashes as one
    ``transform``, the w-wide window minima as ``array_min(slice(...))``
    per position (``slice`` clamps at the tail exactly like the old
    window's ``rowsBetween(0, w-1)``), per-doc dedup as
    ``array_distinct``, and only the final (doc_id, fp) rows explode.
    The previous plan exploded one row PER CHARACTER POSITION and
    shuffled all of them into a doc-partitioned running-min window plus
    a global distinct — two exchanges of |corpus chars| rows that this
    shape does not pay at any scale; values are bit-identical (same md5
    hashes, same min over the same clamped windows, same distinct set:
    (doc_id, fp) rows are unique once fps are array_distinct'd within
    the doc). Docs shorter than k emit no fingerprints.

    r13 doc-length guard (r12 verdict #8): the r12 form materialized the
    ENTIRE gram-hash array (8 bytes/char, three concurrent O(doc)
    allocations) in one row — a pathological multi-GB document became a
    single-row memory spike where the old explode spread it. It was
    also quietly QUADRATIC in document length: each gram was
    ``substring(t, i, k)``, and UTF8String.substring walks from byte 0
    to find character i, so n grams cost O(n^2) byte scans (invisible
    at 1 KB bench docs, ~40 s for one 120 KB doc). The hash +
    window-min computation now runs CHUNKED inside one ``aggregate``
    fold: per chunk of ``spark.scipi.winnow.chunkChars`` positions
    (default 256 KiB) it slices the chunk's text ONCE (carrying k+w-2
    overlap chars so window minima clamp only at the true document
    end), extracts all overlapping k-grams in one linear pass
    (zero-width-lookahead ``regexp_extract_all``), hashes them, takes
    the chunk's window minima, and ``array_union``s them into the
    accumulator — which dedups exactly like the old per-doc
    ``array_distinct`` AND preserves first-occurrence order, so values
    and row order are bit-identical for any chunk size. Documents at or
    under ``spark.scipi.winnow.smallDocChars`` positions (default 8192)
    instead take the r12 fused substring form per row (a CASE branch):
    its quadratic is bounded to ~ms there and it beats the regex gram
    pass on small docs (measured 1.39x on the ~1 KB sf0.1 corpus), so
    the common web-doc case pays no guard tax at all. Intermediate
    allocations are bounded by the chunk; only the accumulator (the
    final per-doc distinct fp set — the output itself, ~2/(w+1) of
    positions) scales with the document. Input contract for truly
    degenerate inputs: a multi-GB SINGLE document still folds in one
    task (no OOM spike, but serial); pre-split such inputs upstream."""
    base = (
        _spread(df)
        .select(F.col(id_col).alias("doc_id"), normalize_text(text_col).alias("t"))
        .filter(F.length("t") >= k)
    )
    try:
        chunk = int(
            df.sparkSession.conf.get(
                "spark.scipi.winnow.chunkChars", str(1 << 18)
            )
        )
    except Exception:
        chunk = 1 << 18
    chunk = max(chunk, w)
    # below smallDocChars the r12 fused substring form runs instead of
    # the chunked fold: its O(np^2) UTF8 positioning is bounded to ~ms
    # there and it beats the regex gram pass on small docs (measured
    # 1.39x on the sf0.1 corpus of ~1 KB docs); the chunked branch
    # takes over exactly where the quadratic would start to hurt
    try:
        small = int(
            df.sparkSession.conf.get(
                "spark.scipi.winnow.smallDocChars", "8192"
            )
        )
    except Exception:
        small = 8192
    small = min(small, chunk)
    np_ = f"(length(t) - {k - 1})"
    hash_of = "cast(conv(substring(md5(%s), 1, 15), 16, 10) as bigint)"
    # small docs: grams via substring on the whole (short) text — the
    # exact r12 expression, with the hash array bound via a 1-element
    # transform instead of an intermediate select
    fused = (
        f"transform(array(transform(sequence(1, {np_}), "
        f"i -> {hash_of % f'substring(t, i, {k})'})), "
        f"hs -> array_distinct(transform(hs, "
        f"(x, i) -> array_min(slice(hs, i + 1, {w})))))[0]"
    )
    # large docs: per chunk, slice the text ONCE (k+w-2 overlap chars;
    # substring clamps at the document end), extract every overlapping
    # k-gram in ONE linear regex pass ((?s): normalize_text leaves no
    # newlines, but don't depend on it), hash, window-min, array_union
    # into the accumulator (≡ array_distinct, first-occurrence order)
    tc = f"substring(t, c * {chunk} + 1, {chunk + k + w - 2})"
    grams = f"regexp_extract_all({tc}, '(?s)(?=(.{{{k}}}))', 1)"
    chunked = (
        f"aggregate("
        f"sequence(0, ({np_} - 1) div {chunk}), "
        f"cast(array() as array<bigint>), "
        f"(acc, c) -> transform("
        f"array(transform({grams}, g -> {hash_of % 'g'})), "
        f"hs -> array_union(acc, "
        f"transform(sequence(1, least({chunk}, {np_} - c * {chunk})), "
        f"j -> array_min(slice(hs, j, {w})))))[0])"
    )
    fps = F.expr(
        f"CASE WHEN {np_} <= {small} THEN {fused} ELSE {chunked} END"
    )
    return base.select("doc_id", F.explode(fps).alias("fp"))


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed verbatim-overlap pairs over winnowed fingerprints:
    |FP(A) ∩ FP(B)| / |FP(A)| >= threshold, A != B — containment
    semantics (an excerpt scores ~1.0 against its container) on the
    2/(w+1)-subsampled fingerprint sets, so the posting self-join costs
    a small fraction of the full-shingle containment join while still
    catching any shared verbatim run of length >= k + w - 1.

    ``max_doc_freq`` (None = exact) drops fingerprints occurring in more
    than that many documents BEFORE both the pairing join and the
    denominator — the same posting-cap escape as the shingle index, but
    here it also sharpens the metric: a fingerprint shared by half the
    corpus is boilerplate, not reuse evidence, and overlap becomes "of
    this doc's DISTINCTIVE fingerprints, what fraction appears in B" —
    a verbatim excerpt still scores 1.0 against its container at any
    corpus size (capping the numerator alone would dilute it as the
    corpus grows), while docs made of pure boilerplate simply drop out
    (no distinctive fingerprints left). It is also the scale fix: the
    ubiquitous fingerprint is exactly the one whose posting list makes
    pairing quadratic (measured 9.7s -> ~3s at sf0.1, cap 50).

    Pairing plan: ONE groupBy(fp) builds bounded posting lists (<= cap
    docs each, an executor-safe collect_list), pairs expand NARROW from
    each list (|ds|² - |ds| rows, <= cap² per fingerprint by
    construction), and both the doc-frequency cap and the denominator
    sizes fall out of the same lists — replacing the previous
    [materialize fps -> df-count shuffle -> cap join -> re-materialize ->
    fp-keyed self-join (two more shuffles)] chain (measured ~4.7s ->
    ~3.3s warm at sf0.1 for the planted-compound entry, identical
    output; the residual cost is the pair aggregation itself — ~2M pair
    rows on that corpus — which the self-join paid too).

    r13 pair-expansion form (guide §1.2 per-task work): the pairs
    expand as TWO chained ``explode``s + an inequality filter instead
    of the r12 nested ``transform``/``struct``/``flatten``/``filter``
    array comprehension. Higher-order array functions are
    CodegenFallback — every pair cost an interpreted lambda evaluation
    and a boxed struct allocation, and the whole |ds|²-element struct
    array materialized per posting row. Generate(explode) participates
    in whole-stage codegen, streams pairs without materializing the
    quadratic intermediate, and feeds the partial aggregation plain
    long columns. Same multiset of rows in the same nested-loop order
    (outer x, inner y, x != y kept), so the pair counts — and the
    declared result — are identical."""
    spread = _spread(df)
    fps = winnow_fingerprints(spread, id_col, text_col, k, w)
    plists = fps.groupBy("fp").agg(F.collect_list("doc_id").alias("ds"))
    if max_doc_freq is not None:
        plists = plists.filter(F.size("ds") <= max_doc_freq)
    plists = plists.localCheckpoint(eager=True)
    if spread is not df:
        spread.unpersist()
    # denominator: of the doc's DISTINCTIVE (cap-surviving) fingerprints
    sizes = (
        plists.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    )
    inter = (
        plists.filter(F.size("ds") >= 2)
        .select(F.explode("ds").alias("contained"), "ds")
        .select("contained", F.explode("ds").alias("container"))
        .filter(F.col("contained") != F.col("container"))
        .groupBy("contained", "container")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("contained"), "n_fp")
    return (
        inter.join(sa, "contained")
        .select(
            "contained",
            "container",
            F.round((F.col("inter") / F.col("n_fp")).cast("double"), 6).alias(
                "overlap"
            ),
        )
        .filter(F.col("overlap") >= threshold)
    )


def duplicate_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
) -> DataFrame:
    """Exact-substring duplicate SPANS — the distributed re-expression
    of the suffix-array ExactSubstr dedup of Lee et al., ACL'22
    ("Deduplicating Training Data Makes Language Models Better"):
    find, per document, the merged character ranges whose content
    recurs verbatim elsewhere in the corpus. Where document/paragraph
    dedup drops whole units, this is the operator that locates the
    repeated license header INSIDE an otherwise-unique file.

    Method: every k-char gram of the normalized text (at the default
    ``stride=1`` — ALL positions, the exact Lee et al. semantics: any
    verbatim repeat of length >= k is caught at any alignment) whose
    portable 60-bit hash occurs more than once in the corpus marks its
    [p, p+k-1] interval duplicated; per document, overlapping/adjacent
    intervals merge into maximal spans (gaps-and-islands).
    ``stride > 1`` subsamples positions for cost, but POSITIONALLY —
    repeats then only match when their offsets agree mod stride, so it
    is only safe for aligned corpora (fixed-width records); for
    content-anchored subsampling with a detection guarantee use
    :func:`winnow_fingerprints` instead.

    Plan: narrow gram explode (positions generated, never shuffled) ->
    one content-keyed count aggregate (map-side combine; what shuffles
    is 8-byte hashes + counts, ~16 bytes per character — the honest
    linear cost Lee et al.'s suffix array also pays) -> join back on
    the hash (AQE broadcasts the dup-hash table when small — it holds
    only recurring grams, a tiny fraction of the corpus) -> TWO windows
    sharing ONE (doc_id) shuffle for the island merge -> per-span
    rollup. Spans are 1-based character offsets into the NORMALIZED
    text. Docs shorter than k emit nothing; docs with no duplicated
    gram emit no row.

    Output: (doc_id, span_id, span_start, span_len) — span_id numbers
    a doc's spans in position order."""
    from scipi_spark.operators.textops import normalize_text

    spread = _spread(df)
    base = spread.select(
        F.col(id_col).alias("doc_id"),
        normalize_text(text_col).alias("t"),
    ).filter(F.length("t") >= k)
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(t) - {k - 1}, {stride}), "
                f"i -> struct(i as p, substring(t, i, {k}) as g))"
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.p").alias("p"), _portable_feature_hash(F.col("pg.g")).alias("h"))
    grams = grams.localCheckpoint(eager=True)  # feeds count AND probe
    if spread is not df:
        spread.unpersist()
    dup_hashes = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("h")
    )
    hits = grams.join(dup_hashes, "h").select(
        "doc_id", "p", (F.col("p") + (k - 1)).alias("e")
    )
    by_pos = Window.partitionBy("doc_id").orderBy("p")
    prev_end = F.max("e").over(by_pos.rowsBetween(Window.unboundedPreceding, -1))
    is_new = F.when(
        F.col("p") > F.coalesce(prev_end + 1, F.lit(-1)), 1
    ).otherwise(0)
    flagged = hits.withColumn(
        "island",
        F.sum(is_new).over(by_pos.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("doc_id", F.col("island").alias("span_id"))
        .agg(
            F.min("p").cast("long").alias("span_start"),
            (F.max("e") - F.min("p") + 1).cast("long").alias("span_len"),
        )
        .select("doc_id", F.col("span_id").cast("long"), "span_start", "span_len")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_coeffs(num_perm: int) -> tuple[list[tuple[int, int]], int]:
    """Fixed-seed 2-universal permutation coefficients over the Mersenne
    prime 2^31-1 — fixed so signatures computed today match a store
    written yesterday."""
    p = 2_147_483_647
    rng = random.Random(1_000_003)
    return [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_perm)], p


def _signatures_from_postings(
    postings: DataFrame, coeffs: list[tuple[int, int]], p: int
) -> DataFrame:
    """(doc, sig) from (doc, h0) postings: num_perm running minima of the
    2-universal permutations — one hash aggregation, map-side partial.
    The signature is one SQL expression, ``array(min(pmod(h0 * a + b,
    p)), ...)``, so building the plan costs one JVM call, not one per
    permutation."""
    mins = ", ".join(f"min(pmod(h0 * {a} + {b}, {p}))" for a, b in coeffs)
    return postings.groupBy("doc").agg(F.expr(f"array({mins})").alias("sig"))


def _band_rows(sigs: DataFrame, bands: int, r: int) -> DataFrame:
    """(doc, band, bh): one murmur3 hash per r-row signature band — the
    LSH bucket keys — from one SQL expression, ``inline(array(struct(i
    AS band, hash(sig[i*r], ...) AS bh), ...))``."""
    rows = ", ".join(
        f"struct({bi} AS band, "
        f"hash({', '.join(f'sig[{bi * r + j}]' for j in range(r))}) AS bh)"
        for bi in range(bands)
    )
    return sigs.select("doc", F.expr(f"inline(array({rows}))"))


def _lsh_band_rows(postings: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc, band, bh) from (doc, sh) hashed-shingle postings — the one
    step from postings to LSH bucket keys. Every shingle's xxhash64 is
    reduced mod 2^31-1, put through the fixed-seed permutations
    (:func:`_minhash_coeffs`), minimized per doc, and each r-row band of
    the signature is murmur3-hashed. Lazy: a caller that reads the rows
    more than once checkpoints them."""
    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} is not a multiple of bands={bands}")
    coeffs, p = _minhash_coeffs(num_perm)
    # reduced mod p first, so a*h0 + b stays under 2^62 (no ANSI overflow)
    sigs = _signatures_from_postings(
        postings.select("doc", F.pmod(F.col("sh"), F.lit(p)).alias("h0")),
        coeffs,
        p,
    )
    return _band_rows(sigs, bands, num_perm // bands)


def batch_lsh_state(
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sizes, postings, band_rows) for a set of documents — the one
    kernel from text to MinHash-LSH state, behind every pair search,
    store build, probe and append. The shingle arrays are checkpointed
    (:func:`_shingle_index`), so sizes and postings feed any number of
    consumers without replaying the text scan. ``band_rows`` is a plan
    over those postings (one signature aggregation); a caller that reads
    it twice — a self-join, or a probe followed by an append —
    localCheckpoints it first."""
    sizes, postings = _shingle_index(batch, id_col, text_col, k, None)
    return sizes, postings, _lsh_band_rows(postings, num_perm, bands)


def _jaccard_verify(
    candidates: DataFrame, postings: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs over hashed shingle
    postings: intersection via equi-join restricted to candidates, sizes
    joined back — precision becomes exact, only recall stays
    probabilistic."""
    pa = postings.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    pb = postings.select(F.col("doc").alias("pb_doc"), F.col("sh").alias("sh_b"))
    inter = (
        candidates.join(pa, "doc_a")
        .join(
            pb,
            (F.col("doc_b") == F.col("pb_doc")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac.cast("double"), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified with exact
    Jaccard (precision exact, recall ~ 1-(1-s^r)^b).

    Pipeline: ONE shingle scan materialized as 64-bit-hashed postings
    (read by both the signature aggregation and the exact-Jaccard
    verification — the scan/explode runs once, and every downstream
    shuffle carries fixed-width longs, not shingle strings) → band
    hashes → equi-join on (band, hash) → distinct candidate pairs →
    exact-Jaccard verification restricted to candidates.
    """
    sizes, postings, band_rows = batch_lsh_state(
        df, id_col, text_col, k, num_perm, bands
    )
    # the candidate self-join reads band_rows on both sides
    band_rows = band_rows.localCheckpoint(eager=True)
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # verify with exact jaccard over the SAME postings the signatures
    # were built from (hashed shingle ids preserve set identity)
    return _jaccard_verify(candidates, postings, sizes, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _portable_feature_hash(col) -> F.Column:
    """60-bit feature hash computable bit-identically in Spark AND DuckDB:
    the first 15 hex chars of md5, parsed as an integer. Used by the
    ``portable`` SimHash mode so a pure-SQL oracle can replicate the full
    signature pipeline; xxhash64 stays the (faster) production default."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 1,
    portable: bool = False,
) -> DataFrame:
    """(doc, simhash: long) — SimHash over word k-shingles:
    bit_i = sign(sum over features of ±1 at bit i). 64-bit xxhash64
    features by default; ``portable=True`` switches to the 60-bit
    md5-prefix hash (cross-engine replicable, see _portable_feature_hash).

    Computed without UDFs: explode features, expand the per-bit sums in
    one aggregation (the same single-shuffle shape as minhash signatures)."""
    n_bits = 60 if portable else 64
    hcol = (
        _portable_feature_hash(F.col("feat"))
        if portable
        else F.xxhash64("feat")
    )
    feats = _spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col, k)).alias("feat"),
    ).select("doc", hcol.alias("h"))
    bit_sums = feats.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(n_bits)
        ]
    )
    sim = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return bit_sums.select("doc", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 1,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Pairs (a<b) with Hamming(simhash_a, simhash_b) <= max_hamming,
    blocked on 4 equal-width chunks (16 bits, or 15 in ``portable`` mode;
    pigeonhole guarantees recall for max_hamming <= 3 either way)."""
    chunk_bits = 15 if portable else 16
    chunk_mask = (1 << chunk_bits) - 1
    spread = _spread(df)
    sh = simhash64(spread, id_col, text_col, k, portable=portable)
    chunks = sh.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("chunk"),
                        F.shiftright(F.col("simhash"), ci * chunk_bits)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("cv"),
                    )
                    for ci in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv"))
    # both self-join sides read chunks — materialize once or the 64-sum
    # signature aggregation executes twice
    chunks = chunks.localCheckpoint(eager=True)
    if spread is not df:
        spread.unpersist()
    a = chunks.alias("a")
    b = chunks.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_lsh_increment(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection: pairs between a NEW batch and the
    existing corpus (plus new-new pairs) — old-old pairs never form.

    This is the production shape of dedup at 100 TB: the corpus is
    already deduplicated, and each arriving increment only needs to be
    checked against corpus + itself. The candidate join probes band
    buckets FROM THE BATCH SIDE only, so join work scales with
    |batch| x bucket occupancy, not |corpus|^2; at real scale the
    corpus's band rows live in a persisted signature store (bucketed on
    (band, bh)) and this becomes a pure probe join with no corpus-side
    recompute. Output pairs are canonical (doc_a < doc_b), verified with
    exact Jaccard like :func:`minhash_lsh_pairs`.

    A doc_id present in BOTH inputs (a re-ingested doc) is taken from
    the batch — keeping both copies would union two posting sets under
    one id, inflating intersections and fanning out the sizes join. The
    anti-join broadcasts only the batch's ids (an increment is small by
    contract), so the corpus side stays narrow: no corpus shuffle.
    """
    # anti and semi joins ignore duplicate build keys: no distinct
    batch_ids = batch.select(F.col(id_col))
    corpus_only = corpus.join(F.broadcast(batch_ids), id_col, "left_anti")
    tagged = corpus_only.select(id_col, text_col).unionByName(
        batch.select(id_col, text_col)
    )
    sizes, postings, band_rows = batch_lsh_state(
        tagged, id_col, text_col, k, num_perm, bands
    )
    # read as the probe side and as the index side
    band_rows = band_rows.localCheckpoint(eager=True)
    # the probe side is picked by the batch ids alone (broadcast semi
    # join) instead of joining a projection of `tagged` back — `tagged`
    # feeds exactly one consumer, so the corpus+batch base scan executes
    # once, not twice
    new_ids = F.broadcast(batch_ids.select(F.col(id_col).alias("doc")))
    candidates = _probe_candidates(
        band_rows.join(new_ids, "doc", "left_semi"), band_rows
    )
    return _jaccard_verify(candidates, postings, sizes, threshold)


def _probe_candidates(
    probe_bands: DataFrame, *index_bands: DataFrame
) -> DataFrame:
    """Canonical distinct candidate pairs from probing ``probe_bands``'
    (band, bh) buckets against each of ``index_bands``. The raw pairs of
    every probe join are unioned and deduplicated once, through the
    least/greatest canonical form, so a pair found by two joins or from
    both sides (probe-probe) costs one shuffle in all."""
    a = probe_bands.alias("a")
    pairs = [
        a.join(
            index.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") != F.col("b.doc")),
        ).select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
        )
        for index in index_bands
    ]
    return functools.reduce(DataFrame.unionByName, pairs).distinct()


def cross_corpus_neardup(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs strictly ACROSS two corpora — the
    benchmark-decontamination / corpus-overlap shape that exact n-gram
    matching (:func:`~scipi_spark.operators.textops.decontaminate`)
    misses when the leaked copy was lightly edited.

    Returns ``(doc_a, doc_b, jaccard)`` with ``doc_a`` from ``left`` and
    ``doc_b`` from ``right``; within-corpus pairs never form because the
    candidate join probes left-side band buckets against right-side band
    buckets only. Document ids must be globally unique across both
    inputs (the shingle index unions the sides under one id namespace —
    a shared id would merge two posting sets).

    Plan shape (the same skeleton as :func:`minhash_lsh_increment`): one
    union scan → ONE materialized shingle index feeding both the
    signature aggregation and the exact-Jaccard verification → banded
    candidates [equi-join on (band, bh), typically broadcast when one
    side is an eval set] → verify. At 100 TB the right/eval side is tiny
    and its band rows broadcast; the corpus side shuffles once on the
    64-bit shingle hash and once on (band, bh).
    """
    tagged = left.select(id_col, text_col).unionByName(
        right.select(id_col, text_col)
    )
    sizes, postings, band_rows = batch_lsh_state(
        tagged, id_col, text_col, k, num_perm, bands
    )
    # read as the left side and as the right side
    band_rows = band_rows.localCheckpoint(eager=True)
    # the sides are split by the right input's ids alone (broadcast
    # semi/anti joins) — joining a projection of `tagged` back would
    # re-execute the union scan a second time
    right_ids = F.broadcast(right.select(F.col(id_col).alias("doc")))
    lb = band_rows.join(right_ids, "doc", "left_anti").alias("a")
    rb = band_rows.join(right_ids, "doc", "left_semi").alias("b")
    candidates = (
        lb.join(
            rb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    return _jaccard_verify(candidates, postings, sizes, threshold)


#: the signature store: band rows bucketed and sorted on (band, bh),
#: beside plain-parquet ``postings`` and ``sizes``
SIG_STORE = storectl.StoreSpec(
    "signature store", "sig-v1", (storectl.Layout("bands", ("band", "bh")),)
)


def _add_sig_state(
    build: storectl.Build, state: tuple[DataFrame, DataFrame, DataFrame]
) -> None:
    """Write a (sizes, postings, band_rows) state into a store build. The
    postings must be checkpointed, so the three writes never replay the
    work that produced them."""
    sizes, postings, band_rows = state
    build.add("postings", postings)
    build.add("sizes", sizes)
    build.add("bands", band_rows)


def write_signature_store(
    df: DataFrame,
    path: str,
    table: str = "minhash_store_bands",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    n_buckets: int = 16,
    build_key: str = "sig-v1",
) -> None:
    """Persist a corpus's LSH state once so later increments probe it
    with ZERO corpus-side recompute:

    - ``<path>/postings``, ``<path>/sizes`` — hashed shingle postings and
      set sizes (parquet), read only by the exact-Jaccard verify of
      candidate pairs that actually touch corpus docs;
    - table ``<table>`` — band rows bucketed AND sorted on (band, bh)
      (data at ``<path>/bands``): the probe equi-join on exactly the
      bucket keys reads the store with NO Exchange and NO Sort on the
      corpus side (plan-asserted in tests) — only the day's batch
      shuffles, which is what makes daily dedup O(|batch|) instead of
      O(|corpus|).

    The signature coefficients are fixed-seed (:func:`_minhash_coeffs`),
    so signatures computed at probe time match the stored ones. The
    recipe (k, num_perm, bands, n_buckets) is recorded in the version,
    so probes, appends and compactions inherit it (``storectl``)."""
    params = {"k": k, "num_perm": num_perm, "bands": bands,
              "n_buckets": n_buckets}
    state = batch_lsh_state(df, id_col, text_col, k, num_perm, bands)
    with storectl.rebuild(path.rstrip("/"), SIG_STORE, params, build_key) as b:
        _add_sig_state(b, state)
    SIG_STORE.register(df.sparkSession, table, b.version)


def append_signature_store(
    batch: DataFrame,
    path: str,
    table: str = "minhash_store_bands",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    num_perm: int | None = None,
    bands: int | None = None,
    n_buckets: int | None = None,
    batch_state: tuple[dict, tuple[DataFrame, ...]] | None = None,
    *,
    fold: tuple[str, int] | None = None,
) -> None:
    """Fold a new batch into an existing signature store: postings/sizes
    append to their parquet tables, band rows append to the bucketed
    table (same bucket spec, so the probe's shuffle-free scan property
    is preserved — each append adds per-bucket files, it never
    re-shuffles the store).

    Append-only contract: callers MUST feed doc_ids not already in the
    store. A duplicated id (re-ingestion, or a crash-replayed append)
    leaves its postings/sizes rows in the store TWICE, and only probes
    whose in-flight batch contains that same id are protected (their
    anti-join supersedes the stored copy); any OTHER probe that pairs
    against the duplicated doc double-counts shingle intersections and
    fans out the sizes join — inflated (up to divide-by-zero) Jaccard —
    until the store is compacted (:func:`compact_signature_store`).
    This is the LSM trade: cheap monotone appends daily, one compaction
    when a duplicate slips in or bloat warrants it.

    The batch is banded under the recipe of the version the append
    clones. ``batch_state``: ``(recipe, (sizes, postings, band_rows))``,
    a :func:`batch_lsh_state` the caller already computed (the streaming
    sink probes with it first) and the ``k``, ``num_perm`` and ``bands``
    it was banded under. If the cloned version's recipe differs — a
    rebuild published since the caller read it — the append raises
    :class:`~scipi_spark.sources.storectl.StoreConflictError` instead of
    mixing incomparable band rows into the index. ``fold``: the
    streaming sink's ``(query_key, batch_id)`` stamp."""
    requested = {"k": k, "num_perm": num_perm, "bands": bands,
                 "n_buckets": n_buckets}
    with storectl.append(
        path.rstrip("/"), SIG_STORE, requested, fold=fold
    ) as b:
        p = b.params
        if batch_state is None:
            state = batch_lsh_state(
                batch, id_col, text_col, p["k"], p["num_perm"], p["bands"]
            )
        else:
            recipe, state = batch_state
            if any(recipe[key] != p[key] for key in ("k", "num_perm", "bands")):
                raise storectl.StoreConflictError(
                    f"batch state banded under {recipe!r}, but the store "
                    f"at {path!r} now holds recipe {p!r}; recompute it"
                )
        _add_sig_state(b, state)
    SIG_STORE.register(batch.sparkSession, table, b.version)


def compact_signature_store(
    spark,
    path: str,
    table: str = "minhash_store_bands",
    num_perm: int | None = None,
    bands: int | None = None,
    n_buckets: int | None = None,
    build_key: str | None = None,
) -> None:
    """Rebuild the signature store from its own postings with duplicate
    rows dropped — the repair for a crash-replayed append or a
    re-ingested doc_id (see :func:`append_signature_store`): postings
    are the authoritative state (sizes and band rows are pure functions
    of them), so one ``distinct()`` over (doc, sh) and a rewrite of the
    three derived artifacts restores exact probe semantics. The original
    text is never touched — compaction cost is proportional to the
    store's hashed postings, not the corpus. The deduped postings are
    checkpointed before the rebuild writes."""
    root = path.rstrip("/")
    cur = storectl.open_store(
        root, SIG_STORE,
        {"num_perm": num_perm, "bands": bands, "n_buckets": n_buckets},
    )
    postings = (
        spark.read.parquet(cur.path("postings"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = postings.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    band_rows = _lsh_band_rows(
        postings, cur.params["num_perm"], cur.params["bands"]
    )
    with storectl.rebuild(root, SIG_STORE, build_key=build_key, base=cur) as b:
        _add_sig_state(b, (sizes, postings, band_rows))
    SIG_STORE.register(spark, table, b.version)


def minhash_lsh_increment_from_store(
    spark,
    path: str,
    batch: DataFrame,
    table: str = "minhash_store_bands",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    num_perm: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
    batch_state: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """The probe side of :func:`write_signature_store`: near-dup pairs
    between ``batch`` and the stored corpus (plus batch-batch pairs),
    identical output to :func:`minhash_lsh_increment` run on the raw
    corpus (equivalence-tested) — but the corpus text is never touched:
    candidates probe the bucketed band table shuffle-free on the corpus
    side, and the verify reads only the stored postings. The signature
    recipe self-configures from the store's version marker; explicitly
    passed values that mismatch it raise instead of probing the wrong
    buckets. ``batch_state``: a :func:`batch_lsh_state` of ``batch``
    banded under the store's recipe.

    Plan shape: two probe joins (batch vs the bucketed store, batch vs
    itself) whose raw pairs take one ``distinct``; the batch's ids are
    broadcast, without a distinct, to the two ``left_anti`` joins that
    drop superseded stored rows; and the stored postings and sizes are
    read with their known schema (``doc`` typed as in the registered
    band table), so no parquet schema-inference job runs. A probe of a
    40-document batch that computes its own state runs 12 Spark jobs
    on local[4]."""
    ver = storectl.open_store(
        path.rstrip("/"), SIG_STORE,
        {"k": k, "num_perm": num_perm, "bands": bands, "n_buckets": n_buckets},
    )
    SIG_STORE.register(spark, table, ver)
    corpus_bands = spark.table(table)
    doc = corpus_bands.schema["doc"].dataType.simpleString()
    corpus_postings = spark.read.schema(f"doc {doc}, sh bigint").parquet(
        ver.path("postings")
    )
    corpus_sizes = spark.read.schema(f"doc {doc}, n_sh bigint").parquet(
        ver.path("sizes")
    )

    if batch_state is None:
        p = ver.params
        b_sizes, b_postings, b_bands = batch_lsh_state(
            batch, id_col, text_col, p["k"], p["num_perm"], p["bands"]
        )
        # read by both probe joins below
        b_bands = b_bands.localCheckpoint(eager=True)
    else:
        b_sizes, b_postings, b_bands = batch_state

    # TWO probe joins, not one join against a union — a union of the
    # bucketed table with anything loses its bucketing and would shuffle
    # the whole corpus index. batch-vs-store probes the bucketed scan
    # (corpus side exchange-free); batch-vs-batch is a small self-join.
    candidates = _probe_candidates(b_bands, corpus_bands, b_bands)
    # A doc_id present in both the store and the batch (re-ingested doc)
    # is taken from the batch: without the anti-join its postings rows
    # would duplicate under one id (inflating intersection counts) and
    # the sizes join would fan out. Broadcasting the batch's ids keeps
    # the stored corpus side narrow. Stale band rows for such a doc may
    # still surface extra candidates — harmless, the verify below is
    # exact Jaccard over the de-duplicated postings. The ids come from
    # b_sizes, which has a row for every batch doc (a doc with no
    # shingles keeps a (doc, 0) row), so even a doc re-ingested with
    # empty text supersedes its stored copy, and the batch input is not
    # scanned again.
    batch_ids = F.broadcast(b_sizes.select("doc"))
    postings = corpus_postings.join(batch_ids, "doc", "left_anti").unionByName(
        b_postings
    )
    sizes = corpus_sizes.join(batch_ids, "doc", "left_anti").unionByName(b_sizes)
    return _jaccard_verify(candidates, postings, sizes, threshold)


# ---------------------------------------------------------------------------
# Paragraph-level cross-document dedup
# ---------------------------------------------------------------------------

def paragraph_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words: int = 8,
) -> DataFrame:
    """Cross-document segment-level exact dedup — the paragraph-dedup
    pattern of web-scale corpus cleaning (boilerplate paragraphs repeat
    across millions of pages): explode segments, first occurrence wins,
    later occurrences are flagged.

    The test corpus is unpunctuated, so a "paragraph" here is a
    fixed-``words`` non-overlapping token chunk; real deployments swap
    the splitter for blank-line or sentence segmentation — the plan
    shape is identical and is what matters at 100 TB: one narrow
    explode, ONE shuffle (the first-occurrence window partitions by the
    segment content), one per-doc rollup reusing nothing wider than
    (doc, idx, flag). Occurrence order is (doc_id, idx) — deterministic,
    so the oracle can state it.

    Output: (doc_id, n_paras, n_dup, dup_frac) — a segment is ``dup``
    iff an identical segment exists at a strictly earlier (doc_id, idx).
    Docs whose text yields zero segments produce no row (nothing to
    dedup)."""
    from pyspark.sql import Window

    seg = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(token_chunks(text_col, words)).alias("idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    flagged = seg.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum("is_dup").cast("long").alias("n_dup"),
        F.round(F.sum("is_dup") / F.count(F.lit(1)), 6).alias("dup_frac"),
    )


def trim_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
) -> DataFrame:
    """The ACTION arm of :func:`duplicate_substring_spans` — what Lee
    et al. actually do with the spans: account per document for the
    characters that would be CUT when every corpus-duplicated span is
    removed (repeated license headers, boilerplate paragraphs, quoted
    blocks), leaving the unique remainder for training.

    Output one row per document (clean docs included): (doc_id,
    n_chars, n_spans, dup_chars, kept_chars, dup_frac) — lengths over
    the NORMALIZED text, the same coordinate system the spans use, so
    ``kept_chars = n_chars - dup_chars`` is exact. Same plan as the
    span finder plus one per-doc rollup and a left join back to the
    corpus (broadcast-eligible: one row per spanned doc)."""
    from scipi_spark.operators.textops import normalize_text

    spans = duplicate_substring_spans(
        df, id_col=id_col, text_col=text_col, k=k, stride=stride
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_len").cast("long").alias("dup_chars"),
    )
    lens = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(normalize_text(text_col)).cast("long").alias("n_chars"),
    )
    return (
        lens.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            (F.col("n_chars") - F.coalesce("dup_chars", F.lit(0)))
            .cast("long")
            .alias("kept_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0))
                / F.greatest(F.col("n_chars"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )
