"""Entity resolution / record linkage — the STRUCTURED-record twin of the
document dedup family (``operators/dedup.py`` finds near-duplicate TEXT;
this finds records that denote the same real-world ENTITY under field
noise: the Fellegi & Sunter 1969 pipeline every modern ER system —
Splink, dedupe, Zingg — distributes the same way):

1. **blocking** — candidate pairs only WITHIN a cheap deterministic
   block (here: the first name token), the cut that turns O(n^2)
   comparison into sum-of-block-squares. Two scale controls (round-10
   verdict #2):

   - ``max_block_size`` caps any one block's membership (the
     ``max_doc_freq`` pattern from ``dedup.py``): a frequent first
     token ("the", a common surname) otherwise makes that block's pair
     count QUADRATIC — AQE can split the skewed partition but cannot
     shrink the pair count. Oversized blocks are dropped whole, a
     documented recall trade (their records still pair through the
     second key when enabled);
   - ``second_block`` adds a second blocking pass on the LAST name
     token, recovering pairs whose first token was corrupted or whose
     first-token block was capped away.

2. **pairwise scoring** — word-set Jaccard over the name field (exact
   integer set sizes, one division: cross-engine bit-parity for free),
   or per-field Fellegi-Sunter m/u log-likelihood weights
   (:func:`fs_match_pairs`);
3. **transitive closure** — matched pairs are edges; an entity is a
   connected component (``graph.connected_components``' hash-min
   superstep loop), its id the minimum record id.

Scale shape: the block join shuffles on the block key only; scoring is
per-pair column arithmetic (whole-stage codegen, no UDF); the closure
runs on the (sparse) MATCH graph, not the record corpus. No stage ever
holds all-pairs.

The persisted entity store (:func:`write_entity_store` /
:func:`er_increment_from_store` / :func:`append_entity_store`) gives ER
the incremental shape every other stateful family here has (dedup
signature store, ANN store, BM25 index, LM store, graph edge store):
block rows bucketed on the block key so a new batch probes WITHOUT a
corpus-side Exchange, and matched components FOLD into the stored
entity ids — including cross-entity merges when one new record bridges
two previously separate entities.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scipi_spark.sources import storectl


def name_words(col: Column | str) -> Column:
    """Distinct whitespace tokens of the name field — the comparison
    set. Distinctness makes |intersection| / |union| exact integers."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(F.filter(F.split(c, r"\s+"), lambda t: t != ""))


def _block_rows(
    df: DataFrame,
    id_col: str,
    name_col: str,
    second_block: bool,
    max_block_size: int | None,
) -> DataFrame:
    """(blk, rid, w) block membership rows: one row per (record, block
    key). Keys = first name token, plus the last token when
    ``second_block`` (distinct — a 1-token name contributes one row).
    ``max_block_size`` drops oversized blocks whole (the
    ``dedup.max_doc_freq`` posting cap): the per-block count is one
    aggregation on the block key, the same shuffle the pair join needs
    anyway, and it bounds any block's pair contribution at cap^2
    regardless of token skew."""
    recs = df.select(
        F.col(id_col).alias("rid"), name_words(name_col).alias("w")
    )
    if second_block:
        keys = F.array_distinct(
            F.array(F.element_at("w", 1), F.element_at("w", -1))
        )
        rows = recs.select(
            "rid", "w", F.explode(keys).alias("blk")
        ).filter(F.col("blk").isNotNull())
    else:
        rows = recs.select(
            "rid", "w", F.element_at("w", 1).alias("blk")
        ).filter(F.col("blk").isNotNull())
    return _capped(rows, max_block_size)


def _capped(rows: DataFrame, max_block_size: int | None) -> DataFrame:
    """Drop oversized blocks whole from (blk, ...) membership rows —
    the shared cap both the name-token and the FS field blocking use."""
    if max_block_size is None:
        return rows
    sizes = rows.groupBy("blk").agg(F.count(F.lit(1)).alias("_n"))
    return rows.join(
        sizes.filter(F.col("_n") <= max_block_size).select("blk"), "blk"
    )


def _blocked_pairs(
    rows: DataFrame, carry: list[str], dedup: bool
) -> DataFrame:
    """(id_a, id_b, <c>_a..., <c>_b...) from (blk, rid, *carry)
    membership rows: the block-key self-join with id_a < id_b — ONE
    implementation of the pair enumeration shared by the name-Jaccard
    and the Fellegi-Sunter paths (a fix to the blocking logic lands in
    one place). ``dedup`` drops pairs co-blocked under several keys."""
    a, b = rows.alias("a"), rows.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk")) & (F.col("a.rid") < F.col("b.rid")),
    ).select(
        F.col("a.rid").alias("id_a"),
        F.col("b.rid").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
    )
    return pairs.dropDuplicates(["id_a", "id_b"]) if dedup else pairs


def candidate_pairs(
    df: DataFrame,
    id_col: str = "rec_id",
    name_col: str = "name",
    max_block_size: int | None = None,
    second_block: bool = False,
) -> DataFrame:
    """Blocked candidate pairs (id_a < id_b) with both word sets
    attached. Block key = the FIRST name token: same-entity records
    must agree on it (the standard blocking contract); ``second_block``
    adds a LAST-token pass that recovers pairs with a corrupted first
    token (the pair set is the deduplicated union of both passes).
    ``max_block_size`` (None = exact) drops blocks larger than the cap
    before the self-join — the recall trade that keeps a hot token from
    going quadratic (round-10 verdict #2)."""
    rows = _block_rows(df, id_col, name_col, second_block, max_block_size)
    return _blocked_pairs(rows, ["w"], dedup=second_block).select(
        "id_a",
        "id_b",
        F.col("w_a").alias("wa"),
        F.col("w_b").alias("wb"),
    )


def match_pairs(
    df: DataFrame,
    id_col: str = "rec_id",
    name_col: str = "name",
    threshold: float = 0.5,
    max_block_size: int | None = None,
    second_block: bool = False,
) -> DataFrame:
    """(id_a, id_b, jaccard) for blocked pairs whose name word-set
    Jaccard reaches ``threshold``."""
    pairs = candidate_pairs(
        df, id_col, name_col, max_block_size, second_block
    )
    return (
        pairs.withColumn("jaccard", _jaccard("wa", "wb"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _jaccard(wa: str, wb: str) -> Column:
    return F.size(F.array_intersect(wa, wb)) / F.size(F.array_union(wa, wb))


def fs_weights(m: float, u: float) -> tuple[float, float]:
    """Fellegi-Sunter (1969) field weights: (agreement, disagreement)
    log2 likelihood ratios for one comparison field with match
    probability ``m`` (P[fields agree | same entity]) and chance
    agreement ``u`` (P[fields agree | different entities]). Agreement
    adds log2(m/u) > 0 evidence, disagreement adds
    log2((1-m)/(1-u)) < 0; a pair's score is the sum over fields —
    the log of the likelihood ratio the original decision rule
    thresholds."""
    if not (0.0 < u < m < 1.0):
        raise ValueError(f"need 0 < u < m < 1, got m={m!r} u={u!r}")
    return math.log2(m / u), math.log2((1.0 - m) / (1.0 - u))


def fs_match_pairs(
    df: DataFrame,
    fields: list[str],
    m: dict[str, float] | float,
    u: dict[str, float] | float,
    id_col: str = "rec_id",
    block_cols: list[str] | None = None,
    threshold: float = 0.0,
    max_block_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, fs_score) — per-field Fellegi-Sunter scoring over
    blocked pairs: each comparison field contributes its agreement
    weight log2(m/u) when equal, its disagreement weight
    log2((1-m)/(1-u)) when unequal, and 0 when either side is NULL
    (a missing value is no evidence either way); pairs whose summed
    log-likelihood reaches ``threshold`` are matches. This replaces the
    bare Jaccard cut with the probabilistic decision rule of Fellegi &
    Sunter 1969 (the model under Splink/dedupe), in pure column
    arithmetic — the weights are Python-computed constants folded into
    the plan, so scoring stays inside whole-stage codegen.

    ``block_cols`` (default: the first field) may name several columns;
    candidate pairs are the deduplicated union of the per-key blocked
    self-joins, and ``max_block_size`` caps each key's block membership
    exactly as in :func:`candidate_pairs`. Block keys are NAMESPACED
    per column (``"<i>:" + value``): equal values in DIFFERENT columns
    (a surname that is also a city name) never land in one block, so
    cross-column pairs cannot form and the cap counts each column's
    key membership separately (round-11 advice — the merged namespace
    both paired across columns and let collision inflation cap away a
    legitimate block)."""
    if not fields:
        raise ValueError("fields must be non-empty")
    if {"blk", "rid"} & set(fields):
        raise ValueError(
            "field names 'blk'/'rid' collide with the blocking row schema"
        )
    m_of = (lambda f: m[f]) if isinstance(m, dict) else (lambda f: m)
    u_of = (lambda f: u[f]) if isinstance(u, dict) else (lambda f: u)
    weights = {f: fs_weights(m_of(f), u_of(f)) for f in fields}

    block_cols = block_cols or [fields[0]]
    # one namespaced key per blocking column (NULL column value -> NULL
    # key, dropped below); array_distinct only collapses a column listed
    # twice — cross-column keys are distinct by construction
    keys = F.array_distinct(
        F.array(
            *[
                F.when(
                    F.col(c).isNotNull(),
                    F.concat(F.lit(f"{i}:"), F.col(c).cast("string")),
                )
                for i, c in enumerate(block_cols)
            ]
        )
    )
    rows = (
        df.select(F.col(id_col).alias("rid"), *[F.col(f) for f in fields])
        .select("rid", *fields, F.explode(keys).alias("blk"))
        .filter(F.col("blk").isNotNull())
    )
    pairs = _blocked_pairs(
        _capped(rows, max_block_size), fields, dedup=len(block_cols) > 1
    )
    # explicit left-to-right sum in field order: the oracle SQL writes
    # the same chain, so double addition order (and thus the rounded
    # score) is bit-identical cross-engine
    score: Column | None = None
    for f in fields:
        aw, dw = weights[f]
        fa, fb = F.col(f"{f}_a"), F.col(f"{f}_b")
        term = (
            F.when(fa.isNull() | fb.isNull(), F.lit(0.0))
            .when(fa == fb, F.lit(aw))
            .otherwise(F.lit(dw))
        )
        score = term if score is None else score + term
    return (
        pairs.withColumn("fs_score", F.round(score, 6))
        .filter(F.col("fs_score") >= threshold)
        .select("id_a", "id_b", "fs_score")
    )


def entity_ids(
    df: DataFrame,
    matches: DataFrame,
    id_col: str = "rec_id",
) -> DataFrame:
    """(rec_id, entity_id): transitive closure of the match graph —
    records chained by any sequence of matches share one entity id (the
    component's minimum record id); unmatched records keep their own.
    The closure iterates over the MATCH graph only, so its cost tracks
    the duplicate rate, not the corpus."""
    from scipi_spark.operators import graph

    comp = graph.connected_components(
        matches.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    ids = df.select(F.col(id_col).alias("rec_id"))
    return ids.join(
        comp.withColumnRenamed("id", "rec_id"), "rec_id", "left"
    ).select(
        "rec_id",
        F.coalesce("comp", "rec_id").cast("long").alias("entity_id"),
    )


# ---------------------------------------------------------------------------
# Persisted entity store: incremental ER (round-10 verdict #4)
# ---------------------------------------------------------------------------

#: the entity store: block rows bucketed and sorted on blk, beside the
#: plain-parquet ``entities`` (non-root assignments) and ``ids``. Its
#: recipe records ``block_cap`` 0 for "uncapped" and ``two_keys`` 0/1
#: for the second blocking pass because ``storectl.resolve_params``
#: treats a requested None as "inherit the recorded value" — None/False
#: could never be requested explicitly.
ER_STORE = storectl.StoreSpec(
    "entity store", "er-v1", (storectl.Layout("blocks", ("blk",)),)
)


def write_entity_store(
    df: DataFrame,
    path: str,
    table: str = "er_store_blocks",
    id_col: str = "rec_id",
    name_col: str = "name",
    threshold: float = 0.5,
    block_cap: int = 0,
    two_keys: int = 0,
    n_buckets: int = 16,
    build_key: str = "er-v1",
) -> None:
    """Persist a corpus's ER state once so later record batches resolve
    against it with ZERO corpus-side recompute — the structured-record
    twin of ``dedup.write_signature_store``:

    - table ``<table>`` — block membership rows (blk, rid, w) bucketed
      AND sorted on blk (data at ``<path>/blocks``): the probe's
      block-key equi-join reads the store with NO Exchange on the
      corpus side, so a batch's resolution cost is O(|batch| x block
      occupancy), never O(|corpus|);
    - ``<path>/entities`` — the NON-ROOT entity assignments only
      (rec_id, entity_id) WHERE entity_id != rec_id: a record absent
      from this table is its own entity, so the table's size tracks the
      DUPLICATE count, not the corpus — each incremental fold rewrites
      only this small table while the big blocks table takes appends;
    - ``<path>/ids`` — the stored record-id universe (one long per
      record; includes records with empty names that join no block),
      so a full (rec_id, entity_id) assignment can be reconstructed.

    The matching recipe (threshold, block_cap [0 = uncapped], two_keys
    [0/1: last-token second blocking pass], n_buckets) is recorded in
    the version: probes and folds inherit it, and explicitly passed
    values that mismatch raise — a probe under a different recipe
    would silently resolve against the wrong candidate set."""
    params = {
        "threshold": threshold,
        "block_cap": block_cap,
        "two_keys": two_keys,
        "n_buckets": n_buckets,
    }
    cap = block_cap or None
    with storectl.rebuild(path.rstrip("/"), ER_STORE, params, build_key) as b:
        b.add("blocks", _block_rows(df, id_col, name_col, bool(two_keys), cap))
        ents = entity_ids(
            df,
            match_pairs(
                df, id_col, name_col, threshold, cap, bool(two_keys)
            ),
            id_col,
        )
        b.add("entities", ents.filter(F.col("entity_id") != F.col("rec_id")))
        b.add("ids", df.select(F.col(id_col).cast("long").alias("rec_id")))
    ER_STORE.register(df.sparkSession, table, b.version)


def _er_probe(
    spark,
    ver: storectl.Version,
    batch: DataFrame,
    table: str,
    id_col: str,
    name_col: str,
    strict: bool = False,
):
    """Probe ``batch`` against the stored corpus and compute the folded
    entity state. Returns (batch_rows, new_nonroot, assignment):

    - batch_rows — the batch's (blk, rid, w) block rows (materialized;
      reused by :func:`append_entity_store` so blocking runs once);
    - new_nonroot — the store's ``entities`` content AFTER folding this
      batch in (non-root rows only), including cross-entity merges when
      a batch record bridges two stored entities;
    - assignment — the full (rec_id, entity_id) over corpus UNION
      batch, equal to a one-shot :func:`entity_ids` over the combined
      records (equivalence pytest-pinned).

    Scale shape: the block join shuffles only the batch (store side is
    bucketed on blk — Exchange-free, plan-asserted differentially in
    tests); the closure runs on a graph whose nodes are the batch's
    records plus the stored ENTITY ids they touch, so its cost tracks
    the batch and its match rate, never the corpus. Stored entities act
    as supernodes: corpus-corpus connectivity is already summarized by
    the stored assignment, so re-walking it is unnecessary — min-id
    labels compose (min over a merged component = min of the mins).

    Contract: batch record ids must be NEW (not already stored) — ids
    double as graph node ids, so a replayed id would alias two nodes;
    the streaming sink folds each micro-batch once (its batch id is
    recorded in the version it publishes) and only probes a replay.

    ``strict``: raise (instead of warn) when the match-graph closure
    does not converge within its iteration budget. The FOLD path
    (:func:`append_entity_store`, the streaming sink) passes True — a
    silently split clustering must never be PERSISTED into the store,
    where it would corrupt every later probe; the one-shot probe keeps
    the warning (the wrong answer is transient and the caller can
    retry with a larger budget).

    ``block_cap`` (when set) is enforced against the COMBINED
    stored+batch occupancy of each block the batch touches, so a
    block's membership cannot creep past the cap fold after fold.
    Residual divergence from a one-shot capped run over the combined
    records remains and is inherent to the incremental shape: a block
    the BUILD dropped whole has no stored rows, so its batch rows
    still pair among themselves (a partial block), and conversely
    stored-internal connectivity from a block that was under the cap
    at build time is kept even when later folds push that block over
    the cap (matches are never retracted). With ``block_cap=0`` the
    fold is EXACTLY equivalent to the one-shot closure
    (equivalence pytest-pinned)."""
    from scipi_spark.operators import graph

    threshold = ver.params["threshold"]
    cap = ver.params["block_cap"] or None
    two = bool(ver.params["two_keys"])

    batch_rows = _block_rows(batch, id_col, name_col, two, None).select(
        F.col("blk"), F.col("rid").alias("brid"), F.col("w").alias("bw")
    )
    store = spark.table(table)
    if cap:
        # enforce the cap against COMBINED stored+batch occupancy
        # (round-11 advice: the old per-slice cap let a block creep past
        # the cap fold after fold). Stored counts come from one extra
        # scan of the bucketed block table, broadcast-semi-pruned to the
        # batch's keys and aggregated Exchange-free on the bucket key —
        # no corpus shuffle; only the touched-block counts move.
        bcounts = batch_rows.groupBy("blk").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        scounts = (
            store.join(F.broadcast(bcounts.select("blk")), "blk", "semi")
            .groupBy("blk")
            .agg(F.count(F.lit(1)).alias("_sn"))
        )
        kept = (
            bcounts.join(scounts, "blk", "left")
            .filter(F.col("_bn") + F.coalesce(F.col("_sn"), F.lit(0)) <= cap)
            .select("blk")
        )
        batch_rows = batch_rows.join(F.broadcast(kept), "blk", "semi")
    batch_rows = batch_rows.localCheckpoint(eager=True)

    nonroot = spark.read.parquet(ver.path("entities"))

    # batch vs corpus: candidates share a block key; scored with the
    # identical Jaccard the one-shot path uses
    edges_bs = (
        batch_rows.join(store, "blk")
        .dropDuplicates(["brid", "rid"])
        .withColumn("jaccard", _jaccard("bw", "w"))
        .filter(F.col("jaccard") >= threshold)
        .select("brid", F.col("rid").alias("srid"))
    )
    # matched stored records enter the closure as their ENTITY id
    edges_bs = edges_bs.join(
        nonroot.withColumnRenamed("rec_id", "srid"), "srid", "left"
    ).select(
        F.col("brid").alias("src"),
        F.coalesce("entity_id", "srid").alias("dst"),
    )
    # batch-batch pairs from the SAME (combined-occupancy-capped) block
    # membership the batch-store join uses — one capping decision per
    # block, coherent across both edge sources
    edges_bb = (
        _blocked_pairs(
            batch_rows.select(
                "blk", F.col("brid").alias("rid"), F.col("bw").alias("w")
            ),
            ["w"],
            dedup=two,
        )
        .withColumn("jaccard", _jaccard("w_a", "w_b"))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )

    comp = graph.connected_components(
        edges_bs.unionByName(edges_bb), strict=strict
    ).localCheckpoint(eager=True)

    # fold: remap touched stored entities (a bridge merges two entities
    # under the component min — possibly a batch id), keep the rest
    touched = comp.filter(F.col("comp") != F.col("id"))
    ent_remap = (
        edges_bs.select(F.col("dst").alias("entity_id"))
        .distinct()
        .join(touched.withColumnRenamed("id", "entity_id"), "entity_id")
        .select("entity_id", F.col("comp").alias("new_id"))
    )
    remapped_members = nonroot.join(ent_remap, "entity_id").select(
        "rec_id", F.col("new_id").alias("entity_id")
    )
    remapped_roots = ent_remap.select(
        F.col("entity_id").alias("rec_id"), F.col("new_id").alias("entity_id")
    )
    untouched = nonroot.join(
        ent_remap.select("entity_id"), "entity_id", "left_anti"
    ).select("rec_id", "entity_id")
    batch_ids = batch.select(F.col(id_col).cast("long").alias("rec_id"))
    batch_nonroot = (
        batch_ids.join(comp.withColumnRenamed("id", "rec_id"), "rec_id")
        .filter(F.col("comp") != F.col("rec_id"))
        .select("rec_id", F.col("comp").cast("long").alias("entity_id"))
    )
    new_nonroot = (
        untouched.unionByName(remapped_members)
        .unionByName(remapped_roots)
        .unionByName(batch_nonroot)
        .select(
            F.col("rec_id").cast("long").alias("rec_id"),
            F.col("entity_id").cast("long").alias("entity_id"),
        )
        # one row per record: the at-least-once replay path (a batch
        # probing a store it already folded into) re-derives rows the
        # stored assignment already holds — identical values, deduped
        # here; the table's size tracks the duplicate rate, so this
        # stays cheap
        .dropDuplicates(["rec_id"])
        .localCheckpoint(eager=True)
    )
    # distinct guards the at-least-once replay path (a batch probing a
    # store it already folded into: its ids exist on both sides; the
    # identity matches resolve it to its own stored entity) — one
    # narrow long column, the cheapest distinct there is
    all_ids = (
        spark.read.parquet(ver.path("ids")).unionByName(batch_ids).distinct()
    )
    assignment = all_ids.join(new_nonroot, "rec_id", "left").select(
        "rec_id",
        F.coalesce("entity_id", "rec_id").cast("long").alias("entity_id"),
    )
    return batch_rows, new_nonroot, assignment


def er_increment_from_store(
    spark,
    path: str,
    batch: DataFrame,
    table: str = "er_store_blocks",
    id_col: str = "rec_id",
    name_col: str = "name",
    threshold: float | None = None,
    block_cap: int | None = None,
    two_keys: int | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """The probe side of :func:`write_entity_store`: the full
    (rec_id, entity_id) assignment over the stored corpus UNION
    ``batch`` — identical to a one-shot :func:`entity_ids` over the
    combined records (equivalence-tested; EXACT for ``block_cap=0`` —
    a non-zero cap is enforced against combined stored+batch block
    occupancy, with the residual build-time-capped-block divergence
    :func:`_er_probe` documents), but the corpus is never re-blocked
    or re-scored: candidates come from the bucketed block table
    (corpus side shuffle-free) and corpus-internal connectivity from
    the stored entity assignment. The matching recipe self-configures
    from the store's version marker; explicitly passed values that
    mismatch it raise."""
    ver = storectl.open_store(
        path.rstrip("/"), ER_STORE,
        {"threshold": threshold, "block_cap": block_cap,
         "two_keys": two_keys, "n_buckets": n_buckets},
    )
    ER_STORE.register(spark, table, ver)
    _rows, _nonroot, assignment = _er_probe(
        spark, ver, batch, table, id_col, name_col
    )
    return assignment


def append_entity_store(
    batch: DataFrame,
    path: str,
    table: str = "er_store_blocks",
    id_col: str = "rec_id",
    name_col: str = "name",
    threshold: float | None = None,
    block_cap: int | None = None,
    two_keys: int | None = None,
    n_buckets: int | None = None,
    *,
    fold: tuple[str, int] | None = None,
) -> DataFrame:
    """Fold ``batch`` into an existing entity store: block rows append
    to the bucketed table (same bucket spec — the probe's shuffle-free
    scan property is preserved), batch ids append to the id universe,
    and the small non-root ``entities`` table is REWRITTEN with the
    folded assignment (its size tracks the duplicate count, so the
    rewrite is O(matches), not O(corpus)). Cross-entity merges land
    here: a batch record bridging two stored entities collapses them
    under the component-minimum id, exactly as a one-shot closure over
    the combined records would (exact for ``block_cap=0``; a non-zero
    cap checks combined stored+batch occupancy per fold — see
    :func:`_er_probe` for the residual divergence a capped
    incremental run inherently carries). A non-converged closure
    RAISES instead of persisting a split clustering.

    Append-only contract: batch record ids must be new (see
    :func:`_er_probe`). The batch is probed against the version the
    append clones, under its recipe. ``fold``: the streaming sink's
    ``(query_key, batch_id)`` stamp.

    Returns the folded full (rec_id, entity_id) assignment (the same
    DataFrame :func:`er_increment_from_store` would produce), so a
    caller doing probe + fold — the streaming sink — blocks and scores
    the batch exactly once."""
    spark = batch.sparkSession
    requested = {"threshold": threshold, "block_cap": block_cap,
                 "two_keys": two_keys, "n_buckets": n_buckets}
    with storectl.append(path.rstrip("/"), ER_STORE, requested, fold=fold) as b:
        ER_STORE.register(spark, table, b.base)
        # strict=True: a non-converged closure must abort the fold, not
        # persist a silently split clustering that would corrupt every
        # later probe
        batch_rows, new_nonroot, assignment = _er_probe(
            spark, b.base, batch, table, id_col, name_col, strict=True
        )
        assignment = assignment.localCheckpoint(eager=True)
        b.add(
            "blocks",
            batch_rows.select(
                "blk", F.col("brid").alias("rid"), F.col("bw").alias("w")
            ),
        )
        b.add("ids", batch.select(F.col(id_col).cast("long").alias("rec_id")))
        # entities is derived folded state, not an append log
        b.replace("entities", new_nonroot)
    ER_STORE.register(spark, table, b.version)
    return assignment


def compact_entity_store(
    spark,
    path: str,
    table: str = "er_store_blocks",
    n_buckets: int | None = None,
    build_key: str | None = None,
) -> None:
    """Rewrite the store's three artifacts with duplicate rows dropped —
    the repair for a re-ingested record id. Probe CORRECTNESS survives
    duplicated block rows without this (the candidate join dedups
    (brid, rid) pairs), so compaction here is a space/probe-cost repair
    plus the id-universe fix: a replayed id-append would double-count
    records in :func:`entity_store_assignment` joins. One distinct per
    artifact, proportional to the store, never re-matching the corpus;
    the entity assignment itself is folded state and carries over
    unchanged."""
    root = path.rstrip("/")
    cur = storectl.open_store(root, ER_STORE, {"n_buckets": n_buckets})
    blocks = (
        spark.read.parquet(cur.path("blocks"))
        .dropDuplicates(["blk", "rid"])
        .localCheckpoint(eager=True)
    )
    ids = spark.read.parquet(cur.path("ids")).distinct().localCheckpoint(
        eager=True
    )
    nonroot = (
        spark.read.parquet(cur.path("entities"))
        .dropDuplicates(["rec_id"])
        .localCheckpoint(eager=True)
    )
    with storectl.rebuild(root, ER_STORE, build_key=build_key, base=cur) as b:
        b.add("blocks", blocks)
        b.add("ids", ids)
        b.add("entities", nonroot)
    ER_STORE.register(spark, table, b.version)


def entity_store_assignment(
    spark, path: str
) -> DataFrame:
    """The store's CURRENT full (rec_id, entity_id) assignment — id
    universe left-joined with the non-root rows (a record absent from
    ``entities`` is its own entity)."""
    ver = storectl.open_store(path.rstrip("/"), ER_STORE)
    ids = spark.read.parquet(ver.path("ids"))
    nonroot = spark.read.parquet(ver.path("entities"))
    return ids.join(nonroot, "rec_id", "left").select(
        "rec_id",
        F.coalesce("entity_id", "rec_id").cast("long").alias("entity_id"),
    )
