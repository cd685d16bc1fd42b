"""Structured Streaming twins of the six continuous aggregations (P7-P12)
plus windowed/watermarked extensions beyond the reference surface.

Reference semantics (``ScipiStream.java:127-207``, SURVEY §1.4): unwindowed
per-key running aggregates whose every update upserts into a keyed store —
convergent totals, no watermarks, no event time. The Spark mapping is a
stateless ``foreachBatch`` query: each micro-batch runs the batch twin from
``operators.analytics`` and folds it into the stored table by summing the
additive base columns per key (all six tables are sums or counts), then
deriving the ratio columns again. The batch twins are the golden answers
the stream must converge to (equivalence-tested in tests/test_streaming.py).

Kafka note: the source here is a file/JSONL stream (the test harness has no
brokers); swapping ``readStream.text`` for
``readStream.format("kafka").option("subscribe", topic)`` + the same
``value``-column parse is the only change needed in production — parsing,
validation, aggregation, and sinks are source-agnostic (S1/S2 in SURVEY
§2.1).

Scale: the running totals live only in the result table, which is bounded
by its distinct keys (keywords, years, team sizes), so no query keeps a
state store. Each fold reads that table once and writes it once; the
micro-batch itself is aggregated map-side before its one shuffle.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scipi_spark import ingest
from scipi_spark.operators import analytics
from scipi_spark.sources import storectl

#: name -> batch-twin aggregation: run on each micro-batch by the upsert
#: sink, and as a streaming aggregation by the complete-mode memory sink
STREAMING_AGGREGATIONS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "keyword_count": analytics.keyword_count,
    "fos_count": analytics.fos_count,
    "yrwise_dist": analytics.yrwise_dist,
    "authorship_pattern": analytics.authorship_pattern,
    "avg_authors_per_paper": analytics.avg_authors_per_paper,
    "hyper_authorship": analytics.hyper_authorship,
}

#: primary key of each result table (SURVEY §1.2, Cassandra DDL)
AGGREGATION_KEYS: dict[str, list[str]] = {
    "keyword_count": ["keyword_name"],
    "fos_count": ["field_study_name"],
    "yrwise_dist": ["year"],
    "authorship_pattern": ["author_unit"],
    "avg_authors_per_paper": ["year"],
    "hyper_authorship": ["hyper_authorship_year"],
}

#: additive base columns of each table, which the fold sums per key, and
#: the analytics finisher that derives the remaining columns from them
AGGREGATION_BASE: dict[
    str, tuple[list[str], Callable[[DataFrame], DataFrame] | None]
] = {
    "keyword_count": (["keyword_count"], None),
    "fos_count": (["field_study_count"], None),
    "yrwise_dist": (["single", "joint"], analytics.yrwise_derived),
    "authorship_pattern": (["no_articles"], analytics.authorship_pattern_derived),
    "avg_authors_per_paper": (
        ["no_articles", "no_authors"],
        analytics.avg_authors_derived,
    ),
    "hyper_authorship": (["hyper_authorship_count"], None),
}

#: file inside a result table holding the id of the last batch folded in;
#: ``_``-prefixed, so Spark, pyarrow and ``*.parquet`` globs skip it
BATCH_MARKER = "_committed_batch"


def _ingest_for(source: str) -> Callable[[DataFrame], DataFrame]:
    """The ingest path of a stream source. An unknown name raises
    ``ValueError`` here, before any stream is built."""
    if source == "oag":
        return ingest.ingest_oag
    if source == "dblp":
        return ingest.ingest_dblp
    raise ValueError(f"unknown source {source!r}")


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    source: str = "oag",
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1/S2: the production source — Kafka topic -> validated Publication
    stream. Identical pipeline to the file shim from the value column on;
    requires the spark-sql-kafka connector package on the classpath (not
    present in the test container, which is why tests use the file shim)."""
    ingest_source = _ingest_for(source)
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
    )
    return ingest_source(raw)


def read_publications_stream(
    spark: SparkSession,
    path: str,
    source: str = "oag",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """JSONL file stream -> validated Publication stream (P1/P2 + P5).

    ``max_files_per_trigger=1`` replays one file per micro-batch, so a
    directory of chunked fixtures simulates arrival order."""
    ingest_source = _ingest_for(source)
    raw = (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )
    return ingest_source(raw)


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------

def _table_siblings(path: str) -> tuple[str, str]:
    """The staging and previous-version directories beside a result table."""
    parent, name = os.path.split(path)
    return (
        os.path.join(parent, f"_{name}.staging"),
        os.path.join(parent, f"_{name}.previous"),
    )


def _recover_table(path: str) -> None:
    """Finish or undo a swap a crashed writer left half done: a table
    caught between its two renames gets its previous version back, and
    any leftover staging or previous directory is removed."""
    staging, previous = _table_siblings(path)
    if os.path.exists(previous):
        if os.path.exists(path):
            shutil.rmtree(previous)
        else:
            os.rename(previous, path)
    shutil.rmtree(staging, ignore_errors=True)


def _committed_batch(path: str) -> int:
    """Id of the last batch folded into the table at ``path``, -1 if none."""
    try:
        with open(os.path.join(path, BATCH_MARKER), encoding="utf-8") as fh:
            return int(fh.read())
    except FileNotFoundError:
        return -1


def _swap_in(staging: str, path: str) -> None:
    """Replace the table at ``path`` with the complete one in ``staging``."""
    _, previous = _table_siblings(path)
    if os.path.exists(path):
        os.rename(path, previous)
    os.rename(staging, path)
    shutil.rmtree(previous, ignore_errors=True)


def _fold(
    spark: SparkSession, which: str, batch_agg: DataFrame, path: str
) -> DataFrame:
    """The stored table plus one micro-batch's partial table: base columns
    summed per key, derived columns computed again."""
    if not os.path.exists(path):
        return batch_agg
    keys, (base, derive) = AGGREGATION_KEYS[which], AGGREGATION_BASE[which]
    batch_base = batch_agg.select(*keys, *base)
    merged = (
        spark.read.schema(batch_base.schema)
        .parquet(path)
        .unionByName(batch_base)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in base])
    )
    return derive(merged) if derive else merged


def run_aggregation_upsert(
    spark: SparkSession,
    pubs_stream: DataFrame,
    which: str,
    out_path: str,
    checkpoint_path: str,
    **agg_kwargs,
):
    """P7-P12 streaming pipeline with the keyed upsert sink (S6). Returns
    the StreamingQuery (caller awaits/stops).

    The query keeps no state store. Each micro-batch runs the batch twin
    ``STREAMING_AGGREGATIONS[which]`` and folds it into the table at
    ``out_path``, which holds the running totals: one Spark job reads the
    table, merges the batch and writes the result as one parquet file into
    a staging directory beside it. The staging directory gets a
    ``_committed_batch`` marker with the batch id, and two renames swap it
    in for the live table.

    Replay contract (``foreachBatch`` is at-least-once): a batch whose id is
    at or below the live table's marker is already folded in and does
    nothing, so a batch replayed after a crash between the swap and the
    checkpoint commit is counted once. A crash before the swap leaves only
    a staging directory, and a crash between the two renames leaves the
    previous table beside the staging one; the next fold restores the last
    complete table and folds the replayed batch again. One query writes
    each ``out_path``. A reader may find no table while the two renames run,
    but it never sees a partial one."""
    aggregate = STREAMING_AGGREGATIONS[which]
    live = out_path.rstrip("/")
    staging, _ = _table_siblings(live)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _recover_table(live)
        if batch_id <= _committed_batch(live):
            return
        batch_agg = aggregate(batch_df, **agg_kwargs)
        _fold(spark, which, batch_agg, live).coalesce(1).write.parquet(staging)
        with open(os.path.join(staging, BATCH_MARKER), "w", encoding="utf-8") as fh:
            fh.write(f"{batch_id}\n")
        _swap_in(staging, live)

    return (
        pubs_stream.writeStream.option("checkpointLocation", checkpoint_path)
        .foreachBatch(sink)
        .start()
    )


def _start_store_fold(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    body: Callable[..., None],
):
    """Start the ``foreachBatch`` query of a store-backed sink and return
    it (caller awaits/stops). ``foreachBatch``, not a stream-stream join,
    because the corpus is a mutable external index: a stream-stream join
    would buffer it in the state store without bound.

    ``body(batch_df, stamp, emit)`` runs on each non-empty micro-batch,
    locally checkpointed so its probe and its fold read it once. It
    passes ``stamp`` as the ``fold`` argument of its store's append
    (``storectl.append``) and hands its result to ``emit``, which overwrites
    ``<out_path>/batch_id=N``, in the order its family needs.

    Replay contract (``foreachBatch`` is at-least-once): ``stamp`` is
    ``(checkpoint_path, batch_id)``, and the append (``storectl.append``)
    records it in the same ``CURRENT`` flip that makes the folded rows
    live. A batch replayed after that flip finds its record
    (``storectl.folded_batch``) and gets ``stamp=None``, so it only
    probes; a batch replayed before it folds into the unchanged store.
    Each query keeps its checkpoint path across restarts and no two
    queries share one, so queries sharing a store each fold all their
    own batches."""
    root = store_path.rstrip("/")
    out = out_path.rstrip("/")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch_df = batch_df.localCheckpoint(eager=True)
        folded = storectl.folded_batch(root, checkpoint_path) >= batch_id

        def emit(result: DataFrame) -> None:
            result.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

        body(batch_df, None if folded else (checkpoint_path, batch_id), emit)

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(sink)
        .start()
    )


def run_streaming_dedup_against_store(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    table: str = "minhash_store_bands",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    num_perm: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
    n_buckets: int | None = None,
):
    """Continuous near-dup detection against a persisted corpus: each
    micro-batch (1) probes the bucketed signature store for its near-dup
    pairs — batch-vs-corpus plus batch-vs-batch, corpus side
    shuffle-free — (2) writes the pairs to the parquet sink, and (3)
    folds its own signatures into the store, so every later batch sees
    it as corpus. This is the always-on production shape of dedup: the
    expensive corpus state is an external bucketed index maintained
    incrementally, never recomputed. The batch's shingle/minhash/band
    state is computed ONCE
    (:func:`~scipi_spark.operators.dedup.batch_lsh_state`) and shared by
    the probe and the append. Replay contract: :func:`_start_store_fold`."""
    from scipi_spark.operators import dedup as dedup_ops

    names = dict(table=table, id_col=id_col, text_col=text_col)

    def body(batch_df: DataFrame, stamp, emit) -> None:
        # the batch state is banded under the live version's recipe; the
        # probe is held to it explicitly, and the append checks it again
        # against the version it clones under its lock
        recipe = storectl.open_store(
            store_path.rstrip("/"), dedup_ops.SIG_STORE,
            {"k": k, "num_perm": num_perm, "bands": bands,
             "n_buckets": n_buckets},
        ).params
        sizes, postings, band_rows = dedup_ops.batch_lsh_state(
            batch_df, id_col, text_col,
            recipe["k"], recipe["num_perm"], recipe["bands"],
        )
        # the band rows are read by the probe and again by the append
        state = (sizes, postings, band_rows.localCheckpoint(eager=True))
        emit(
            dedup_ops.minhash_lsh_increment_from_store(
                batch_df.sparkSession, store_path, batch_df,
                k=recipe["k"], num_perm=recipe["num_perm"],
                bands=recipe["bands"], threshold=threshold,
                batch_state=state, **names,
            )
        )
        if stamp:
            dedup_ops.append_signature_store(
                batch_df, store_path, n_buckets=n_buckets,
                batch_state=(recipe, state), fold=stamp, **names,
            )

    return _start_store_fold(stream, store_path, out_path, checkpoint_path, body)


def run_streaming_ann_against_store(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    table: str = "ann_store_sigs",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int | None = None,
    tables: int | None = None,
    dim: int | None = None,
    seed: int | None = None,
    n_buckets: int | None = None,
    fold: bool = True,
):
    """Continuous similarity search against a persisted vector index:
    each micro-batch of embeddings (1) probes the bucketed ANN store for
    its top-k neighbors — corpus side shuffle-free, per-batch work
    O(|batch| x bucket occupancy) — (2) writes the hits to the parquet
    sink, and (3) optionally folds its own vectors into the store so
    every later batch can retrieve it (``fold=True`` is the
    index-ingestion shape; ``fold=False`` is pure query serving).
    Replay contract: :func:`_start_store_fold`.

    The hash recipe defaults to None and self-configures from the
    store's version marker (round-10: concrete defaults would raise
    against any auto-sized store); explicitly mismatched values fail
    loudly through ``storectl.resolve_params``."""
    from scipi_spark.operators import similarity as sim_ops

    recipe = dict(
        table=table, id_col=id_col, vec_col=vec_col,
        bits=bits, tables=tables, dim=dim, seed=seed,
    )

    def body(batch_df: DataFrame, stamp, emit) -> None:
        emit(sim_ops.knn_from_store(batch_df, k=k, path=store_path, **recipe))
        if fold and stamp:
            sim_ops.append_ann_store(
                batch_df, store_path, n_buckets=n_buckets, fold=stamp, **recipe
            )

    return _start_store_fold(stream, store_path, out_path, checkpoint_path, body)


def run_streaming_er_against_store(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    table: str = "er_store_blocks",
    id_col: str = "rec_id",
    name_col: str = "name",
    threshold: float | None = None,
    block_cap: int | None = None,
    two_keys: int | None = None,
    n_buckets: int | None = None,
):
    """Continuous entity resolution against a persisted entity store:
    each micro-batch of records (1) resolves against the bucketed block
    table — corpus side shuffle-free, closure over the batch's match
    graph only — (2) writes ITS OWN records' entity assignments to the
    parquet sink, and (3) folds the batch into the store (block rows
    append, the small non-root entity table rewrites, cross-entity
    merges included), so every later batch resolves against it. The
    converged store assignment equals the one-shot closure over
    corpus + all batches (pytest- and gate-pinned).

    Replay contract: :func:`_start_store_fold`; batch ids double as
    closure node ids, so a replayed batch only probes. The matching
    recipe self-configures from the store's version marker; explicit
    mismatches raise (``storectl.resolve_params``)."""
    from scipi_spark.operators import linkage as linkage_ops

    kwargs = dict(
        table=table,
        id_col=id_col,
        name_col=name_col,
        threshold=threshold,
        block_cap=block_cap,
        two_keys=two_keys,
        n_buckets=n_buckets,
    )

    def body(batch_df: DataFrame, stamp, emit) -> None:
        if stamp:
            # fold + probe in one pass (append returns the folded
            # assignment, so the batch is blocked/scored exactly once)
            assignment = linkage_ops.append_entity_store(
                batch_df, store_path, fold=stamp, **kwargs
            )
        else:
            # replay of an already-folded batch: probe only — a second
            # fold would alias the batch's node ids in the closure
            assignment = linkage_ops.er_increment_from_store(
                batch_df.sparkSession, store_path, batch_df, **kwargs
            )
        batch_ids = batch_df.select(
            F.col(id_col).cast("long").alias("rec_id")
        )
        emit(assignment.join(batch_ids, "rec_id"))

    return _start_store_fold(stream, store_path, out_path, checkpoint_path, body)


def run_streaming_text_index_fold(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    query_terms: list[str],
    table: str = "text_index_postings",
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 10,
    n_buckets: int | None = None,
):
    """Continuous search indexing against the persisted BM25 store —
    the last streaming x store cross (dedup/ANN/ER/SCD2 already fold):
    each micro-batch of documents (1) FOLDS into the index
    (``textops.append_text_index_store`` — postings append under the
    same bucket spec, stats recomputed exactly), then (2) serves a
    fixed query against the just-published index and writes the top-k
    to the parquet sink, so the sink's per-batch partitions show the
    ranking evolve as the corpus grows and the final batch's result
    equals a from-scratch index over everything ingested
    (equivalence gate-pinned). Replay contract:
    :func:`_start_store_fold`."""
    from scipi_spark.operators import textops as textops_ops

    def body(batch_df: DataFrame, stamp, emit) -> None:
        if stamp:
            textops_ops.append_text_index_store(
                batch_df,
                store_path,
                table=table,
                id_col=id_col,
                text_col=text_col,
                n_buckets=n_buckets,
                fold=stamp,
            )
        emit(
            textops_ops.bm25_from_store(
                batch_df.sparkSession,
                store_path,
                query_terms,
                table=table,
                topk=topk,
                id_col=id_col,
                n_buckets=n_buckets,
            )
        )

    return _start_store_fold(stream, store_path, out_path, checkpoint_path, body)


def run_streaming_graph_store_fold(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    table: str = "graph_edges_mirrored",
    n_buckets: int | None = None,
    hash_fn=None,
):
    """Continuous graph maintenance against the persisted edge store —
    the graph member of the streaming x store family (dedup/ANN/ER/
    BM25/SCD2 all fold): each micro-batch of PUBLICATIONS (1) extracts
    its heterogeneous edges, aggregates them to the mirrored partial
    relation, and FOLDS it into the bucketed store
    (``community.append_graph_store`` — O(batch) appended delta rows,
    merged on read), then (2) writes the folded graph's 1-row summary
    (distinct directed pairs, total edge weight) to the parquet sink,
    so the sink's per-batch partitions show the graph grow and the
    converged store's LPA labels equal a from-scratch build over
    corpus + all batches (gate-pinned). This replaces the reference's
    re-scan-Cassandra-every-run batch shape
    (``ScipiBatchCommunity.java:122-133``) with an incremental one.

    Replay contract: :func:`_start_store_fold`. ``hash_fn`` must match
    the base build's vertex hash (default xxhash64, the hash
    ``community.aggregate_undirected`` gives name endpoints)."""
    from scipi_spark.operators import community as community_ops

    def body(batch_df: DataFrame, stamp, emit) -> None:
        spark = batch_df.sparkSession
        if stamp:
            rel = community_ops.aggregate_undirected(
                community_ops.extract_edges(
                    batch_df, hash_fn=hash_fn or F.xxhash64
                )
            )
            community_ops.append_graph_store(
                None,
                store_path,
                table=table,
                mirrored=rel,
                n_buckets=n_buckets,
                fold=stamp,
            )
        # the live version, registered here: a replay of an already-folded
        # batch may run in a FRESH session where no append registered it
        emit(
            community_ops._open_graph_store(
                spark, store_path, table, n_buckets
            ).agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.sum("w_sum").alias("total_weight"),
            )
        )

    return _start_store_fold(stream, store_path, out_path, checkpoint_path, body)


def run_streaming_scd2_fold(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_path: str,
    key: str,
    attrs: list[str],
):
    """Continuous type-2 dimension maintenance against the persisted
    dimension store (``store.SCD2_STORE``): each micro-batch of
    timestamped attribute updates (1) FOLDS into the dimension —
    ``store.scd2_apply`` over the cloned version, which replaces its
    ``dim`` artifact in the version ``storectl.append`` publishes — then
    (2) writes the current rows of the keys it touched to the parquet
    sink. Timestamp-ordered batches fold associatively, so the converged
    dimension equals one ``scd2_apply`` over every update.

    Replay contract: :func:`_start_store_fold`. A second fold of a batch
    is not a no-op (an update that closed a row closes its copy again,
    leaving the closed row twice), so a replayed batch only probes."""
    from scipi_spark.sources.store import (
        SCD2_STORE,
        read_scd2_store,
        scd2_apply,
    )

    root = store_path.rstrip("/")

    def body(batch_df: DataFrame, stamp, emit) -> None:
        spark = batch_df.sparkSession
        if stamp:
            with storectl.append(root, SCD2_STORE, fold=stamp) as build:
                dim = spark.read.parquet(build.base.path("dim"))
                build.replace("dim", scd2_apply(dim, batch_df, key, attrs))
        touched = batch_df.select(key).distinct()
        emit(read_scd2_store(spark, root).filter("is_current").join(touched, key))

    return _start_store_fold(stream, store_path, out_path, checkpoint_path, body)


def run_aggregation_to_memory(
    spark: SparkSession, pubs_stream: DataFrame, which: str, name: str, **agg_kwargs
):
    """Complete-mode memory sink — the test/inspection path."""
    agg = STREAMING_AGGREGATIONS[which](pubs_stream, **agg_kwargs)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival per key, emitting it
    immediately (append mode), with dedup state bounded by the watermark —
    ``dropDuplicatesWithinWatermark``, the production shape for keyed
    dedup over unbounded streams (plain ``dropDuplicates`` would grow
    state forever). State lives in the executor StateStore hash-
    partitioned by key, exactly like a streaming aggregation; the batch
    twin is ``distinct`` over the same key."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


# ---------------------------------------------------------------------------
# windowed/watermarked extensions (north-star; reference has none)
# ---------------------------------------------------------------------------

def tumbling_window_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Per (tumbling window, event_type): count + sum(value), tolerating
    late data up to the watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window variant (each event lands in window/slide buckets)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def stateful_user_stats(
    events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum, min_ts, max_ts) maintained in explicit GroupState
    — the escape hatch for aggregations Spark's built-ins can't express
    (the reference's analog is Flink's keyed ``reduce`` with rich state,
    ``ScipiStream.java:146-207``).

    Emits one updated row per user per micro-batch (update semantics).
    State is partitioned by the group key in the executor StateStore, so
    it scales exactly like a streaming groupBy. The batch twin — what the
    converged output must equal — is ``events.groupBy(user_id).agg(count,
    sum, min(ts), max(ts))`` (equivalence-tested in test_streaming.py)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, sum_value double, "
        "first_ts timestamp, last_ts timestamp"
    )
    state_schema = "n long, s double, mn timestamp, mx timestamp"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s, mn, mx = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            lo, hi = pdf[ts_col].min(), pdf[ts_col].max()
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        state.update((n, s, mn, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "first_ts": [mn],
                "last_ts": [mx],
            }
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity (dynamic-length windows — state merges as events arrive)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    bound: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound: pair
    each left event with right events of the same key arriving within
    ``[left.ts, left.ts + bound]`` (click-after-view attribution).

    Both sides carry watermarks and the join condition bounds BOTH
    event times, so Spark can size the join state and evict expired
    rows — without the bound, stream-stream join state grows forever.
    State is hash-partitioned by the join key in the StateStore, i.e.
    both streams co-partition on ``key`` exactly like a streaming
    aggregation; at 100 TB/day the bound (not the corpus) sizes memory.

    Works identically on batch frames (the theta join becomes a key
    equi-join + range filter), which is what the oracle entry runs."""
    l = left.withWatermark(ts_col, watermark).select(
        F.col(key).alias("l_key"),
        F.col(ts_col).alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(key).alias("r_key"),
        F.col(ts_col).alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + interval {bound}"
        ),
        "inner",
    ).select(
        F.col("l_key").alias(key),
        F.col("l_event_id").alias("view_id"),
        F.col("r_event_id").alias("click_id"),
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).alias(
            "lag_seconds"
        ),
    )


def media_decode_rollup(media_stream: DataFrame) -> DataFrame:
    """Streaming multimodal ingest: decode every arriving media payload
    with the REAL zero-dependency kernels (``multimodal.media_stats``
    is a stateless Arrow ``mapInPandas`` stage, so it composes with
    micro-batched execution unchanged) and maintain per-format running
    aggregates of the DECODED values — the "decode as data lands"
    pipeline a multimodal training corpus runs on arrival, with the
    decode on executors and only per-format counters as state.

    All aggregate columns are exact integers (counts and sums of
    decoded integer statistics), so the converged complete-mode table
    matches a batch SQL replay bit-for-bit. State is one row per
    format; the decode itself holds NO state — at 100 TB/day the
    memory bound is the format cardinality, not the corpus."""
    from scipi_spark.operators.multimodal import media_stats

    stats = media_stats(media_stream)
    return stats.groupBy("fmt").agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum("n").cast("long").alias("sum_vals"),
        F.sum("d1").cast("long").alias("sum_d1"),
        F.sum("peak").cast("long").alias("sum_peak"),
    )
