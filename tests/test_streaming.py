"""Streaming equivalence tests (SURVEY §5d): P7-P12 run as Structured
Streaming over a replayed chunked fixture must converge to the batch
groupBy answers; windowed extensions match their batch twins."""

from __future__ import annotations

import glob
import json
import os
import random
import time

import pytest
from pyspark.sql import functions as F

from scipi_spark import ingest
from scipi_spark.operators import analytics
from scipi_spark.sources import storectl
from scipi_spark.streaming import (
    STREAMING_AGGREGATIONS,
    pipelines,
    read_publications_stream,
    run_aggregation_to_memory,
    run_aggregation_upsert,
    tumbling_window_counts,
)


def _fixture_records(n=60, seed=11):
    rng = random.Random(seed)
    kws = ["graph", "mining", "spark", "streams", "db"]
    recs = []
    for i in range(n):
        n_auth = rng.choice([1, 1, 2, 3, 4])
        recs.append(
            {
                "doi": f"10.{i}",
                "title": f"paper {i}",
                "publisher": "acm" if rng.random() < 0.7 else None,
                "venue": "kdd",
                "lang": "en",
                "year": str(rng.choice([2001, 2002, 2003])),
                "keywords": rng.sample(kws, rng.randint(1, 3)),
                "authors": [{"name": f"author {j}"} for j in range(n_auth)],
                "fos": ["cs"],
            }
        )
    return recs


@pytest.fixture()
def fixture_dir(tmp_path):
    recs = _fixture_records()
    # 4 chunk files -> 4 micro-batches
    for c in range(4):
        chunk = recs[c * 15 : (c + 1) * 15]
        (tmp_path / f"chunk{c}.jsonl").write_text(
            "\n".join(json.dumps(r) for r in chunk) + "\n"
        )
    return str(tmp_path)


def _batch_pubs(spark, fixture_dir):
    raw = spark.read.text(fixture_dir)
    return ingest.ingest_oag(raw)


@pytest.mark.parametrize("which", ["keyword_count", "yrwise_dist", "authorship_pattern"])
def test_stream_converges_to_batch(spark, fixture_dir, which, tmp_path):
    stream = read_publications_stream(spark, fixture_dir, max_files_per_trigger=1)
    q = run_aggregation_to_memory(spark, stream, which, f"mem_{which}")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table(f"mem_{which}").collect()))
    want = sorted(
        map(
            tuple,
            STREAMING_AGGREGATIONS[which](_batch_pubs(spark, fixture_dir)).collect(),
        )
    )
    assert got == want


#: per-aggregation arguments: P12's default threshold of 100 authors
#: would leave the fixture's table empty
UPSERT_KWARGS = {"hyper_authorship": {"threshold": 2}}


def _run_upsert(spark, src, which, out, ckpt):
    stream = read_publications_stream(spark, src, max_files_per_trigger=1)
    q = run_aggregation_upsert(
        spark, stream, which, out, ckpt, **UPSERT_KWARGS.get(which, {})
    )
    try:
        q.processAllAvailable()
        return q.lastProgress
    finally:
        q.stop()


def _batch_answer(spark, src, which):
    pubs = _batch_pubs(spark, src)
    return STREAMING_AGGREGATIONS[which](pubs, **UPSERT_KWARGS.get(which, {}))


@pytest.mark.parametrize("which", list(STREAMING_AGGREGATIONS))
def test_stream_upsert_sink_converges(spark, fixture_dir, tmp_path, which):
    """Each of the fixture's 4 micro-batches after the first folds into an
    existing table; the converged table is the batch answer, with the
    batch twin's schema, and the query keeps no state store."""
    out = str(tmp_path / "table")
    progress = _run_upsert(spark, fixture_dir, which, out, str(tmp_path / "ckpt"))
    assert progress["stateOperators"] == []
    assert pipelines._committed_batch(out) == 3
    got = spark.read.parquet(out)
    want = _batch_answer(spark, fixture_dir, which)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert len([n for n in os.listdir(out) if n.endswith(".parquet")]) == 1
    rows = sorted(map(tuple, got.collect()))
    assert rows and rows == sorted(map(tuple, want.collect()))


FAULTS = ["after_staging_write", "between_renames", "after_swap"]


@pytest.mark.parametrize("fault", FAULTS)
def test_upsert_fold_exactly_once_across_crash(
    spark, fixture_dir, tmp_path, monkeypatch, fault
):
    """Crash the third fold (batch 2, merging into the table of batches 0
    and 1) at one point of its commit, then restart from the same
    checkpoint, which replays batch 2:

    - after_staging_write: the merged table is staged, the live table is
      untouched, and the replay folds the batch again;
    - between_renames: the live table was moved aside and the staged one
      not yet moved in, so the replay first restores the previous table;
    - after_swap: the table holds batch 2 but the checkpoint never
      committed it, so the replay finds its id in the marker and skips.

    Every count must come out exactly once, and no staging or previous
    directory may outlive the next successful fold."""
    which = "yrwise_dist"
    out, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    staging, previous = pipelines._table_siblings(out)
    calls = []

    def crash():
        raise RuntimeError("injected fault")

    if fault == "between_renames":
        rename = os.rename

        def faulty_rename(src, dst):
            if src == staging:
                calls.append(src)
                if len(calls) == 3:
                    crash()
            rename(src, dst)

        monkeypatch.setattr(os, "rename", faulty_rename)
    else:
        swap_in = pipelines._swap_in

        def faulty_swap_in(src, dst):
            calls.append(src)
            if len(calls) == 3 and fault == "after_staging_write":
                crash()
            swap_in(src, dst)
            if len(calls) == 3 and fault == "after_swap":
                crash()

        monkeypatch.setattr(pipelines, "_swap_in", faulty_swap_in)

    with pytest.raises(Exception, match="injected fault"):
        _run_upsert(spark, fixture_dir, which, out, ckpt)
    commits = {n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}
    assert commits == {"0", "1"}
    if fault == "after_staging_write":
        assert os.path.exists(staging) and pipelines._committed_batch(out) == 1
    elif fault == "between_renames":
        assert os.path.exists(staging) and os.path.exists(previous)
        assert not os.path.exists(out)
    else:
        assert pipelines._committed_batch(out) == 2

    _run_upsert(spark, fixture_dir, which, out, ckpt)
    commits = {n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}
    assert commits == {"0", "1", "2", "3"}
    assert pipelines._committed_batch(out) == 3
    assert not os.path.exists(staging) and not os.path.exists(previous)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, _batch_answer(spark, fixture_dir, which).collect()))
    assert got == want


def test_checkpoint_restart_resumes_without_reprocessing(spark, tmp_path):
    """Crash-recovery proof for the upsert pipeline: run to completion on
    the first chunk, STOP the query, deliver more input while it is down,
    then restart from the SAME checkpoint. The restarted query must (a)
    resume at the next batch id — the commit log shows batch 0 committed
    before the restart and batch 1 only after, so the first file is never
    re-read — and (b) converge to the full-corpus batch answer, which
    requires batch 1 to fold into the running totals of batch 0 that the
    stored table holds (the query keeps no state store)."""
    import os

    recs = _fixture_records()
    src = tmp_path / "src"
    src.mkdir()
    (src / "chunk0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in recs[:30]) + "\n"
    )
    out = str(tmp_path / "kw_table")
    ckpt = str(tmp_path / "ckpt")

    stream = read_publications_stream(spark, str(src), max_files_per_trigger=1)
    q = run_aggregation_upsert(spark, stream, "keyword_count", out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    commits = {n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}
    assert commits == {"0"}

    # input arrives while the query is down; restart from the checkpoint
    (src / "chunk1.jsonl").write_text(
        "\n".join(json.dumps(r) for r in recs[30:]) + "\n"
    )
    stream2 = read_publications_stream(spark, str(src), max_files_per_trigger=1)
    q2 = run_aggregation_upsert(spark, stream2, "keyword_count", out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    commits = {n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}
    assert commits == {"0", "1"}

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            analytics.keyword_count(_batch_pubs(spark, str(src))).collect(),
        )
    )
    assert got == want


def test_watermark_finalizes_windows_once_and_drops_post_eviction_data(
    spark, tmp_path
):
    """Late-data handling (SURVEY §2.7: absent in the reference, required
    of the rebuild) — Spark's ACTUAL watermark contract, verified
    empirically: a beyond-watermark row still aggregates while its
    window's state LIVES (the guarantee is one-directional — within-
    watermark data is never dropped), so the hard guarantees to pin are
    (a) append mode emits each window EXACTLY ONCE, when the watermark
    passes its end, and (b) a row arriving after its window was
    finalized and evicted is dropped — it cannot resurrect the window or
    emit a duplicate. Batch 0 fills the 00:00 window; batch 1 (09:00)
    advances the watermark to 08:30, finalizing+evicting it; batch 2's
    00:20 straggler must vanish."""
    rows_by_batch = [
        [
            (1, "2024-01-01 00:10:00", 7, "click", 1.0),
            (2, "2024-01-01 00:40:00", 8, "click", 1.0),
            (3, "2024-01-01 05:00:00", 7, "click", 1.0),
        ],
        [(4, "2024-01-01 09:00:00", 8, "click", 1.0)],
        [(5, "2024-01-01 00:20:00", 9, "click", 1.0)],  # post-eviction
    ]
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double"
    )
    src = str(tmp_path / "events")
    import glob as _glob
    import os as _os
    import time as _time

    # FileStreamSource with maxFilesPerTrigger=1 replays files oldest-mtime
    # first; three back-to-back writes can tie on filesystem mtime
    # granularity and reorder the micro-batches (changing watermark
    # advancement and flaking the exact-emission assert), so each batch's
    # files get an explicit, strictly increasing mtime (round-6 advice).
    base = _time.time()
    stamped: set[str] = set()
    for i, rows in enumerate(rows_by_batch):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )
        df.coalesce(1).write.mode("append" if i else "overwrite").parquet(src)
        for f in _glob.glob(_os.path.join(src, "part-*.parquet")):
            if f not in stamped:
                _os.utime(f, (base + 10 * i, base + 10 * i))
                stamped.add(f)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        tumbling_window_counts(stream, window="1 hour", watermark="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mem_late")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = [
        ((str(r["window_start"]), r["event_type"]), r["n_events"])
        for r in spark.table("mem_late").collect()
    ]
    # each finalized window appears EXACTLY once (no duplicate emission,
    # no resurrection by the post-eviction straggler), with the counts it
    # had at finalization; the 09:00 window never finalizes (watermark
    # stalls at 08:30 once input ends)
    assert sorted(emitted) == [
        (("2024-01-01 00:00:00", "click"), 2),
        (("2024-01-01 05:00:00", "click"), 1),
    ], emitted


def test_stateful_user_stats_converges_to_batch(spark, tmp_path):
    from scipi_spark.streaming.pipelines import stateful_user_stats

    rows = [
        (1, "2024-01-01 00:05:00", 7, "click", 1.5),
        (2, "2024-01-01 00:10:00", 7, "view", 2.0),
        (3, "2024-01-01 00:20:00", 8, "click", 3.0),
        (4, "2024-01-01 01:00:00", 7, "click", 4.0),
        (5, "2024-01-01 01:30:00", 8, "view", 0.5),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "events")
    # two files -> two micro-batches, so state must carry across batches
    df.filter(F.col("event_id") <= 3).coalesce(1).write.parquet(src)
    df.filter(F.col("event_id") > 3).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mem_stateful")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode appends a row per (user, batch); the LAST row per user is
    # the converged state
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["first_ts"], r["last_ts"])
        for r in spark.table("mem_stateful").orderBy("n_events").collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["first_ts"], r["last_ts"])
        for r in df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert got == want


def test_tumbling_window_stream_matches_batch(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:05:00", "click", 1.0),
        (2, "2024-01-01 00:55:00", "click", 2.0),
        (3, "2024-01-01 01:05:00", "view", 3.0),
        (4, "2024-01-01 01:45:00", "click", 4.0),
        (5, "2024-01-01 02:01:00", "view", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "events")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    batch = sorted(map(tuple, tumbling_window_counts(df).collect()))

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        tumbling_window_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("mem_tumbling")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("mem_tumbling").collect()))
    assert got == batch
    # sanity: hour buckets
    assert {t[2:] for t in got} == {("click", 2, 3.0), ("view", 1, 3.0),
                                    ("click", 1, 4.0), ("view", 1, 5.0)}


def test_interval_join_stream_matches_batch(spark, tmp_path):
    from scipi_spark.streaming.pipelines import interval_join_streams

    views = [
        (1, "2024-01-01 00:00:00", 10),
        (2, "2024-01-01 00:30:00", 10),
        (3, "2024-01-01 00:00:00", 20),
    ]
    clicks = [
        (101, "2024-01-01 00:10:00", 10),  # within 15m of view 1
        (102, "2024-01-01 00:40:00", 10),  # within 15m of view 2 only
        (103, "2024-01-01 02:00:00", 10),  # beyond every bound
        (104, "2024-01-01 00:05:00", 30),  # no matching view user
    ]

    def _df(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts string, user_id long"
        ).withColumn("ts", F.to_timestamp("ts"))

    vdf, cdf = _df(views), _df(clicks)
    vsrc, csrc = str(tmp_path / "views"), str(tmp_path / "clicks")
    vdf.coalesce(1).write.mode("overwrite").parquet(vsrc)
    cdf.coalesce(1).write.mode("overwrite").parquet(csrc)

    batch = sorted(map(tuple, interval_join_streams(vdf, cdf).collect()))
    assert batch == [(10, 1, 101, 600), (10, 2, 102, 600)]

    vstream = spark.readStream.schema(vdf.schema).parquet(vsrc)
    cstream = spark.readStream.schema(cdf.schema).parquet(csrc)
    q = (
        interval_join_streams(vstream, cstream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mem_interval_join")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("mem_interval_join").collect()))
    assert got == batch


class _StoreCase:
    """One store-backed streaming sink over a two-file parquet source (two
    micro-batches): ``start(stream, out, ckpt)`` starts its query,
    ``check(out)`` asserts the converged answer, and ``assert_unique(ver)``
    asserts that the store version ``ver`` holds no duplicated id."""

    def __init__(self, spark, store, src, start, check, assert_unique, tables):
        self.spark, self.store, self.src = spark, store, src
        self.start, self.check, self.assert_unique = start, check, assert_unique
        self.tables = tables

    def run(self, out, ckpt, src=None):
        src = src or self.src
        stream = (
            self.spark.readStream.schema(self.spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = self.start(stream, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def drop_tables(self):
        for t in self.tables:
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")


def _write_batches(src, *batches):
    """One parquet file per batch under ``src``, each with a strictly
    later mtime than the one before: FileStreamSource replays oldest
    mtime first, and back-to-back writes can tie on mtime granularity."""
    base = time.time()
    stamped: set[str] = set()
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append" if i else "error").parquet(src)
        for f in glob.glob(os.path.join(src, "part-*.parquet")):
            if f not in stamped:
                os.utime(f, (base + 10 * i, base + 10 * i))
                stamped.add(f)


def _assert_no_duplicate(df, cols):
    assert df.count() == df.select(*cols).distinct().count()


def _dedup_case(spark, tmp_path):
    """Batch 1 pairs against the persisted corpus; batch 2 pairs against
    corpus AND batch 1 (proving each batch's signatures were folded into
    the store); the union of streamed pairs equals the one-shot batch
    increment over batch1 ∪ batch2."""
    from scipi_spark.operators import dedup as dedup_ops
    from scipi_spark.streaming.pipelines import run_streaming_dedup_against_store

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(30)
        .localCheckpoint(eager=True)
    )
    corpus = docs.limit(20)
    base5 = docs.orderBy("doc_id").limit(5)
    base_ids = [r["doc_id"] for r in base5.collect()]
    b1 = base5.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    b2 = base5.select((F.col("doc_id") + 20_000).alias("doc_id"), "text")
    store = str(tmp_path / "sig_store")
    src = str(tmp_path / "stream_src")
    dedup_ops.write_signature_store(corpus, store, table="t_stream_store")
    _write_batches(src, b1, b2)

    def start(stream, out, ckpt):
        return run_streaming_dedup_against_store(
            stream, store, out, ckpt, table="t_stream_store", threshold=0.5
        )

    def check(out):
        got = spark.read.parquet(out)
        pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
        # exact copies: every planted id pairs with its source (corpus-b1,
        # corpus-b2) AND b1-b2 pairs exist only if batch1 was folded in
        assert all((d, d + 10_000) in pairs for d in base_ids)
        assert all((d + 10_000, d + 20_000) in pairs for d in base_ids)

        oneshot = dedup_ops.minhash_lsh_increment(
            corpus, b1.unionByName(b2), threshold=0.5
        )
        want = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in oneshot.collect()}
        got3 = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got.collect()}
        assert got3 == want

    def assert_unique(ver):
        _assert_no_duplicate(spark.read.parquet(ver + "/postings"), ["doc", "sh"])

    case = _StoreCase(
        spark, store, src, start, check, assert_unique, ["t_stream_store"]
    )
    case.base5, case.b1, case.b2, case.base_ids = base5, b1, b2, base_ids
    return case


def test_streaming_dedup_against_store_folds_batches(spark, tmp_path):
    """Two-micro-batch replay of the store-backed streaming dedup (the
    converged answer is :func:`_dedup_case`'s check)."""
    case = _dedup_case(spark, tmp_path)
    try:
        case.run(str(tmp_path / "pairs"), str(tmp_path / "ckpt"))
        case.check(str(tmp_path / "pairs"))
    finally:
        case.drop_tables()


def _ann_case(spark, tmp_path):
    """Batch 1 retrieves its planted originals from the persisted corpus;
    batch 2 retrieves the originals AND batch 1's folded copies (proving
    each batch's vectors entered the index); batch 1's hits cannot see
    batch 2 (it was not folded yet at that point)."""
    from scipi_spark.operators import similarity as sim_ops
    from scipi_spark.streaming.pipelines import run_streaming_ann_against_store

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id")
        .limit(200)
        .localCheckpoint(eager=True)
    )
    base5 = emb.limit(5)
    b1 = base5.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    b2 = base5.select((F.col("vec_id") + 20_000).alias("vec_id"), "embedding")
    base_ids = [r["vec_id"] for r in base5.collect()]

    store = str(tmp_path / "ann_store")
    src = str(tmp_path / "stream_src")
    tables = ["t_stream_ann", "t_stream_ann_vectors"]
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    sim_ops.write_ann_store(emb, store, table="t_stream_ann", bits=6, tables=8)
    _write_batches(src, b1, b2)

    def start(stream, out, ckpt):
        return run_streaming_ann_against_store(
            stream, store, out, ckpt, table="t_stream_ann", k=5,
            bits=6, tables=8,
        )

    def check(out):
        hits = {}
        for r in spark.read.parquet(out).collect():
            hits.setdefault(r["query_id"], set()).add((r["vec_id"], r["cosine"]))
        for d in base_ids:
            # batch 1 sees its original (cosine 1.0), not batch 2
            assert (d, 1.0) in hits[d + 10_000]
            assert all(v < 20_000 for v, _ in hits[d + 10_000])
            # batch 2 sees the original AND batch 1's folded copy
            assert (d, 1.0) in hits[d + 20_000]
            assert (d + 10_000, 1.0) in hits[d + 20_000]

    def assert_unique(ver):
        _assert_no_duplicate(spark.read.parquet(ver + "/vectors"), ["vec_id"])

    return _StoreCase(spark, store, src, start, check, assert_unique, tables)


def test_streaming_ann_against_store_folds_batches(spark, tmp_path):
    """Two-micro-batch replay of the store-backed streaming ANN search
    (the converged answer is :func:`_ann_case`'s check)."""
    case = _ann_case(spark, tmp_path)
    try:
        case.run(str(tmp_path / "hits"), str(tmp_path / "ckpt"))
        case.check(str(tmp_path / "hits"))
    finally:
        case.drop_tables()


def test_stream_media_decode_matches_batch(spark, tmp_path):
    """Streaming media ingest ≡ batch: real WAV/PPM payloads replayed
    in 2 micro-batches, decoded on arrival, per-format rollup converged
    in complete mode == the batch media_stats aggregate. The decode
    stage is stateless mapInPandas; only per-format counters carry
    state across batches."""
    import uuid

    import numpy as np
    from pyspark.sql import functions as F

    from scipi_spark.operators import multimodal as mm
    from scipi_spark.streaming.pipelines import media_decode_rollup

    rows = []
    for aid in range(8):
        if aid % 2 == 0:
            samples = ((np.arange(100) * 17 + aid) % 5000 - 2500).astype(
                "<i2"
            )
            rows.append((aid, "wav", bytearray(mm.encode_wav(samples, 8000))))
        else:
            y, x, c = np.indices((5, 6, 3))
            pix = ((aid + x + 2 * y + 3 * c) % 256).astype("uint8")
            rows.append((aid, "ppm", bytearray(mm.encode_ppm(pix))))
    df = spark.createDataFrame(
        rows, "asset_id long, format string, payload binary"
    )
    src = str(tmp_path / "src")
    df.filter(F.col("asset_id") % 2 == 0).coalesce(1).write.parquet(src)
    df.filter(F.col("asset_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("asset_id long, format string, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"t_media_{uuid.uuid4().hex[:8]}"
    q = (
        media_decode_rollup(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table(name).collect()))
    exp = sorted(map(tuple, media_decode_rollup(df).collect()))
    assert got == exp and len(got) == 2


def _er_case(spark, tmp_path):
    """Batch 1 carries a record that BRIDGES two stored entities (the fold
    must merge them), batch 2 matches the merged entity and must inherit
    the post-merge id — proving batch 1 was folded before batch 2
    resolved. The converged store assignment equals the one-shot closure
    over corpus + both batches."""
    from scipi_spark.operators import linkage
    from scipi_spark.streaming.pipelines import run_streaming_er_against_store

    corpus = spark.createDataFrame(
        [
            (1, "aa p q r"),
            (2, "aa p q s"),
            (5, "bb p q r"),
            (6, "bb p q t"),
            (9, "cc z y x"),
        ],
        "rec_id long, name string",
    )
    b1 = spark.createDataFrame(
        [(100, "aa p q bb"), (101, "dd only one")],
        "rec_id long, name string",
    )
    b2 = spark.createDataFrame(
        [(200, "bb p q u")], "rec_id long, name string"
    )
    store = str(tmp_path / "er_store")
    src = str(tmp_path / "stream_src")
    spark.sql("DROP TABLE IF EXISTS t_er_stream")
    linkage.write_entity_store(
        corpus, store, table="t_er_stream", threshold=0.5, two_keys=1
    )
    _write_batches(src, b1, b2)

    def start(stream, out, ckpt):
        return run_streaming_er_against_store(
            stream, store, out, ckpt, table="t_er_stream"
        )

    def check(out):
        combined = corpus.unionByName(b1).unionByName(b2)
        want = {
            r["rec_id"]: r["entity_id"]
            for r in linkage.entity_ids(
                combined,
                linkage.match_pairs(
                    combined, threshold=0.5, second_block=True
                ),
            ).collect()
        }
        assert want == {
            1: 1, 2: 1, 5: 1, 6: 1, 100: 1, 200: 1, 9: 9, 101: 101
        }
        stored = {
            r["rec_id"]: r["entity_id"]
            for r in linkage.entity_store_assignment(spark, store).collect()
        }
        assert stored == want
        # per-batch sink rows carry each batch's OWN assignment; batch 2
        # resolved AFTER the merge, so 200 -> 1 proves the fold ordering
        sink = {
            r["rec_id"]: r["entity_id"]
            for r in spark.read.parquet(out).collect()
        }
        assert sink == {100: 1, 101: 101, 200: 1}

    def assert_unique(ver):
        _assert_no_duplicate(spark.read.parquet(ver + "/ids"), ["rec_id"])

    return _StoreCase(
        spark, store, src, start, check, assert_unique, ["t_er_stream"]
    )


def test_streaming_er_against_store_folds_and_merges(spark, tmp_path):
    """Two-micro-batch replay of the store-backed streaming ER (the
    converged answer is :func:`_er_case`'s check)."""
    case = _er_case(spark, tmp_path)
    try:
        case.run(str(tmp_path / "assign"), str(tmp_path / "ckpt"))
        case.check(str(tmp_path / "assign"))
    finally:
        case.drop_tables()


BM25_QUERY = ["join", "hash", "scan"]


def _bm25_case(spark, tmp_path):
    """Each batch's documents become searchable for the NEXT batch's query
    (the per-batch sink partitions show the ranking evolve), and the
    converged index scores bit-identical to a from-scratch build over
    everything."""
    from scipi_spark.operators import textops
    from scipi_spark.streaming.pipelines import run_streaming_text_index_fold

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
        .localCheckpoint(eager=True)
    )
    corpus = docs.limit(20)
    rest = docs.exceptAll(corpus)
    store = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    tables = ["t_bm25_stream", "t_bm25_scratch"]
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    textops.write_text_index_store(corpus, store, table="t_bm25_stream")
    _write_batches(
        src,
        rest.filter(F.col("doc_id") % 2 == 0),
        rest.filter(F.col("doc_id") % 2 == 1),
    )

    def start(stream, out, ckpt):
        return run_streaming_text_index_fold(
            stream, store, out, ckpt, BM25_QUERY,
            table="t_bm25_stream", topk=50,
        )

    def check(out):
        folded = sorted(
            map(tuple, textops.bm25_from_store(
                spark, store, BM25_QUERY, table="t_bm25_stream", topk=50
            ).collect())
        )
        scratch_root = str(tmp_path / "scratch")
        textops.write_text_index_store(
            docs, scratch_root, table="t_bm25_scratch"
        )
        want = sorted(
            map(tuple, textops.bm25_from_store(
                spark, scratch_root, BM25_QUERY, table="t_bm25_scratch",
                topk=50,
            ).collect())
        )
        assert folded == want and folded

    def assert_unique(ver):
        _assert_no_duplicate(spark.read.parquet(ver + "/doclen"), ["doc"])

    return _StoreCase(spark, store, src, start, check, assert_unique, tables)


def test_streaming_text_index_fold_converges_and_guards_replay(
    spark, tmp_path
):
    """Two-micro-batch replay of the streaming BM25 index fold (the
    converged answer is :func:`_bm25_case`'s check); the store records
    both batches of the query as folded. Replay after a crash is
    covered by :func:`test_store_fold_exactly_once_across_crash`."""
    case = _bm25_case(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    try:
        case.run(str(tmp_path / "out"), ckpt)
        case.check(str(tmp_path / "out"))
        assert storectl.folded_batch(case.store, ckpt) == 1
    finally:
        case.drop_tables()


def _graph_case(spark, tmp_path):
    """Publications folded as edge deltas: the merged store equals the
    mirrored relation of a one-shot build over corpus + both batches, and
    the last batch's summary counts that relation's pairs and weight."""
    from scipi_spark.operators import community
    from scipi_spark.streaming.pipelines import run_streaming_graph_store_fold

    recs = _fixture_records()

    def pubs(part):
        return ingest.ingest_oag(
            spark.createDataFrame([(json.dumps(r),) for r in part], "value string")
        )

    def mirrored(df):
        return community.aggregate_undirected(
            community.extract_edges(df, hash_fn=F.xxhash64)
        )

    corpus, b1, b2 = pubs(recs[:30]), pubs(recs[30:45]), pubs(recs[45:])
    want = mirrored(corpus.unionByName(b1).unionByName(b2)).collect()
    store = str(tmp_path / "graph")
    src = str(tmp_path / "src")
    spark.sql("DROP TABLE IF EXISTS t_graph_stream")
    community.write_graph_store(
        None, store, table="t_graph_stream", mirrored=mirrored(corpus)
    )
    _write_batches(src, b1, b2)

    def start(stream, out, ckpt):
        return run_streaming_graph_store_fold(
            stream, store, out, ckpt, table="t_graph_stream"
        )

    def merged(ver):
        return community.merge_delta_edges(spark.read.parquet(ver + "/edges"))

    def check(out):
        ver = storectl.current_dir(store)
        assert sorted(map(tuple, merged(ver).collect())) == sorted(
            map(tuple, want)
        )
        last = spark.read.parquet(out).filter("batch_id = 1").collect()
        assert [(r["n_pairs"], r["total_weight"]) for r in last] == [
            (len(want), sum(r["w_sum"] for r in want))
        ]

    def assert_unique(ver):
        got = merged(ver).agg(F.sum("w_sum")).collect()[0][0]
        assert got == sum(r["w_sum"] for r in want)

    return _StoreCase(
        spark, store, src, start, check, assert_unique, ["t_graph_stream"]
    )


def _scd2_case(spark, tmp_path):
    """Timestamped updates folded into the SCD2 dimension store: the
    converged dimension equals one ``scd2_apply`` over every update, and
    the last batch's sink rows are the current rows of the keys it
    touched. Batch 1 changes key 1 twice, so a second fold of it would
    leave the closed row (1, C, 5, 7) twice."""
    from scipi_spark.sources.store import (
        read_scd2_store,
        scd2_apply,
        write_scd2_store,
    )
    from scipi_spark.streaming.pipelines import run_streaming_scd2_fold

    dim0 = spark.createDataFrame(
        [(1, "A", 1, None, True), (2, "X", 1, None, True)],
        "k long, segment string, valid_from long, valid_to long, "
        "is_current boolean",
    )
    upd = "k long, segment string, ts long"
    b1 = spark.createDataFrame([(1, "B", 3), (2, "X", 4)], upd)
    b2 = spark.createDataFrame([(1, "C", 5), (1, "D", 7), (3, "Z", 6)], upd)
    store = str(tmp_path / "dim")
    src = str(tmp_path / "src")
    write_scd2_store(dim0, store)
    _write_batches(src, b1, b2)

    def start(stream, out, ckpt):
        return run_streaming_scd2_fold(
            stream, store, out, ckpt, "k", ["segment"]
        )

    def check(out):
        want = sorted(
            map(tuple, scd2_apply(
                dim0, b1.unionByName(b2), "k", ["segment"]
            ).collect()),
            key=str,
        )
        assert want == sorted([
            (1, "A", 1, 3, False), (1, "B", 3, 5, False),
            (1, "C", 5, 7, False), (1, "D", 7, None, True),
            (2, "X", 1, None, True), (3, "Z", 6, None, True),
        ], key=str)
        got = map(tuple, read_scd2_store(spark, store).collect())
        assert sorted(got, key=str) == want
        last = spark.read.parquet(out).filter("batch_id = 1").collect()
        assert sorted((r["k"], r["segment"]) for r in last) == [
            (1, "D"), (3, "Z")
        ]

    def assert_unique(ver):
        _assert_no_duplicate(
            spark.read.parquet(ver + "/dim"), ["k", "valid_from"]
        )

    return _StoreCase(spark, store, src, start, check, assert_unique, [])


STORE_CASES = {
    "dedup": _dedup_case,
    "ann": _ann_case,
    "er": _er_case,
    "bm25": _bm25_case,
    "graph": _graph_case,
    "scd2": _scd2_case,
}


@pytest.mark.parametrize(
    "family,fault",
    [(f, "after_publish") for f in STORE_CASES] + [("dedup", "before_publish")],
)
def test_store_fold_exactly_once_across_crash(
    spark, tmp_path, monkeypatch, family, fault
):
    """Crash the fold of batch 1 (the second micro-batch) at its store
    publish, then restart from the same checkpoint, which replays batch 1:

    - after_publish: the folded version is live but the checkpoint never
      committed the batch, so the replay finds its stamp and only probes;
    - before_publish: the store still holds batch 0 only, so the replay
      folds the batch.

    Either way the converged answer is the family's, the store holds
    every id once, fsck is clean and the store records batch 1 as the
    query's last fold."""
    case = STORE_CASES[family](spark, tmp_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    publish, calls = storectl.publish, []

    def faulty_publish(*args, **kwargs):
        calls.append(kwargs.get("fold"))
        if len(calls) == 2 and fault == "before_publish":
            raise RuntimeError("injected fault")
        ver = publish(*args, **kwargs)
        if len(calls) == 2 and fault == "after_publish":
            raise RuntimeError("injected fault")
        return ver

    monkeypatch.setattr(storectl, "publish", faulty_publish)
    try:
        with pytest.raises(Exception, match="injected fault"):
            case.run(out, ckpt)
        commits = {
            n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()
        }
        assert commits == {"0"}

        case.run(out, ckpt)
        case.check(out)
        case.assert_unique(storectl.current_dir(case.store))
        assert storectl.fsck(case.store)["issues"] == []
        assert storectl.folded_batch(case.store, ckpt) == 1
    finally:
        case.drop_tables()


def test_store_fold_two_queries_share_one_store(spark, tmp_path):
    """Two queries with their own checkpoints fold one batch each into
    the same signature store, one after the other: both batches enter the
    store, so a later probe pairs with both, and the store records each
    query's fold under its own checkpoint."""
    from scipi_spark.operators import dedup as dedup_ops

    case = _dedup_case(spark, tmp_path)
    ckpt_a, ckpt_b = str(tmp_path / "ckpt_a"), str(tmp_path / "ckpt_b")
    try:
        _write_batches(str(tmp_path / "src_a"), case.b1)
        _write_batches(str(tmp_path / "src_b"), case.b2)
        case.run(str(tmp_path / "out_a"), ckpt_a, src=str(tmp_path / "src_a"))
        case.run(str(tmp_path / "out_b"), ckpt_b, src=str(tmp_path / "src_b"))

        probe = case.base5.select(
            (F.col("doc_id") + 30_000).alias("doc_id"), "text"
        )
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in dedup_ops.minhash_lsh_increment_from_store(
                spark, case.store, probe, table="t_stream_store",
                threshold=0.5,
            ).collect()
        }
        for d in case.base_ids:
            assert (d + 10_000, d + 30_000) in pairs
            assert (d + 20_000, d + 30_000) in pairs
        assert storectl.folded_batch(case.store, ckpt_a) == 0
        assert storectl.folded_batch(case.store, ckpt_b) == 0
    finally:
        case.drop_tables()
