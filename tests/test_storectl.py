"""Atomic versioned store publication (sources/storectl.py).

Round-7 verdict #1: the old ``mode("overwrite").saveAsTable`` publish
let a second process read a 0-row store mid-rebuild (silent wrong
answer) and a writer crash leave the store half-written forever. These
tests pin the replacement protocol:

- pointer/marker semantics (pure filesystem, no Spark);
- crash windows: an unpublished build is invisible, a dangling CURRENT
  reads as absent;
- build_key gating: a store built with a different recipe is not reused;
- the REAL two-process race: a second engine process probes an ANN
  store in a loop while this process rebuilds it repeatedly — every
  probe must return the full result set (old or new complete version,
  never 0 rows).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import time

import pytest
from conftest import REPO, SF_SMOKE

from scipi_spark.sources import storectl


#: a store family with no recipe and no bucketed artifact
_DUMMY = storectl.StoreSpec("test store", "k1")


def _write_dummy_version(root, build_key="k1", payload="a", params=None):
    build = storectl.new_build_dir(str(root))
    os.makedirs(os.path.join(build, "data"), exist_ok=True)
    with open(os.path.join(build, "data", "f.txt"), "w") as fh:
        fh.write(payload)
    return storectl.publish(str(root), build, build_key, params=params)


def test_publish_and_resolve(tmp_path):
    root = tmp_path / "store"
    assert storectl.current_dir(str(root)) is None
    ver = _write_dummy_version(root, "k1")
    assert storectl.current_dir(str(root)) == ver
    assert storectl.current_dir(str(root), "k1") == ver
    # different recipe -> treated as absent (forces rebuild)
    assert storectl.current_dir(str(root), "other") is None
    assert storectl.open_store(str(root), _DUMMY).meta["build_key"] == "k1"


def test_unpublished_build_is_invisible(tmp_path):
    root = tmp_path / "store"
    ver1 = _write_dummy_version(root, "k1")
    # a second writer stages a build but crashes before publish
    build = storectl.new_build_dir(str(root))
    with open(os.path.join(build, "junk"), "w") as fh:
        fh.write("partial")
    assert storectl.current_dir(str(root)) == ver1  # reader undisturbed


def test_dangling_current_reads_as_absent(tmp_path):
    root = tmp_path / "store"
    _write_dummy_version(root, "k1")
    with open(root / "CURRENT", "w") as fh:
        fh.write("v_999999_deadbeef")  # GC'd / never-completed version
    assert storectl.current_dir(str(root)) is None


def test_missing_marker_reads_as_absent(tmp_path):
    root = tmp_path / "store"
    ver = _write_dummy_version(root, "k1")
    os.remove(os.path.join(ver, storectl.MARKER))
    assert storectl.current_dir(str(root)) is None


def test_publish_gc_keeps_predecessor_and_retention_window(
    tmp_path, monkeypatch
):
    root = tmp_path / "store"
    # no retention window: GC is purely count-based -> oldest goes
    # immediately
    monkeypatch.setattr(storectl, "RETAIN_SECONDS", 0)
    v1 = _write_dummy_version(root, "k", "one")
    v2 = _write_dummy_version(root, "k", "two")
    v3 = _write_dummy_version(root, "k", "three")
    assert storectl.current_dir(str(root)) == v3
    assert os.path.isdir(v2)  # predecessor retained for in-flight readers
    assert not os.path.isdir(v1)  # beyond keep AND beyond retention
    with open(os.path.join(v3, "data", "f.txt")) as fh:
        assert fh.read() == "three"


def test_publish_gc_respects_retention_window(tmp_path):
    """A version newer than the retention window survives GC even when
    it is beyond the keep count — the guarantee an in-flight reader
    needs (deleting it makes that reader's table silently read empty)."""
    root = tmp_path / "store"
    vers = [_write_dummy_version(root, "k", str(i)) for i in range(4)]
    assert all(os.path.isdir(v) for v in vers)  # all inside the window


def test_version_numbers_monotonic(tmp_path):
    root = tmp_path / "store"
    names = [os.path.basename(_write_dummy_version(root, "k")) for _ in range(3)]
    nums = [int(n[2:8]) for n in names]
    assert nums == sorted(nums) and len(set(nums)) == 3


def test_store_root_env_override(monkeypatch):
    import __spark_entry__ as entrymod

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", "/tmp/alt_warehouse")
    assert entrymod._store_root("t1") == "/tmp/alt_warehouse/t1"
    monkeypatch.delenv("SPARK_GRAFT_STORE_DIR")
    assert entrymod._store_root("t1") == str(REPO / "spark-warehouse" / "t1")


_PROBE_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession, functions as F
    from scipi_spark.operators import similarity

    store, sf = sys.argv[1], sys.argv[2]
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.warehouse.dir", sys.argv[3])
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    probe = emb.filter(F.col("vec_id").isin([1, 2, 3]))
    print("PROBE_READY", flush=True)
    counts = []
    for i in range(8):
        hits = similarity.knn_from_store(
            probe, table="race_ann", k=5, bits=6, tables=4, path=store
        )
        counts.append(hits.count())
    print("COUNTS " + json.dumps(counts), flush=True)

    """
)


def test_two_process_rebuild_race(spark, tmp_path):
    """THE round-7 failure mode, reproduced as a regression test: a
    second process probes while this one rebuilds the store in a tight
    loop. With atomic versioned publish every probe resolves a complete
    version — the full 15-row result every time, never 0."""
    from pyspark.sql import functions as F

    from scipi_spark.operators import similarity

    store = str(tmp_path / "race_store")
    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    similarity.write_ann_store(
        emb, store, table="race_ann_writer", bits=6, tables=4
    )

    script = tmp_path / "probe.py"
    script.write_text(_PROBE_SCRIPT.format(repo=str(REPO)))
    proc = subprocess.Popen(
        [sys.executable, str(script), store, SF_SMOKE, str(tmp_path / "wh2")],
        stdout=subprocess.PIPE,
        stderr=open(tmp_path / "probe_err.log", "w"),
        text=True,
    )
    try:
        # wait for the prober's Spark session, then rebuild continuously
        # underneath it until it finishes its probe loop
        line = proc.stdout.readline()
        while line and "PROBE_READY" not in line:
            line = proc.stdout.readline()
        assert line, "prober died before becoming ready"
        rebuilds = 0
        while proc.poll() is None and rebuilds < 12:
            similarity.write_ann_store(
                emb, store, table="race_ann_writer", bits=6, tables=4
            )
            rebuilds += 1
        out, _ = proc.communicate(timeout=300)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert rebuilds >= 2, "rebuild loop never overlapped the probes"
    counts_line = [ln for ln in out.splitlines() if ln.startswith("COUNTS ")]
    err_tail = (tmp_path / "probe_err.log").read_text()[-800:]
    assert counts_line, f"prober produced no counts: {out[-300:]} ERR: {err_tail}"
    counts = json.loads(counts_line[0][len("COUNTS "):])
    # 3 queries x k=5 from a complete store; a mid-rebuild read of the
    # old layout returned 0 here
    assert counts == [15] * len(counts), counts


def test_list_versions_ordering_and_completeness(tmp_path):
    root = tmp_path / "store"
    assert storectl.list_versions(str(root)) == []
    v1 = _write_dummy_version(root, "k", "one")
    v2 = _write_dummy_version(root, "k", "two")
    assert storectl.list_versions(str(root)) == [v1, v2]
    # an unpublished build and a marker-less dir are both invisible
    storectl.new_build_dir(str(root))
    os.remove(os.path.join(v1, storectl.MARKER))
    assert storectl.list_versions(str(root)) == [v2]


def test_ann_version_pinning_snapshot_isolation(spark, tmp_path):
    """Time travel: after an append publishes v2, the pinned v1 must
    return exactly the pre-append results (immutability), while CURRENT
    sees the appended vectors."""
    from pyspark.sql import functions as F

    from scipi_spark.operators import similarity

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    ids = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(60).collect()]
    half = ids[len(ids) // 2]
    store = str(tmp_path / "tt_store")
    similarity.write_ann_store(
        emb.filter(F.col("vec_id") < half), store, table="tt_cur",
        bits=6, tables=4,
    )
    probe = emb.filter(F.col("vec_id").isin(ids[-3:]))
    before = set(
        map(tuple, similarity.knn_from_store(
            probe, table="tt_cur", k=5, bits=6, tables=4
        ).collect())
    )
    similarity.append_ann_store(
        emb.filter((F.col("vec_id") >= half) & (F.col("vec_id") < ids[-3])),
        store, table="tt_cur", bits=6, tables=4,
    )
    vers = storectl.list_versions(store)
    assert len(vers) >= 2
    similarity.open_ann_store(spark, store, table="tt_v1", version_dir=vers[0])
    pinned = set(
        map(tuple, similarity.knn_from_store(
            probe, table="tt_v1", k=5, bits=6, tables=4
        ).collect())
    )
    assert pinned == before  # v1 is immutable under the append
    after = set(
        map(tuple, similarity.knn_from_store(
            probe, table="tt_cur", k=5, bits=6, tables=4
        ).collect())
    )
    assert after != before  # CURRENT sees the appended vectors


def test_pinned_version_survives_gc_past_retention(tmp_path, monkeypatch):
    """Round-8 verdict #4: a pinned time-travel snapshot must survive
    publishes past BOTH the keep count and the retention window; unpin
    restores normal GC eligibility."""
    root = tmp_path / "store"
    monkeypatch.setattr(storectl, "RETAIN_SECONDS", 0)
    v1 = _write_dummy_version(root, "k", "one")
    storectl.pin_version(v1)
    later = [_write_dummy_version(root, "k", str(i)) for i in range(4)]
    # v1 is 5 publishes old with no retention window (KEEP=1): only the
    # pin holds it
    assert os.path.isdir(v1)
    with open(os.path.join(v1, "data", "f.txt")) as fh:
        assert fh.read() == "one"
    # unpinned intermediates are gone (beyond keep, beyond retention)
    assert not os.path.isdir(later[0]) and not os.path.isdir(later[1])
    storectl.unpin_version(v1)
    _write_dummy_version(root, "k", "last")
    assert not os.path.isdir(v1)  # GC-eligible again after unpin


def test_pin_requires_complete_version(tmp_path):
    root = tmp_path / "store"
    build = storectl.new_build_dir(str(root))
    with pytest.raises(FileNotFoundError):
        storectl.pin_version(build)  # no marker -> not a version


def test_pins_are_not_cloned_into_appends(tmp_path):
    root = tmp_path / "store"
    v1 = _write_dummy_version(root, "k", "one")
    storectl.pin_version(v1, token="t1")
    build, cur = storectl.clone_current(str(root))
    v2 = storectl.publish(
        str(root), build, "k", expect_base=os.path.basename(cur)
    )
    assert not [n for n in os.listdir(v2) if n.startswith("_PINNED")]
    assert os.path.exists(os.path.join(v1, "_PINNED_t1"))


def test_publish_conflict_on_moved_current(tmp_path):
    """publish(expect_base=...) must fail LOUDLY (and discard the build)
    when CURRENT moved between an append's clone and its publish — the
    lost-update failure mode a bypassed append lock would otherwise hit
    silently (round-8 verdict #3 / advice)."""
    root = tmp_path / "store"
    _write_dummy_version(root, "k", "one")
    build, cur = storectl.clone_current(str(root))
    # a second writer publishes a rebuild while our append is in flight
    _write_dummy_version(root, "k", "two")
    with pytest.raises(storectl.StoreConflictError):
        storectl.publish(
            str(root), build, "k", expect_base=os.path.basename(cur)
        )
    assert not os.path.isdir(build)  # the conflicted build is discarded
    # the concurrent writer's version is untouched
    with open(
        os.path.join(storectl.current_dir(str(root)), "data", "f.txt")
    ) as fh:
        assert fh.read() == "two"


def test_publish_with_matching_expect_base_succeeds(tmp_path):
    root = tmp_path / "store"
    _write_dummy_version(root, "k", "one")
    build, cur = storectl.clone_current(str(root))
    v2 = storectl.publish(
        str(root), build, "k", expect_base=os.path.basename(cur)
    )
    assert storectl.current_dir(str(root)) == v2


def test_append_lock_mutual_exclusion_and_release(tmp_path):
    root = str(tmp_path / "store")
    with storectl.append_lock(root):
        assert os.path.exists(os.path.join(root, "_APPEND_LOCK"))
        with pytest.raises(TimeoutError):
            with storectl.append_lock(root, timeout_s=0.5, poll_s=0.05):
                pass
    # released on exit -> immediately reacquirable
    with storectl.append_lock(root, timeout_s=0.5):
        pass
    assert not os.path.exists(os.path.join(root, "_APPEND_LOCK"))


def test_append_lock_stale_takeover(tmp_path):
    """A crashed writer's lock (old mtime) is taken over instead of
    deadlocking every future append."""
    root = str(tmp_path / "store")
    os.makedirs(root)
    lock = os.path.join(root, "_APPEND_LOCK")
    with open(lock, "w") as fh:
        fh.write("{}")
    old = time.time() - 4000
    os.utime(lock, (old, old))
    with storectl.append_lock(root, timeout_s=2.0):
        pass  # acquired despite the dead holder's file
    assert not os.path.exists(lock)


def test_publish_sweeps_orphaned_build_dirs(tmp_path):
    """Round-8 advice: crashed writers leak .build_* staging dirs
    forever. publish sweeps builds idle past the retention window;
    a fresh (possibly in-flight) build survives."""
    root = tmp_path / "store"
    _write_dummy_version(root, "k", "one")
    stale = storectl.new_build_dir(str(root))
    with open(os.path.join(stale, "part"), "w") as fh:
        fh.write("x")
    old = time.time() - 4000
    for p in (stale, os.path.join(stale, "part")):
        os.utime(p, (old, old))
    fresh = storectl.new_build_dir(str(root))
    _write_dummy_version(root, "k", "two")
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)


def test_register_table_identifier_validated(spark, tmp_path):
    with pytest.raises(ValueError):
        storectl.register_bucketed(
            spark, "bad-name; DROP TABLE x", str(tmp_path), ["a"], ["a"], 4
        )


def test_store_root_with_single_quote_registers(spark, tmp_path):
    """Round-8 advice: a store root containing a single quote (reachable
    via SPARK_GRAFT_STORE_DIR) must not break or inject into the
    LOCATION DDL."""
    data_dir = str(tmp_path / "it's a store" / "data")
    df = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v")
    storectl.write_bucketed(df, data_dir, ["k"], ["k"], 4)
    storectl.register_bucketed(spark, "quoted_loc_t", data_dir, ["k"], ["k"], 4)
    try:
        assert spark.table("quoted_loc_t").count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS quoted_loc_t")


def test_schema_file_written_and_registration_avoids_inference(spark, tmp_path):
    """write_bucketed drops a _SCHEMA sidecar so register_bucketed is
    pure DDL (no parquet-footer inference job per registration — the
    round-8 verdict's suspected knn_store_search probe-path cost)."""
    data_dir = str(tmp_path / "data")
    df = spark.range(0, 20).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS x", "CAST(id AS STRING) AS s"
    )
    storectl.write_bucketed(df, data_dir, ["k"], ["k"], 4)
    sidecar = os.path.join(data_dir, storectl.SCHEMA_FILE)
    assert os.path.exists(sidecar)
    with open(sidecar) as fh:
        cols = json.load(fh)["cols_sql"]
    assert "`k` bigint" in cols and "`x` double" in cols and "`s` string" in cols
    storectl.register_bucketed(spark, "schema_cache_t", data_dir, ["k"], ["k"], 4)
    try:
        assert spark.table("schema_cache_t").count() == 20
        assert [f.name for f in spark.table("schema_cache_t").schema.fields] == [
            "k", "x", "s",
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS schema_cache_t")


def test_bucketed_artifact_without_schema_file_is_refused(spark, tmp_path):
    """A bucketed artifact with no _SCHEMA sidecar is refused by
    register_bucketed with a FileNotFoundError naming its directory; no
    footer inference registers it behind the caller's back."""
    data_dir = str(tmp_path / "data")
    df = spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v")
    storectl.write_bucketed(df, data_dir, ["k"], ["k"], 4)
    os.remove(os.path.join(data_dir, storectl.SCHEMA_FILE))
    with pytest.raises(FileNotFoundError, match="_SCHEMA") as err:
        storectl.register_bucketed(
            spark, "schema_missing_t", data_dir, ["k"], ["k"], 4
        )
    assert data_dir in str(err.value)
    assert not os.path.exists(os.path.join(data_dir, storectl.SCHEMA_FILE))
    assert not spark.catalog.tableExists("schema_missing_t")


_APPENDER_SCRIPT = textwrap.dedent(
    """
    import os, sys, time
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession, functions as F
    from scipi_spark.operators import similarity

    store, sf, lo, hi, wh, sync = sys.argv[1:7]
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.warehouse.dir", wh)
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(sf + "/embeddings.parquet").filter(
        (F.col("vec_id") >= int(lo)) & (F.col("vec_id") < int(hi))
    )
    open(sync + ".ready", "w").close()
    while not os.path.exists(sync + ".go"):
        time.sleep(0.05)
    similarity.append_ann_store(
        emb, store, table="cc_ann_sub", bits=6, tables=4
    )
    print("APPEND_DONE", flush=True)

    """
)


def test_two_process_concurrent_appends_both_land(spark, tmp_path):
    """Round-8 verdict #3 'Done' bar: two REAL processes append disjoint
    batches to the same ANN store CONCURRENTLY (file-barrier start) and
    both batches must survive into the final version — the lost-update
    race storectl previously only documented. The append lock serializes
    them; neither errors, nothing is dropped, nothing is duplicated."""
    from pyspark.sql import functions as F

    from scipi_spark.operators import similarity

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    ids = sorted(r[0] for r in emb.select("vec_id").collect())
    n = len(ids)
    c1, c2, c3 = ids[n // 2], ids[3 * n // 4], ids[7 * n // 8]
    store = str(tmp_path / "cc_store")
    similarity.write_ann_store(
        emb.filter(F.col("vec_id") < c1), store, table="cc_ann_main",
        bits=6, tables=4,
    )

    script = tmp_path / "appender.py"
    script.write_text(_APPENDER_SCRIPT.format(repo=str(REPO)))
    procs = []
    for i, (lo, hi) in enumerate([(c1, c2), (c2, c3)]):
        sync = str(tmp_path / f"sync{i}")
        procs.append(
            (
                subprocess.Popen(
                    [
                        sys.executable, str(script), store, SF_SMOKE,
                        str(lo), str(hi), str(tmp_path / f"wh{i}"), sync,
                    ],
                    stdout=subprocess.PIPE,
                    stderr=open(tmp_path / f"app_err{i}.log", "w"),
                    text=True,
                ),
                sync,
            )
        )
    try:
        deadline = time.time() + 240
        for _p, sync in procs:
            while not os.path.exists(sync + ".ready"):
                assert time.time() < deadline, "appender never became ready"
                time.sleep(0.1)
        for _p, sync in procs:  # release both at once -> genuine overlap
            open(sync + ".go", "w").close()
        outs = [p.communicate(timeout=300)[0] for p, _s in procs]
    finally:
        for p, _s in procs:
            if p.poll() is None:
                p.kill()
    for i, out in enumerate(outs):
        err_tail = (tmp_path / f"app_err{i}.log").read_text()[-800:]
        assert "APPEND_DONE" in out, f"appender {i} failed: {err_tail}"
    cur = storectl.current_dir(store)
    vecs = spark.read.parquet(cur + "/vectors")
    got = sorted(r[0] for r in vecs.select("vec_id").collect())
    expect = sorted(i for i in ids if i < c3)
    assert got == expect  # both batches landed, no loss, no duplication


def test_fsck_healthy_store(tmp_path):
    root = tmp_path / "store"
    _write_dummy_version(root, "k1", "one")
    v2 = _write_dummy_version(root, "k1", "two")
    storectl.pin_version(v2, token="hold")
    rep = storectl.fsck(str(root))
    assert rep["issues"] == []
    assert rep["current_ok"] and rep["current"] == os.path.basename(v2)
    assert rep["build_key"] == "k1"
    assert len(rep["versions"]) == 2 and rep["incomplete"] == []
    assert rep["pinned"] == {os.path.basename(v2): ["hold"]}
    assert rep["orphan_builds"] == [] and rep["lock_held"] is False


def test_fsck_flags_crash_debris_and_dangling_current(tmp_path):
    root = tmp_path / "store"
    v1 = _write_dummy_version(root, "k1", "one")
    storectl.new_build_dir(str(root))  # crashed writer's staging dir
    os.remove(os.path.join(v1, storectl.MARKER))  # marker-less version
    rep = storectl.fsck(str(root))
    assert len(rep["orphan_builds"]) == 1
    assert rep["incomplete"] == [os.path.basename(v1)]
    assert not rep["current_ok"]  # CURRENT points at the broken version
    assert any("marker" in i for i in rep["issues"])
    assert any("dangling" in i for i in rep["issues"])
    # missing root and missing pointer are reported, never raised
    assert storectl.fsck(str(tmp_path / "nope"))["issues"]
    os.remove(root / "CURRENT")
    assert any(
        "no CURRENT" in i for i in storectl.fsck(str(root))["issues"]
    )


def test_fsck_reports_held_append_lock(tmp_path):
    root = str(tmp_path / "store")
    _write_dummy_version(tmp_path / "store", "k1")
    with storectl.append_lock(root):
        assert storectl.fsck(root)["lock_held"] is True
    assert storectl.fsck(root)["lock_held"] is False


def test_fold_records_carry_forward(spark, tmp_path):
    """``publish(fold=(query_key, batch_id))`` records a streaming query's
    last folded batch in the version marker, and every later publish
    keeps the record: an append without a stamp, a compaction and a
    rebuild. Two queries' records coexist, each under its own key."""
    from scipi_spark.operators import community

    root = str(tmp_path / "graph")
    rel = spark.createDataFrame(
        [(1, 2, 1.0, 1.0), (2, 1, 1.0, 1.0)],
        "src long, dst long, w_sum double, w_max double",
    )
    kw = {"table": "t_fold_carry", "mirrored": rel}

    def folds():
        return storectl.open_store(root, community.GRAPH_STORE).meta["folds"]

    try:
        community.write_graph_store(None, root, **kw)
        assert storectl.folded_batch(root, "q1") == -1
        community.append_graph_store(None, root, fold=("q1", 0), **kw)
        assert folds() == {"q1": 0}
        community.append_graph_store(None, root, **kw)
        assert folds() == {"q1": 0}
        community.append_graph_store(None, root, fold=("q2", 3), **kw)
        community.append_graph_store(None, root, fold=("q1", 1), **kw)
        assert folds() == {"q1": 1, "q2": 3}
        community.compact_graph_store(spark, root, table="t_fold_carry")
        assert folds() == {"q1": 1, "q2": 3}
        community.write_graph_store(None, root, **kw)
        assert storectl.folded_batch(root, "q1") == 1
        assert storectl.folded_batch(root, "q2") == 3
        assert storectl.folded_batch(root, "q3") == -1
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fold_carry")


def _rebuild_before_clone(monkeypatch, rebuild):
    """Make ``rebuild()`` publish a new version just before the next
    append clones CURRENT: the window between reading a store's recipe
    and taking its append lock."""
    clone = storectl.clone_current
    pending = [rebuild]

    def racing_clone(root):
        if pending:
            pending.pop()()
        return clone(root)

    monkeypatch.setattr(storectl, "clone_current", racing_clone)


def test_signature_append_bands_under_the_cloned_recipe(
    spark, tmp_path, monkeypatch
):
    """A rebuild with another recipe (num_perm=32, bands=8) publishes
    just before an append takes its lock. The append bands its batch
    under the recipe of the version it clones, so every band id in the
    published store is below 8. A batch state the caller computed under
    the old recipe is refused with StoreConflictError, and nothing is
    published."""
    from pyspark.sql import functions as F

    from scipi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 130))
    root, table = str(tmp_path / "sig"), "t_sig_race"

    def rebuild():
        dedup.write_signature_store(
            corpus, root, table=table, num_perm=32, bands=8
        )

    try:
        dedup.write_signature_store(corpus, root, table=table)
        _rebuild_before_clone(monkeypatch, rebuild)
        dedup.append_signature_store(batch, root, table=table)
        cur = storectl.current_dir(root)
        bands = spark.read.parquet(cur + "/bands")
        assert bands.agg(F.max("band")).first()[0] < 8
        assert bands.filter(F.col("doc") >= 100).count() > 0
        sizes = spark.read.parquet(cur + "/sizes")
        assert sizes.filter(F.col("doc") >= 100).count() == 30

        # a state banded under the 64/16 recipe, then a rebuild at 32/8
        dedup.write_signature_store(corpus, root, table=table)
        recipe = storectl.open_store(root, dedup.SIG_STORE).params
        state = dedup.batch_lsh_state(
            batch, k=recipe["k"], num_perm=recipe["num_perm"],
            bands=recipe["bands"],
        )
        _rebuild_before_clone(monkeypatch, rebuild)
        with pytest.raises(storectl.StoreConflictError):
            dedup.append_signature_store(
                batch, root, table=table, batch_state=(recipe, state)
            )
        cur = storectl.current_dir(root)
        assert storectl.open_store(
            root, dedup.SIG_STORE, version_dir=cur
        ).params["bands"] == 8
        n_docs = spark.read.parquet(cur + "/sizes").count()
        assert n_docs == corpus.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ann_append_signs_under_the_cloned_recipe(spark, tmp_path, monkeypatch):
    """The ANN twin: a rebuild with 4 hash tables instead of 8 publishes
    just before an append takes its lock, and the appended signature
    rows come from the cloned version's 4 tables."""
    from pyspark.sql import functions as F

    from scipi_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    root, table = str(tmp_path / "ann"), "t_ann_race"

    def rebuild():
        similarity.write_ann_store(old, root, table=table, bits=6, tables=4)

    try:
        similarity.write_ann_store(old, root, table=table, bits=6, tables=8)
        _rebuild_before_clone(monkeypatch, rebuild)
        similarity.append_ann_store(new, root, table=table)
        sigs = spark.read.parquet(storectl.current_dir(root) + "/sigs")
        assert sigs.agg(F.max("t")).first()[0] == 3
        n_new = sigs.filter(F.col("vec_id") >= 400).select("vec_id").distinct()
        assert n_new.count() == new.count()
    finally:
        for t in (table, table + "_vectors"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _drop_recipe(root):
    """Rewrite the live version's marker without its recipe, as a writer
    that recorded none left it. Returns the version dir."""
    cur = storectl.current_dir(root)
    path = os.path.join(cur, storectl.MARKER)
    with open(path) as fh:
        meta = json.load(fh)
    del meta["params"]
    with open(path, "w") as fh:
        json.dump(meta, fh)
    return cur


def test_signature_store_without_recipe_is_refused(spark, tmp_path):
    """A signature-store version whose marker records no recipe is
    refused by the probe (``open_store``) and by an append, which
    publishes nothing: the recipe it was built under (here 32/8, not the
    64/16 of ``write_signature_store``'s signature) cannot be known, so
    the store must be rebuilt."""
    from pyspark.sql import functions as F

    from scipi_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 60)
    batch = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80))
    root, table = str(tmp_path / "sig"), "t_sig_norecipe"
    try:
        dedup.write_signature_store(
            corpus, root, table=table, num_perm=32, bands=8
        )
        cur = _drop_recipe(root)
        with pytest.raises(ValueError, match="rebuild the store"):
            dedup.minhash_lsh_increment_from_store(
                spark, root, batch, table=table
            )
        with pytest.raises(ValueError, match="rebuild the store"):
            dedup.append_signature_store(batch, root, table=table)
        assert storectl.list_versions(root) == [cur]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_requested_key_missing_from_the_recipe_is_refused(tmp_path):
    """A marker that records only part of its family's recipe (here a
    signature store without ``bands``) is refused when a caller requests
    the missing key, even as None (inherit): no default stands in for
    it. The error names the store root."""
    from scipi_spark.operators import dedup

    root = str(tmp_path / "store")
    _write_dummy_version(
        root, "sig-v1", params={"k": 3, "num_perm": 64, "n_buckets": 16}
    )
    requested = {"k": None, "num_perm": None, "bands": None}
    with pytest.raises(ValueError, match="'bands'") as err:
        storectl.open_store(root, dedup.SIG_STORE, requested)
    assert root in str(err.value)
    with pytest.raises(ValueError, match="'bands'"):
        with storectl.append(root, dedup.SIG_STORE, requested):
            pass
    assert len(storectl.list_versions(root)) == 1
    # the recorded keys alone still resolve
    ver = storectl.open_store(root, dedup.SIG_STORE, {"k": 3, "num_perm": None})
    assert ver.params == {"k": 3, "num_perm": 64, "n_buckets": 16}
