"""The gate's archive-invalidation fingerprints must be deterministic
(same code → same fp across processes and hash seeds) and sensitive to
the code an entry actually reaches."""

from __future__ import annotations

import gate_fingerprints as gfp
import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_fingerprints_cover_every_entry_and_are_deterministic():
    a = gfp.entry_fingerprints(QUERIES, ORACLES)
    b = gfp.entry_fingerprints(QUERIES, ORACLES)
    assert a == b
    assert set(a) == set(QUERIES)
    assert "unfingerprintable" not in a.values(), [
        k for k, v in a.items() if v == "unfingerprintable"
    ]


def test_stable_repr_sorts_sets():
    # set repr order is hash-randomized across processes; the stable
    # variant must not be
    assert gfp._stable_repr({"b", "a", "c"}) == gfp._stable_repr({"c", "a", "b"})
    assert gfp._stable_repr(frozenset({1, 2})) == gfp._stable_repr({2, 1})


def test_stable_repr_rejects_address_reprs():
    class Opaque:
        pass

    assert gfp._stable_repr(Opaque()).startswith("unstable:")


def test_fingerprint_reaches_cross_module_code():
    """p1_p5_ingest_oag never names functions/text.py, but reaches the
    validation cleans through ingest.validate_publications — the
    reachable source set must include them (the round-3 staleness gap)."""
    src = gfp.reachable_sources(QUERIES["p1_p5_ingest_oag"])
    assert "def validate_str" in src
    assert "def validate_topics" in src
    assert "def clean_authors" in src
    assert "_poisoned_oag_raw" in src  # entry-module helper closure


def test_fingerprint_reaches_function_local_imports():
    """v4 (round-9 finding): entries that import engine code INSIDE the
    function body (``from scipi_spark.sources.io import write_csv``)
    bind locals, not globals — v3's __globals__ walk missed them, so an
    io.py edit left sink_roundtrip's archived stamp valid. The closure
    must now include locally-imported functions, transitively."""
    src = gfp.reachable_sources(QUERIES["sink_roundtrip"])
    assert "def write_csv" in src
    assert "def read_csv" in src
    src2 = gfp.reachable_sources(QUERIES["stream_ann_store_probe"])
    assert "def run_streaming_ann_against_store" in src2


def test_local_import_bindings_scope_and_robustness():
    b = gfp._local_import_bindings(
        "def f():\n"
        "    from scipi_spark.sources.io import write_csv as wc\n"
        "    import scipi_spark.sources.io as sio\n"
        "    import os\n"  # non-engine: ignored
        "    from nonexistent_module import thing\n"  # unresolvable: ignored
    )
    assert set(b) == {"wc", "sio"}
    import inspect

    assert inspect.isfunction(b["wc"]) and inspect.ismodule(b["sio"])
    assert gfp._local_import_bindings("not ( python") == {}


def test_oracle_sql_changes_fingerprint():
    a = gfp.entry_fingerprints(QUERIES, ORACLES)
    o2 = dict(ORACLES)
    o2["tpch_q1"] = o2["tpch_q1"] + " -- changed"
    b = gfp.entry_fingerprints(QUERIES, o2)
    assert a["tpch_q1"] != b["tpch_q1"]
    assert a["tpch_q3"] == b["tpch_q3"]


def test_stamps_file_matches_algo_version():
    import json
    from pathlib import Path

    p = Path(__file__).resolve().parent.parent / "GATE_FINGERPRINTS.json"
    stamps = json.load(p.open())
    assert stamps.get("_algo") == gfp.ALGO_VERSION, (
        "GATE_FINGERPRINTS.json was stamped by a different fingerprint "
        "algorithm — regenerate against the archived trees "
        "(tools/stamp_round.py)"
    )


def test_no_entry_reaches_the_registry_functions():
    """An entry whose fingerprint closure includes the registry functions
    (queries / oracle_sql / entry / pending_next_window / _gate_order /
    archived_green_entries) is re-fronted every time ANY entry or oracle
    is added — the fingerprint becomes registry-coupled instead of
    code-coupled. Name matching is word-level, so a bare local variable
    named ``queries`` or the word ``entry`` in a docstring is enough
    (round-6 finding: knn_store_search + 7 docstrings)."""
    registry = {
        f"__spark_entry__.{n}"
        for n in (
            "queries",
            "oracle_sql",
            "entry",
            "pending_next_window",
            "_gate_order",
            "archived_green_entries",
        )
    }
    coupled = {
        name: sorted(hit)
        for name, fn in QUERIES.items()
        if (hit := gfp.reachable_keys(fn) & registry)
    }
    assert not coupled, (
        f"registry-coupled entries (rename the local/docstring word): "
        f"{coupled}"
    )


def test_archive_eval_commit_is_pre_archive_snapshot():
    """The stamping tree for an archive must be the commit the driver
    actually evaluated: the parent of the commit that ADDED the archive —
    i.e. a tree that does NOT yet contain the archive file but does
    contain the entry module."""
    import os
    import subprocess

    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    c = entrymod._archive_eval_commit(here, "CORRECTNESS_r05.json")
    assert c, "round-5 archive commit must resolve in this repo"
    has_archive = subprocess.run(
        ["git", "cat-file", "-e", f"{c}:CORRECTNESS_r05.json"],
        cwd=here, capture_output=True,
    ).returncode
    assert has_archive != 0, "eval tree must predate the archive file"
    has_entry = subprocess.run(
        ["git", "cat-file", "-e", f"{c}:__spark_entry__.py"],
        cwd=here, capture_output=True,
    ).returncode
    assert has_entry == 0


def test_worktree_stamping_reflects_archived_tree():
    """End-to-end race-closure proof (round-4 verdict #3): stamping a
    round from git must reproduce the fingerprints of the ARCHIVED tree
    regardless of what the live working tree looks like. The current
    working tree HAS diverged from the round-5 archive (round-6 edits),
    yet the worktree stamps must equal the recorded round-5 stamps."""
    import json
    import os

    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    got = entrymod._stamp_rounds_from_git(here, ["CORRECTNESS_r05.json"])
    assert "CORRECTNESS_r05.json" in got
    recorded = json.load(
        open(os.path.join(here, "GATE_FINGERPRINTS.json"))
    )["CORRECTNESS_r05.json"]
    assert got["CORRECTNESS_r05.json"] == recorded


def test_behavior_source_ignores_docs_comments_formatting():
    """v3: docstring, comment, and formatting edits cannot change a
    fingerprint — none can change results — while any executable change
    still does."""
    a = gfp._behavior_source(
        'def f(x):\n    """Original docstring."""\n    # a comment\n'
        "    return x + 1\n"
    )
    b = gfp._behavior_source(
        'def f(x):\n    """Totally rewritten docs, new words like\n'
        '    registry or anything else."""\n    return (x\n        + 1)\n'
    )
    c = gfp._behavior_source("def f(x):\n    return x + 2\n")
    assert a == b
    assert a != c
    # the name scan runs over the normalized source, so a docstring word
    # cannot create a dependency edge
    assert "registry" not in b


def test_unwrap_udf_requires_a_pyspark_udf():
    """v6 (r12 advice): only objects that are actually pyspark UDFs
    (carry ``evalType``) unwrap — a ``functools.partial`` of an engine
    function must NOT, or its bound arguments (hashed by the const
    branch) silently drop out of the fingerprint."""
    import functools

    from scipi_spark.functions.text import validate_str_py

    part = functools.partial(validate_str_py, 3)
    assert part.func is validate_str_py  # the v5 trap: traceable .func
    assert gfp._unwrap_udf(part) is None

    class FakeUDF:  # the shape pyspark's _wrapped()/UDF objects expose
        func = staticmethod(validate_str_py)
        evalType = 200
        returnType = "string"
        deterministic = False

    assert gfp._unwrap_udf(FakeUDF()) is validate_str_py


def test_udf_flags_change_fingerprint():
    """v6 (r12 advice): a UDF's returnType/evalType/deterministic flag
    are built in module-level statements outside any reachable function
    source — removing ``asNondeterministic()`` or changing a returnType
    must invalidate archived stamps, not just kernel edits."""
    from scipi_spark.functions.text import validate_str_py

    def make(det):
        class FakeUDF:
            func = staticmethod(validate_str_py)
            evalType = 200
            returnType = "string"
            deterministic = det

        return FakeUDF()

    global _FP_TEST_UDF
    _FP_TEST_UDF = make(False)

    def probe():
        return _FP_TEST_UDF

    src_nondet = gfp.reachable_sources(probe)
    assert "def validate_str_py" in src_nondet  # kernel still reached (v5)
    _FP_TEST_UDF = make(True)
    src_det = gfp.reachable_sources(probe)
    del _FP_TEST_UDF
    assert src_nondet != src_det  # the flag alone moves the fingerprint


def test_behavior_source_keeps_string_constants():
    # real string literals are executable values and must stay hashed
    a = gfp._behavior_source("def f():\n    return 'keyword_name'\n")
    b = gfp._behavior_source("def f():\n    return 'other_name'\n")
    assert a != b
    assert "keyword_name" in a
