"""Simulate the driver's t2 correctness gate: run every ``queries()`` entry
and compare with its ``oracle_sql()`` twin via DuckDB at sf0.01, then audit
the plan the compare executed for scale anti-patterns."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE
from tests.oracle import compare, executed_plan
from tests.plan_audit import WHITELIST, audit_plan

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_ORACLE)
    if name not in ORACLES:
        # non-SQL-expressible: rows-only check (mirrors driver's weak check)
        assert df.count() >= 0
        return
    compare(df, ORACLES[name], SF_ORACLE)
    flagged = [
        f for f in audit_plan(executed_plan(df))
        if (name, f["kind"]) not in WHITELIST
    ]
    assert not flagged, flagged


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


def test_coverage_totals_match_registry():
    """COVERAGE.md's gate-total claim is checked against the live
    registry so the documented counts can't drift."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parent.parent / "COVERAGE.md").read_text()
    m = re.search(r"Gate totals: (\d+) entries, (\d+) with DuckDB oracles", text)
    assert m, "COVERAGE.md gate-totals line missing"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLES)
    # README's prose count drifted once (round-7 verdict #3) — parse the
    # sentence too so it can't drift again.
    readme = (Path(__file__).resolve().parent.parent / "README.md").read_text()
    r = re.search(r"independent (\d+)-entry\s*\nDuckDB-oracle sweep", readme)
    assert r, "README evidence-chain sentence missing or reworded"
    assert int(r.group(1)) == len(QUERIES), (
        f"README says {r.group(1)} entries, registry has {len(QUERIES)}"
    )


def test_session_caches_are_bounded():
    """Round-4 verdict #8 / round-5 carry: the per-session fixture caches
    must stay bounded under a synthetic many-SF loop, and evicted values
    must be unpersisted (DataFrame handles would otherwise pin executor
    storage forever in a long-lived service)."""

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    cache: dict = {}
    dfs = [FakeDF() for _ in range(20)]
    for i, df in enumerate(dfs):
        entrymod._cache_put(cache, ("app", f"sf{i}"), df)
    assert len(cache) == entrymod._CACHE_CAP
    # oldest evicted and unpersisted; newest retained and still persisted
    n_evicted = 20 - entrymod._CACHE_CAP
    assert all(df.unpersisted for df in dfs[:n_evicted])
    assert all(not df.unpersisted for df in dfs[n_evicted:])
    assert ("app", "sf19") in cache

    # tuple values: every member unpersisted on eviction
    cache2: dict = {}
    pair = (FakeDF(), FakeDF())
    entrymod._cache_put(cache2, "old", pair)
    for i in range(entrymod._CACHE_CAP):
        entrymod._cache_put(cache2, f"new{i}", FakeDF())
    assert all(df.unpersisted for df in pair)

    # flag values (store-written markers) evict without error
    cache3: dict = {}
    for i in range(entrymod._CACHE_CAP + 3):
        entrymod._cache_put(cache3, i, True)
    assert len(cache3) == entrymod._CACHE_CAP


def test_registry_count_matches_pinned():
    """Pin the registry count — growing the registry without touching
    this number fails CI, so the counts README and COVERAGE cite are
    always a test-checked figure."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) == len(o) == 209, (len(q), len(o))
