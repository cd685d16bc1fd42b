"""Simulate the driver's t2 correctness gate: run every ``queries()`` entry
and compare with its ``oracle_sql()`` twin via DuckDB at sf0.01, then audit
the plan the compare executed for scale anti-patterns."""

from __future__ import annotations

import os
import tempfile

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
def test_query_matches_oracle(spark, name, tmp_path, monkeypatch):
    # a private temp dir per entry, so another process's scratch dirs
    # cannot be mistaken for this entry's
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = QUERIES[name](spark, SF_ORACLE)
    # an entry removes every scratch directory it made
    leaked = [n for n in os.listdir(tmp_path) if n.startswith("scipi_")]
    assert not leaked, leaked
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


def test_registry_count_matches_pinned():
    """Pin the registry count — growing the registry without touching
    this number fails CI, so the counts README and COVERAGE cite are
    always a test-checked figure."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) == len(o) == 209, (len(q), len(o))
