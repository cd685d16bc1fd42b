"""P1-P5 ingest tests: property tests for the scalar cleaners vs their
pure-Python spec, and end-to-end JSONL parse+validate with dirty records
(the fixture violates each of the 7 rules at least once — FIXTURES.md A2)."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from scipi_spark import ingest
from scipi_spark.functions.text import (
    clean_authors,
    validate_str,
    validate_str_py,
    validate_topics,
    validate_topics_py,
)
from scipi_spark.streaming.pipelines import read_publications_stream
from tests.oracle import executed_plan

TEXTISH = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"), max_size=40
)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.one_of(st.none(), TEXTISH), min_size=0, max_size=60))
def test_validate_str_matches_spec(spark, values):
    df = spark.createDataFrame([(v,) for v in values] or [(None,)], "s string")
    got = [r[0] for r in df.select(validate_str("s")).collect()]
    want = [validate_str_py(v) for v in (values or [None])]
    assert sorted(got, key=str) == sorted(want, key=str)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.lists(TEXTISH, max_size=6)),
        min_size=1,
        max_size=20,
    )
)
def test_validate_topics_matches_spec(spark, arrays):
    df = spark.createDataFrame([(a,) for a in arrays], "a array<string>")
    got = [r[0] for r in df.select(validate_topics("a")).collect()]
    want = [validate_topics_py(a) for a in arrays]
    # row order is preserved for a parallelized local collection
    assert got == want


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(st.one_of(st.none(), TEXTISH, st.just("z" * 45)), max_size=6),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_clean_authors_matches_spec(spark, arrays):
    """clean_authors is validate_topics with no length cap; its spec is
    validate_topics_py(items, max_len=None)."""
    df = spark.createDataFrame([(a,) for a in arrays], "a array<string>")
    got = [r[0] for r in df.select(clean_authors("a")).collect()]
    want = [validate_topics_py(a, max_len=None) for a in arrays]
    assert got == want


OAG_FIXTURE = [
    # valid, with dirty strings to clean
    {"doi": "10.1/A-b", "title": "A Title!", "publisher": "ACM.", "venue": None,
     "lang": "EN", "year": " 2001 ", "keywords": ["Graph!!", "graph", "x" * 40],
     "authors": [{"name": "Alice B."}, {"name": "alice b"}], "fos": ["CS"]},
    # non-english -> dropped
    {"doi": "10.2", "title": "t", "publisher": "p", "venue": "v", "lang": "fr",
     "year": "2002", "keywords": ["k"], "authors": [{"name": "a"}], "fos": ["f"]},
    # null doi -> dropped
    {"doi": None, "title": "t", "publisher": "p", "venue": "v", "lang": "en",
     "year": "2002", "keywords": ["k"], "authors": [{"name": "a"}], "fos": ["f"]},
    # empty-after-clean title -> dropped
    {"doi": "10.3", "title": "!!!", "publisher": "p", "venue": "v", "lang": "en",
     "year": "2002", "keywords": ["k"], "authors": [{"name": "a"}], "fos": ["f"]},
    # both publisher and venue missing -> dropped
    {"doi": "10.4", "title": "t", "publisher": None, "venue": "??", "lang": "en",
     "year": "2002", "keywords": ["k"], "authors": [{"name": "a"}], "fos": ["f"]},
    # no keywords and no fos -> dropped
    {"doi": "10.5", "title": "t", "publisher": "p", "venue": "v", "lang": "en",
     "year": "2002", "keywords": [], "authors": [{"name": "a"}], "fos": None},
    # year length != 4 -> dropped
    {"doi": "10.6", "title": "t", "publisher": "p", "venue": "v", "lang": "en",
     "year": "20021", "keywords": ["k"], "authors": [{"name": "a"}], "fos": ["f"]},
    # no authors -> dropped
    {"doi": "10.7", "title": "t", "publisher": "p", "venue": "v", "lang": "en",
     "year": "2002", "keywords": ["k"], "authors": [], "fos": ["f"]},
    # keywords all invalid but fos valid -> kept
    {"doi": "10.8", "title": "t2", "publisher": "p", "venue": "v", "lang": "en",
     "year": "1999", "keywords": ["???", "x" * 31], "authors": [{"name": "Bob"}],
     "fos": ["Biology"]},
]


def test_oag_ingest_end_to_end(spark):
    lines = [json.dumps(r) for r in OAG_FIXTURE] + ["{not valid json", ""]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    out = ingest.ingest_oag(raw).collect()
    by_doi = {r["doi"]: r for r in out}
    assert set(by_doi) == {"101ab", "108"}

    first = by_doi["101ab"]
    assert first["title"] == "a title"
    assert first["publisher"] == "acm"
    assert first["venue"] is None
    assert first["year"] == " 2001 "  # original kept, per reference quirk
    assert first["keywords"] == ["graph"]  # cleaned, deduped, >30 dropped
    assert first["authors"] == ["alice b"]  # cleaned + deduped, no length cap
    assert first["dataset"] == "oag"

    second = by_doi["108"]
    assert second["keywords"] == []  # all invalid, but fos saved the record
    assert second["fos"] == ["biology"]


def test_dblp_ingest_end_to_end(spark):
    recs = [
        {"key": "conf/x/1", "title": "Paper One", "year": "2010",
         "conference": "SIGMOD", "authors": ["A One", "B Two"]},
        # no conference and no publisher -> dropped (rule 4)
        {"key": "conf/x/2", "title": "Paper Two", "year": "2010",
         "conference": None, "authors": ["A One"]},
    ]
    raw = spark.createDataFrame([(json.dumps(r),) for r in recs], "value string")
    out = ingest.ingest_dblp(raw).collect()
    assert len(out) == 1
    r = out[0]
    assert r["doi"] == "confx1"
    assert r["venue"] == "sigmod"
    assert r["lang"] == "en"
    assert r["keywords"] == ["computer science"]
    assert r["fos"] == ["computer science"]
    assert r["dataset"] == "dblp"


def test_union_sources(spark):
    oag = spark.createDataFrame(
        [(json.dumps(OAG_FIXTURE[0]),)], "value string"
    )
    dblp = spark.createDataFrame(
        [(json.dumps({"key": "k1", "title": "t", "year": "2000",
                      "conference": "c", "authors": ["a"]}),)],
        "value string",
    )
    u = ingest.union_sources(ingest.ingest_oag(oag), ingest.ingest_dblp(dblp))
    assert u.count() == 2
    assert set(r["dataset"] for r in u.collect()) == {"oag", "dblp"}


def test_clean_authors_no_length_cap(spark):
    df = spark.createDataFrame([([("x" * 50), "Y!"],)], "a array<string>")
    got = df.select(clean_authors("a").alias("c")).collect()[0]["c"]
    assert got == ["x" * 50, "y"]


def test_reject_reasons_first_failing_rule(spark):
    lines = [json.dumps(r) for r in OAG_FIXTURE]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    parsed = ingest.parse_oag(raw)
    rows = ingest.validate_publications_with_reasons(parsed).collect()
    by_doi = {r["doi"]: r["reject_reason"] for r in rows}
    assert by_doi["101ab"] is None            # valid
    assert by_doi["108"] is None              # fos saved it
    assert by_doi["102"] == "lang"
    assert by_doi[None] == "doi"
    assert by_doi["103"] == "title"
    assert by_doi["104"] == "source"          # venue "??" cleans to null too
    assert by_doi["105"] == "topics"
    assert by_doi["106"] == "year"
    assert by_doi["107"] == "authors"
    # the plain validator is exactly "reason is null"
    kept = {r["doi"] for r in ingest.validate_publications(parsed).collect()}
    assert kept == {d for d, why in by_doi.items() if why is None}


def _stream_batch_plan(spark, tmp_path, lines):
    """Executed plan of the micro-batch of a read_publications_stream over
    one file of ``lines``, captured inside foreachBatch. The batch
    DataFrame handed to the function is a scan of the already planned
    RDD, so the plan is read from the query's current execution."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.jsonl").write_text("\n".join(lines) + "\n")
    plans = []

    def capture(_df, _batch_id):
        (query,) = [s for s in spark.streams.active if s.name == "ingest_plan_pin"]
        execution = query._jsq.streamingQuery().lastExecution()
        plans.append(execution.executedPlan().toString())

    q = (
        read_publications_stream(spark, str(src))
        .writeStream.queryName("ingest_plan_pin")
        .foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(plans) == 1
    return plans[0]


@pytest.mark.parametrize(
    "path", ["ingest_oag", "ingest_dblp", "stream", "reject_audit"]
)
def test_ingest_parses_json_exactly_once(spark, tmp_path, path):
    """Plan-shape pin for the Column validation path. Without a barrier,
    a Filter on ``reject_reason`` is rewritten by PushDownPredicates in
    terms of the raw json column, and OptimizeJsonExprs prunes each
    substituted from_json to its own single-field schema (16 from_json
    nodes for the valid rows, 31 for the rejected ones, each a full
    re-parse per row). validate_publications_with_reasons ends in a
    generator, which no predicate passes, so exactly ONE from_json
    survives, in batch, in a stream micro-batch and in a reject audit
    that filters the annotated rows itself. No Python
    node: validation never starts a Python worker. On OAG the regex
    strip runs once per cleaned field (6 scalars + 3 arrays), not
    twice per array element as a nullif inside the lambda would. No
    ``lower``: its first call in a JVM costs about 1.5 s, which every
    query's first micro-batch would wait for."""
    if path == "ingest_dblp":
        lines = [json.dumps({"key": "conf/x/1", "title": "T", "year": "2010",
                             "conference": "C", "authors": ["A One"]})]
    else:
        lines = [json.dumps(r) for r in OAG_FIXTURE]
    if path == "stream":
        plan = _stream_batch_plan(spark, tmp_path, lines)
    else:
        raw = spark.createDataFrame([(l,) for l in lines], "value string")
        if path == "reject_audit":
            checked = ingest.validate_publications_with_reasons(ingest.parse_oag(raw))
            out = checked.filter(F.col("reject_reason").isNotNull())
        else:
            out = getattr(ingest, path)(raw)
        plan = executed_plan(out)
    assert plan.count("from_json") == 1, plan
    assert "EvalPython" not in plan, plan
    assert "lower(" not in plan, plan
    if path != "ingest_dblp":
        assert plan.count("regexp_replace") == 9, plan


def test_column_cleans_match_spec_on_edge_cases(spark):
    """Hand-picked cases for the Column cleans against the _py specs:
    unicode, None elements, "" and whitespace-only input, the 30/31
    character topic cap, and first-occurrence dedup order."""
    rows = [
        ("  A!b C ", ["Top#1", "top1", None, "x" * 31, "", "  "], ["A.", "a", None]),
        (None, None, None),
        ("", [], []),
        ("\t\n", ["ok topic", "OK  topic!", "y" * 30 + "!!"], ["Zed", "zed!"]),
        ("ünïcode-Ω", ["ünï", "Ω" * 40], ["ß", "x" * 31]),
        ("  ", ["b", "A", "b!", "a"], ["  ", "", None]),
    ]
    df = spark.createDataFrame(
        rows, "s string, topics array<string>, auth array<string>"
    )
    got = df.select(
        validate_str("s").alias("s"),
        validate_topics("topics").alias("t"),
        clean_authors("auth").alias("a"),
    ).collect()
    want = [
        (validate_str_py(s), validate_topics_py(t), validate_topics_py(a, max_len=None))
        for s, t, a in rows
    ]
    assert [tuple(r) for r in got] == want
    # the cases reach each edge they name
    assert want[0] == ("ab c", ["top1"], ["a"])
    assert want[3][1] == ["ok topic", "ok  topic", "y" * 30]
    assert want[4] == ("ncode", ["n"], ["x" * 31])
    assert want[5] == (None, ["b", "a"], [])
