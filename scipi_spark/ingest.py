"""Source parsing + validation (P1/P2/P5).

Reference: OAG deserializer ``ScipiStream.java:260-376``, DBLP deserializer
``ScipiStream.java:379-462``, and the twin 7-rule validation mappers
``ScipiStream.java:465-756`` (OagPubMapper / DblpPubMapper — identical
logic, implemented once here and applied to both sources).

Everything is Column expressions over ``from_json`` — malformed JSON yields
NULL structs which the validation filter drops, matching the reference's
silently-drop-bad-records semantics (``ScipiStream.java:366-374,452-460``).
At scale this whole stage is a narrow map (no shuffle) fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scipi_spark.functions.text import (
    clean_authors,
    validate_str,
    validate_topics,
)
from scipi_spark.schemas import DBLP_RAW_SCHEMA, OAG_RAW_SCHEMA


def parse_oag(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """P1: raw JSON lines (OAG shape) → Publication-shaped columns.

    Authors arrive as ``array<struct<name:string>>`` and are flattened to
    their names; keywords/authors/fos are deduped at ingest (the reference
    collects them into Java Sets)."""
    # parse ONCE into a struct, then project fields: inlining the
    # from_json into every output column would re-parse the document
    # per column (9x the JSON work — measured ~4x wall on the ingest path)
    parsed = raw.select(F.from_json(F.col(json_col), OAG_RAW_SCHEMA).alias("j"))
    return parsed.select(
        F.col("j.doi").alias("doi"),
        F.col("j.title").alias("title"),
        F.col("j.publisher").alias("publisher"),
        F.col("j.venue").alias("venue"),
        F.col("j.lang").alias("lang"),
        F.array_distinct("j.keywords").alias("keywords"),
        F.col("j.year").alias("year"),
        F.array_distinct(
            F.transform("j.authors", lambda a: a["name"])
        ).alias("authors"),
        F.array_distinct("j.fos").alias("fos"),
        F.lit("oag").alias("dataset"),
    )


def parse_dblp(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """P2: DBLP JSON (key/title/year/conference/authors) → Publication shape.

    ``key`` is reused as doi, ``conference`` as venue; lang is hardcoded
    ``en`` and keywords/fos are the constant ``["computer science"]``
    (``ScipiStream.java:441-451``)."""
    parsed = raw.select(F.from_json(F.col(json_col), DBLP_RAW_SCHEMA).alias("j"))
    return parsed.select(
        F.col("j.key").alias("doi"),
        F.col("j.title").alias("title"),
        F.col("j.publisher").alias("publisher"),
        F.col("j.conference").alias("venue"),
        F.lit("en").alias("lang"),
        F.array(F.lit("computer science")).alias("keywords"),
        F.col("j.year").alias("year"),
        F.array_distinct("j.authors").alias("authors"),
        F.array(F.lit("computer science")).alias("fos"),
        F.lit("dblp").alias("dataset"),
    )


def validate_publications(parsed: DataFrame) -> DataFrame:
    """P5: the 7-rule validation filter, with cleaned values written back.

    Keep a record iff (``ScipiStream.java:465-609``):
      1. cleaned lang == "en"
      2. cleaned doi non-null
      3. cleaned title non-null
      4. cleaned publisher OR cleaned venue non-null
      5. >=1 cleaned keyword or >=1 cleaned fos (cleaning caps topics at
         30 chars and dedups)
      6. cleaned year has length 4 — but the ORIGINAL year value is kept
         (the reference validates without writing the cleaned year back,
         ``ScipiStream.java:560-566``)
      7. >=1 cleaned author (per-element validateStr, no length cap)
    """
    return (
        validate_publications_with_reasons(parsed)
        .filter(F.col("reject_reason").isNull())
        .drop("reject_reason")
    )


def validate_publications_with_reasons(parsed: DataFrame) -> DataFrame:
    """P5 with a dead-letter channel: every record annotated with
    ``reject_reason`` (NULL = valid; else the FIRST failing rule in the
    reference's check order — lang, doi, title, source, topics, year,
    authors). Training/analytics pipelines route the non-null rows to a
    quarantine sink instead of silently dropping them, so ingest loss is
    auditable.

    The cleans are the Column expressions of ``functions/text.py``, so
    validation runs inside the JVM with no Python worker; the module
    docstring there says why that is the wired path.

    The result passes through ``inline(array(struct(...)))``, one row out
    per row in. That generator is a barrier: no predicate is pushed
    through it, so a Filter on ``reject_reason`` (``validate_publications``,
    or a caller's reject audit) cannot be rewritten into the cleans by
    PushDownPredicates, with OptimizeJsonExprs then pruning each
    substituted ``from_json`` to its own schema. Without it the plain
    validator parsed each document 16 times and the reject audit 31;
    with it the document parses once (plan pinned by
    test_ingest_parses_json_exactly_once)."""
    df = parsed.select(
        validate_str("doi").alias("doi"),
        validate_str("title").alias("title"),
        validate_str("publisher").alias("publisher"),
        validate_str("venue").alias("venue"),
        validate_str("lang").alias("lang"),
        validate_topics("keywords").alias("keywords"),
        F.col("year").alias("year"),
        validate_str("year").alias("_year_clean"),
        clean_authors("authors").alias("authors"),
        validate_topics("fos").alias("fos"),
        F.col("dataset"),
    )

    def fails(cond):
        # null-safe negation: a NULL check result is a failure
        return ~F.coalesce(cond, F.lit(False))

    reason = (
        F.when(fails(F.col("lang") == "en"), "lang")
        .when(fails(F.col("doi").isNotNull()), "doi")
        .when(fails(F.col("title").isNotNull()), "title")
        .when(
            fails(F.col("publisher").isNotNull() | F.col("venue").isNotNull()),
            "source",
        )
        .when(
            fails(
                (F.coalesce(F.size("keywords"), F.lit(0)) > 0)
                | (F.coalesce(F.size("fos"), F.lit(0)) > 0)
            ),
            "topics",
        )
        .when(fails(F.length("_year_clean") == 4), "year")
        .when(fails(F.coalesce(F.size("authors"), F.lit(0)) > 0), "authors")
    )
    checked = df.select("*", reason.alias("reject_reason")).drop("_year_clean")
    return checked.select(F.inline(F.array(F.struct(*checked.columns))))


def ingest_oag(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """P1+P5 composed: the complete OAG ingest path."""
    return validate_publications(parse_oag(raw, json_col))


def ingest_dblp(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """P2+P5 composed: the complete DBLP ingest path."""
    return validate_publications(parse_dblp(raw, json_col))


def union_sources(oag: DataFrame, dblp: DataFrame) -> DataFrame:
    """P6: stream/batch union of the two validated sources
    (``ScipiStream.java:127-133``)."""
    return oag.unionByName(dblp)
