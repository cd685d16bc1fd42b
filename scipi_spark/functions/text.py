"""Scalar string-validation functions (P3/P4).

Reference semantics (``ScipiStream.java:218-257``):

- ``validateStr``: null→null; strip every char outside ``[a-zA-Z0-9\\s]``;
  trim; empty→null; lowercase.
- ``validateTopics``: per-element validateStr; drop null/empty or >30-char
  results; dedup.

Implemented as pure Column expressions, the one implementation the ingest
path (``ingest.validate_publications_with_reasons``) runs. They are not
all compiled: the array cleans' lambdas run through ``transform`` and
``filter``, which Spark evaluates interpreted (``CodegenFallback``), one
regex call per element, and a projection holding them falls out of
whole-stage codegen. This is still the path wired, because it never
leaves the JVM. A Python kernel ships every record across Arrow and
starts Python workers in each micro-batch, and on a small streaming
batch that start-up is most of the batch's cost. The reference, too,
validates with plain JVM mappers inside the stream job
(``ScipiStream.java:465-756``).

``*_py`` twins are the executable spec used by property tests; both sides
pin ``\\s`` to the Java-regex ASCII class ``[ \\t\\n\\x0b\\f\\r]`` so the
JVM and Python agree on unicode inputs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = " \t\n\x0b\f\r"  # Java regex \s (ASCII-only)
_STRIP_RE = r"[^a-zA-Z0-9\s]"
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
MAX_TOPIC_LEN = 30


def _clean(c: Column) -> Column:
    """The validateStr clean without its empty→null step: "" marks a
    value that cleans to nothing.

    The strip leaves only ASCII, so lowercasing is an A-Z → a-z
    ``translate``. ``lower`` gives the same answer, but its first call in
    a JVM took 1.3-1.6 s (Spark 4.1, 4 vCPU; ``upper`` alike, later calls
    0.1 s), and every query's first micro-batch waited for it."""
    stripped = F.btrim(F.regexp_replace(c, _STRIP_RE, ""), F.lit(_WS))
    return F.translate(stripped, _UPPER, _UPPER.lower())


def validate_str(col: Column | str) -> Column:
    """P3: clean a scalar string; returns NULL for null/empty-after-clean.

    One regex (the character-class strip), then ``btrim`` with the Java
    ``\\s`` ASCII set — byte-equivalent to the ``^\\s+|\\s+$`` regex trim
    but codegen'd and regex-free, which matters because this expression
    runs ~45x per record on the ingest path (6 scalar fields + 3 arrays;
    measured ~25% off p1_p5 validation wall at sf0.1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(_clean(c), F.lit(""))


def validate_topics(
    col: Column | str, max_len: int | None = MAX_TOPIC_LEN
) -> Column:
    """P4: clean every element, drop null/empty/too-long, dedup keeping
    the first occurrence. ``max_len=None`` drops no element for length.

    NULL input stays NULL (reference treats a missing set as missing, not
    empty). The element clean runs once: ``transform`` applies the raw
    clean and ``filter`` drops the "" it leaves for an empty result (a
    NULL element stays NULL, and ``NULL != ''`` drops it too). Writing
    ``validate_str`` inside the lambda instead would run the regex twice
    per element, because ``nullif`` expands to its operand twice."""
    c = F.col(col) if isinstance(col, str) else col

    def keep(y: Column) -> Column:
        kept = y != ""
        return kept if max_len is None else kept & (F.length(y) <= max_len)

    return F.array_distinct(F.filter(F.transform(c, _clean), keep))


def clean_authors(col: Column | str) -> Column:
    """Author-set cleaning (``ScipiStream.java:573-597``): per-element
    validateStr, drop nulls, dedup — unlike topics there is NO length cap."""
    return validate_topics(col, max_len=None)


# ---------------------------------------------------------------------------
# Pure-Python executable spec (property-test oracle)
# ---------------------------------------------------------------------------

def validate_str_py(s: str | None) -> str | None:
    if s is None:
        return None
    cleaned = re.sub(rf"[^a-zA-Z0-9{_WS}]", "", s)
    cleaned = cleaned.strip(_WS).lower()
    return cleaned or None


def validate_topics_py(
    items: list[str] | None, max_len: int | None = MAX_TOPIC_LEN
):
    """Spec of ``validate_topics``; ``max_len=None`` (no length cap) is
    the spec of ``clean_authors``."""
    if items is None:
        return None
    out: list[str] = []
    for s in items:
        c = validate_str_py(s)
        if c is None or (max_len is not None and len(c) > max_len):
            continue
        if c not in out:
            out.append(c)
    return out


# ---------------------------------------------------------------------------
# UDTF registration surface (SURVEY §2.7: absent in the reference —
# its "UDFs" are hardcoded map/flatMap/reduce classes; a full engine
# exposes user-registered table functions callable from SQL)
# ---------------------------------------------------------------------------

def register_word_lens_udtf(spark) -> None:
    """Register the ``word_lens(text)`` Python UDTF: one output row per
    whitespace token — (pos, wlen). Arrow-optimized (``useArrow=True``:
    the plan node is ArrowEvalPythonUDTF — batched Arrow transfer, never
    the row-pickling BatchEvalPython path the plan audit forbids).
    Callable from SQL via LATERAL:

        SELECT d.doc_id, s.pos, s.wlen
        FROM documents d, LATERAL word_lens(d.text) s

    Idempotent: re-registration replaces the previous definition."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, wlen int", useArrow=True)
    class WordLens:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield i, len(w)

    spark.udtf.register("word_lens", WordLens)
