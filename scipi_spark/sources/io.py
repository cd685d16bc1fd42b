"""File sources and sinks (SURVEY §2.1 S7-S11).

- CSV result sinks with overwrite (S7/S8 — the reference's
  ``writeAsCsv(OVERWRITE)``; S3 is the same call with an s3a:// path).
- JSONL read/write for publication corpora.
- DBLP XML ingest (S9/S10): the reference SAX-parses dblp.xml in a
  single producer JVM and emits JSON to Kafka. Here the same role is
  ``read_dblp_xml``, which parses record-boundary-split XML files in
  parallel with Spark's built-in ``from_xml``, its inverse
  ``write_dblp_xml_chunks`` (Spark's XML writer), and
  ``to_kafka_json`` shaping rows into Kafka-ready (key, value-JSON) —
  actually writing needs the Kafka connector package at runtime.
  ``iter_dblp_records`` (iterparse) is the reader's test oracle.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S7: overwrite CSV sink (arrays joined with '|' since CSV is flat).

    Quoting is RFC 4180 (``escape='"'`` → embedded quotes double as
    ``""``), so fields containing commas, quotes or newlines survive the
    roundtrip through :func:`read_csv` — the default backslash escape is
    a Spark-ism other CSV consumers trip over.

    NULL and empty string are pinned to DISTINCT encodings (round-8
    advice — Spark's defaults write both as nothing, so an empty text
    field silently came back NULL): NULL → the bare ``\\N`` sentinel
    (the MySQL-dump convention), empty string → ``""``. The one residual
    ambiguity is a field whose VALUE is the two characters ``\\N`` —
    inherent to any in-band sentinel; corpora where that matters should
    use the parquet shard sink."""
    flat = df
    for field in df.schema.fields:
        if field.dataType.typeName() == "array":
            flat = flat.withColumn(field.name, F.array_join(field.name, "|"))
    (
        flat.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("emptyValue", '""')
        .csv(path)
    )


def read_csv(
    spark: SparkSession, path: str, schema=None, header: bool = True
) -> DataFrame:
    """Read back a :func:`write_csv` sink: RFC-4180 quote doubling plus
    ``multiLine`` so quoted embedded newlines reassemble. multiLine makes
    each file non-splittable — fine for result sinks; bulk training data
    goes through the parquet shard sink instead. null/empty options
    mirror :func:`write_csv` so NULL (``\\N``) and empty string (``""``)
    round-trip distinguishably."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("multiLine", "true")
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("emptyValue", "")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Raw JSON-lines as a one-column text DF (the ingest parsers take it
    from here — malformed lines drop in validation, not at read)."""
    return spark.read.text(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.select(F.to_json(F.struct(*df.columns)).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def read_jsonl_typed(spark: SparkSession, path: str, schema) -> DataFrame:
    """Typed read-back of a :func:`write_jsonl` sink: one ``from_json``
    over the text lines with an explicit schema — ``to_json`` escapes
    embedded newlines/quotes, so hostile text round-trips exactly. The
    splittable-text + from_json pair is the JSONL scan shape that
    parallelizes at 100 TB (unlike multiLine JSON)."""
    return (
        spark.read.text(path)
        .select(F.from_json(F.col("value"), schema).alias("r"))
        .select("r.*")
    )


def write_hive_partitioned(df: DataFrame, path: str, *cols: str, fmt: str = "parquet") -> None:
    """Hive-layout partitioned sink (``col=value/`` directories) — the
    100 TB corpus organization that makes partition PRUNING possible: a
    reader's equality/IN filter on a partition column eliminates whole
    directories at planning time (the scan shows ``PartitionFilters``,
    plan-asserted in tests), so a one-source read of a 1000-source
    corpus touches 1/1000th of the files regardless of corpus size.
    Partition columns must be low-cardinality (source, date, lang);
    high-cardinality keys belong to bucketing (``storectl``) instead —
    a per-key directory layout would melt the file listing."""
    df.write.mode("overwrite").partitionBy(*cols).format(fmt).save(path)


def write_range_sorted(df: DataFrame, path: str, *cols: str, n_ranges: int = 8) -> None:
    """Range-clustered parquet sink — the DATA-SKIPPING complement to
    :func:`write_hive_partitioned` for HIGH-cardinality keys where a
    directory per value is impossible: ``repartitionByRange`` on the
    sort key(s) makes every output file a disjoint key range, and
    ``sortWithinPartitions`` makes every row group within a file tight
    on that key too, so the parquet footer min/max statistics become
    maximally selective. A reader's range/equality filter on the key
    then skips whole files AND whole row groups inside surviving files
    at the parquet-reader level (PushedFilters) — at 100 TB this turns
    a point-in-time query over an events corpus from a full scan into
    a few-row-group read, the same zone-map effect ORDER BY clustering
    gives a warehouse table. (RangePartitioner samples the key to pick
    balanced boundaries, so skew produces uneven file sizes, not
    stragglers at read time.)"""
    (
        df.repartitionByRange(n_ranges, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key expression over ``cols`` — each column is
    affinely quantized into ``bits`` levels between its corpus min/max
    (ONE tiny aggregate, broadcast back as scalars: the whitelisted
    corpus-stats idiom) and the quantized bits are interleaved, all
    with built-in integer expressions inside whole-stage codegen (no
    UDF, no shuffle). Returns (keyed_df, "_z"): the input with the key
    column attached.

    Interleaving makes lexicographic order on ``_z`` a space-filling
    curve over the column space: rows close in EVERY dimension land
    close in the file order, so parquet footer min/max on ALL the
    z-ordered columns stay tight per row group — the multi-column
    data-skipping layout (Delta/Iceberg ``OPTIMIZE ZORDER BY``) that
    1-D :func:`write_range_sorted` cannot give (sorting by (a, b)
    leaves b's per-row-group ranges as wide as the corpus)."""
    from functools import reduce

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    # the interleaved key must fit the POSITIVE range of a long: Spark's
    # shiftleft masks shift counts mod 64, so positions >= 64 would wrap
    # onto low bits and silently corrupt the curve, and bit 63 is the
    # sign bit (it would split the sort order at the sign boundary) —
    # clamp per-column precision to what 63 bits hold
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(
            f"zorder_key: {len(cols)} columns cannot share 63 key bits"
        )
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    stats = df.agg(*aggs)
    keyed = df.crossJoin(F.broadcast(stats))
    levels = (1 << bits) - 1
    terms = []
    n = len(cols)
    for ci, c in enumerate(cols):
        span = F.greatest(
            (F.col(f"_mx_{c}") - F.col(f"_mn_{c}")).cast("double"),
            F.lit(1.0),
        )
        q = F.floor(
            (F.col(c) - F.col(f"_mn_{c}")).cast("double") * levels / span
        ).cast("long")
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + ci
                )
            )
    z = reduce(lambda a, b: a + b, terms)  # disjoint bit positions
    keyed = keyed.withColumn("_z", z).drop(
        *[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols]
    )
    return keyed, "_z"


def write_zordered(
    df: DataFrame, path: str, cols: list[str], bits: int = 16,
    n_ranges: int = 8,
) -> None:
    """Z-order-clustered parquet sink: range-partition and sort by the
    Morton key of ``cols``, then drop the key — every output file and
    row group is a tight hyper-rectangle in the column space, so a
    conjunctive range predicate on ANY subset of the z-ordered columns
    skips files/row groups at the parquet-reader level. The multi-
    dimensional complement of :func:`write_range_sorted`; at 100 TB
    this is how a (user, time) or (tenant, key) point query avoids a
    full scan without a directory explosion."""
    keyed, z = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(n_ranges, z)
        .sortWithinPartitions(z)
        .drop(z)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_orc(df: DataFrame, path: str) -> None:
    """Columnar ORC sink (Spark-native writer, no extra package): the
    Hive-ecosystem interchange twin of the parquet shard sink — same
    overwrite semantics as :func:`write_csv`."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


#: DBLP publication element tags (DblpParser.java:62-160)
_DBLP_PUB_TAGS = {
    "article",
    "inproceedings",
    "proceedings",
    "book",
    "incollection",
    "phdthesis",
    "mastersthesis",
    "www",
}


def iter_dblp_records(xml_path: str) -> Iterator[dict]:
    """S9: streaming SAX-style parse of dblp-shaped XML. Yields raw dicts
    in the producer's JSON shape; records missing title/conference/year
    are dropped exactly like ``DblpParser.java:142-146``. The venue is
    ``booktitle`` when present, else ``journal``. The pure-Python
    reference that :func:`read_dblp_xml` is tested against."""
    for _, elem in ET.iterparse(xml_path, events=("end",)):
        if elem.tag not in _DBLP_PUB_TAGS:
            continue
        rec = {
            "key": elem.get("key"),
            "title": None,
            "year": None,
            "conference": None,
            "publisher": None,
            "authors": [],
            "citations": [],
        }
        venue = {}
        for child in elem:
            # itertext: inline <i>/<sub>/<sup> in a title are part of it
            text = "".join(child.itertext())
            if child.tag == "title":
                rec["title"] = text
            elif child.tag == "year":
                rec["year"] = text
            elif child.tag in ("booktitle", "journal"):
                venue[child.tag] = text
            elif child.tag == "publisher":
                rec["publisher"] = text
            elif child.tag == "author":
                if text:
                    rec["authors"].append(text)
            elif child.tag == "cite":
                if text and text != "...":
                    rec["citations"].append(text)
        rec["conference"] = venue.get("booktitle", venue.get("journal"))
        elem.clear()
        # producer-side validation (DblpParser.java:142-146)
        if rec["title"] and rec["year"] and rec["conference"]:
            yield rec


def read_dblp_xml(spark: SparkSession, xml_path: str) -> DataFrame:
    """S9: DBLP XML -> raw DataFrame in the ``DBLP_RAW_SCHEMA`` shape,
    parsed in the JVM by Spark's ``from_xml`` (the reference producer is
    ``DblpParser.java:40-160``). On well-formed XML, the rows of
    :func:`iter_dblp_records`.

    ``xml_path`` is a path or a glob. Each file is read as ONE string, so
    files parse in parallel, and a multi-GB archive must first be split
    at record boundaries into rooted chunks (the layout
    :func:`write_dblp_xml_chunks` writes). A zero-byte file holds no
    records. Inline ``<i>``/``<sub>``/``<sup>``/``<tt>`` title markup is
    stripped to its text.

    Only XML's predefined entities are known: a record holding an
    undeclared one such as ``&uuml;`` (declared in ``dblp.dtd``) parses
    to a null title and is dropped alone, where iterparse raises
    ``ParseError`` for the whole file."""
    try:
        files = spark.read.text(xml_path, wholetext=True)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            raise FileNotFoundError(f"no XML files match {xml_path!r}") from e
        raise
    text = F.regexp_replace("value", "</?(i|sub|sup|tt)>", "")
    tags = "|".join(sorted(_DBLP_PUB_TAGS))
    rec = F.from_xml(
        "rec",
        "_key string, author array<string>, title string, year string,"
        " booktitle string, journal string, publisher string, cite array<string>",
        {"ignoreSurroundingSpaces": "false"},
    )
    pubs = (
        files.select(
            F.explode(F.regexp_extract_all(text, F.lit(f"(?s)(<({tags})\\b.*?</\\2>)"), 1))
            .alias("rec")
        )
        # the generator keeps one from_xml: without it the filters below
        # are pushed into the parse and re-run it once per reference
        .select(F.inline(F.array(F.struct(rec.alias("r")))))
        .select(
            F.col("r._key").alias("key"),
            "r.title",
            "r.year",
            F.coalesce("r.booktitle", "r.journal").alias("conference"),
            "r.publisher",
            F.coalesce(F.filter("r.author", lambda a: a != ""), F.array()).alias("authors"),
            F.coalesce(F.filter("r.cite", lambda c: c != "..."), F.array()).alias("citations"),
        )
    )
    # producer-side validation (DblpParser.java:142-146)
    return pubs.filter("title != '' AND year != '' AND conference != ''")


def read_dblp_xml_distributed(spark: SparkSession, chunks_glob: str) -> DataFrame:
    """Distributed S9: :func:`read_dblp_xml` over a glob of chunk files."""
    return read_dblp_xml(spark, chunks_glob)


def write_dblp_xml_chunks(
    df: DataFrame, out_dir: str, records_per_chunk: int = 5000
) -> None:
    """Distributed XML chunk sink, the inverse of :func:`read_dblp_xml`:
    Spark's XML writer overwrites ``out_dir`` with ``<dblp>``-rooted
    files of at most ``records_per_chunk`` ``<article>`` records, one or
    more per task. ``conference`` is written as ``<journal>``; the
    characters XML 1.0 forbids are stripped from every string.

    Input columns: key, title, year, conference, publisher,
    authors (array<string>) — the DBLP_RAW_SCHEMA shape minus citations
    (optional column, written as ``<cite>`` elements when present)."""

    def clean(c):
        return F.regexp_replace(
            c, "[^\\x09\\x0A\\x0D\\x20-\\x{D7FF}\\x{E000}-\\x{FFFD}\\x{10000}-\\x{10FFFF}]", ""
        )

    cols = [
        clean("key").alias("_key"),  # the key attribute
        F.transform("authors", clean).alias("author"),
        clean("title").alias("title"),
        clean("year").alias("year"),
        clean("conference").alias("journal"),
        clean("publisher").alias("publisher"),
    ]
    if "citations" in df.columns:
        cols.append(F.transform("citations", clean).alias("cite"))
    (
        df.select(cols)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "dblp")
        .option("rowTag", "article")
        .option("maxRecordsPerFile", records_per_chunk)
        .save(out_dir)
    )


def to_kafka_json(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """S10: shape rows into Kafka producer records — (key, value) with the
    row serialized as one JSON document, ready for
    ``.write.format("kafka")`` where the connector is available."""
    value = F.to_json(F.struct(*df.columns)).alias("value")
    if key_col is None:
        return df.select(value)
    return df.select(F.col(key_col).cast("string").alias("key"), value)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key: str = "doc_id",
    order_col: str | None = None,
    fmt: str = "parquet",
) -> None:
    """Write a training corpus as exactly ``n_shards`` deterministic
    shard files: shard = portable md5-bucket of ``key`` (the same
    bucketing as :mod:`scipi_spark.operators.sampling`, so a document's
    shard never changes across runs or cluster layouts), one output
    file per shard, rows sorted within each shard by ``order_col``
    (default: the key's bucket order, i.e. a deterministic corpus-level
    shuffle — exactly what a training loader wants, NOT ingestion
    order).

    Plan shape: one ``repartition(n_shards, shard)`` exchange +
    ``sortWithinPartitions`` (no global sort), written with
    ``partitionBy(shard)`` so loaders address shards as
    ``shard=K/part-*``. At 100 TB pick n_shards so each shard is
    ~0.5-2 GB; the writer never funnels through fewer tasks than
    shards."""
    from pyspark.sql import functions as F

    from scipi_spark.operators.sampling import hash_bucket, shard_assignment

    out = shard_assignment(df, key=key, n_shards=n_shards)
    order = order_col or "_order"
    if order_col is None:
        out = out.withColumn("_order", hash_bucket(key))
    (
        # key appended to the sort: the coarse bucket order alone has
        # ties, and file content must be byte-deterministic
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", order, key)
        .drop(*([] if order_col else ["_order"]))
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(path)
    )
