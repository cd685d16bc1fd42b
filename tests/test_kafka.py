"""Kafka source/sink path (S1/S2/S10).

The test container carries neither the spark-sql-kafka connector nor a
broker, so the true integration test is gated on both (it executes
wherever ``SPARK_GRAFT_KAFKA_BROKERS`` points at a reachable cluster and
the connector jar is on the classpath — e.g. ``--packages
org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>``).

What ALWAYS runs here: the boundary test, which drives
``read_kafka_stream`` far enough to prove our wiring executes up to
Spark's data-source resolution — the failure must come from Spark not
finding the kafka provider, never from our own code.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from scipi_spark.sources.io import to_kafka_json
from scipi_spark.sources.tables import publications_analog
from scipi_spark.streaming.pipelines import read_kafka_stream

BROKERS = os.environ.get("SPARK_GRAFT_KAFKA_BROKERS")


def _has_kafka_connector(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def test_kafka_source_reaches_connector_boundary(spark):
    if _has_kafka_connector(spark):
        pytest.skip("connector present; the integration test covers this")
    with pytest.raises(Exception, match="(?i)kafka"):
        read_kafka_stream(spark, "localhost:9092", "pubs")


def test_kafka_source_rejects_unknown_source(spark):
    """An unknown source raises before the stream is built, so no kafka
    connector is needed to see it."""
    with pytest.raises(ValueError, match="unknown source 'xml'"):
        read_kafka_stream(spark, "h:9092", "t", source="xml")


def test_kafka_sink_shape_is_connector_ready(spark):
    """to_kafka_json output is exactly the (key, value) contract the kafka
    writer requires — verified structurally without a broker."""
    pubs = publications_analog(spark, "/root/testdata/sf0.001")
    shaped = to_kafka_json(pubs.limit(5), key_col="doi")
    rows = shaped.collect()
    assert shaped.columns == ["key", "value"]
    assert all(isinstance(r["key"], str) and r["value"].startswith("{") for r in rows)


@pytest.mark.skipif(
    not BROKERS, reason="set SPARK_GRAFT_KAFKA_BROKERS to run the integration test"
)
def test_kafka_roundtrip_p7(spark, tmp_path):
    """Full S10 -> S1 -> P7 integration: produce the analog corpus to a
    topic, consume it with the production source, and the streaming
    keyword count must converge to the batch twin."""
    if not _has_kafka_connector(spark):
        pytest.skip("spark-sql-kafka connector not on the classpath")
    from scipi_spark.operators import analytics

    topic = "scipi_test_pubs"
    pubs = publications_analog(spark, "/root/testdata/sf0.001")
    raw = pubs.select(
        F.to_json(
            F.struct(
                "doi", "title", "publisher", "venue", "lang", "year", "keywords",
                F.transform("authors", lambda a: F.struct(a.alias("name"))).alias(
                    "authors"
                ),
                "fos",
            )
        ).alias("value")
    )
    (
        to_kafka_json(raw.select(F.col("value")))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BROKERS)
        .option("topic", topic)
        .save()
    )
    stream = read_kafka_stream(
        spark, BROKERS, topic, starting_offsets="earliest"
    )
    q = (
        analytics.keyword_count(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("kafka_p7")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r["keyword_name"], r["keyword_count"])
        for r in spark.table("kafka_p7").collect()
    }
    want = {
        (r["keyword_name"], r["keyword_count"])
        for r in analytics.keyword_count(pubs).collect()
    }
    assert got == want
