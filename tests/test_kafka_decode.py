"""Kafka value decoding: JSON path (no external jars) + Avro gating."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_cdc_elasticsearch_pipeline_spark.sources.kafka import (
    avro_available,
    decode_value,
)


def _raw(spark):
    rows = [
        ("42", json.dumps({"rating_id": 1, "stars": 4}), "2024-01-01 10:00:00"),
        ("43", json.dumps({"rating_id": 2, "stars": 1}), "2024-01-01 10:00:01"),
    ]
    return spark.createDataFrame(rows, "key string, value string, timestamp string").select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.col("timestamp").cast("timestamp").alias("timestamp"),
    )


def test_decode_value_json_path(spark):
    schema = T.StructType(
        [
            T.StructField("rating_id", T.LongType()),
            T.StructField("stars", T.IntegerType()),
        ]
    )
    out = decode_value(_raw(spark), schema).orderBy("rating_id").collect()
    assert [(r.kafka_key, r.rating_id, r.stars) for r in out] == [
        ("42", 1, 4),
        ("43", 2, 1),
    ]
    assert out[0].rowtime is not None  # ROWTIME preserved


def test_avro_string_schema_uses_python_fallback(spark):
    """Without the spark-avro jar, an Avro schema string routes to the
    engine's own binary decoder (sources.avro) instead of erroring —
    S1/S4 decode works in registry-less environments. (The richer
    end-to-end fallback coverage lives in tests/test_avro.py.)"""
    if avro_available(spark):
        pytest.skip("spark-avro present — fallback not exercised")
    from kafka_cdc_elasticsearch_pipeline_spark.sources.avro import (
        encode_record,
        parse_record_schema,
    )

    schema = '{"type":"record","name":"r","fields":[{"name":"x","type":"int"}]}'
    fields = parse_record_schema(schema)
    raw = spark.createDataFrame(
        [(b"k", encode_record({"x": 9}, fields), "2024-01-01 00:00:00")],
        "key binary, value binary, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    out = decode_value(raw, schema).collect()
    assert [(r.kafka_key, r.x) for r in out] == [("k", 9)]


def test_decode_value_tolerant_splits_malformed(spark):
    """T8 source half: malformed payloads route to the DLQ leg, valid
    ones decode — and the two legs partition the input exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_cdc_elasticsearch_pipeline_spark.sources.kafka import (
        decode_value_tolerant,
    )

    rows = [
        ("k1", '{"user_id": 1, "stars": 5}'),
        ("k2", "{not json at all"),
        ("k3", '{"user_id": 3, "stars": 2}'),
        ("k4", ""),          # empty payload -> unparseable
    ]
    raw = spark.createDataFrame(
        [(k, bytearray(v.encode())) for k, v in rows], "key string, value binary"
    ).withColumn("timestamp", F.current_timestamp())
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("stars", T.IntegerType())]
    )
    good, dead = decode_value_tolerant(raw, schema)
    g = {r.kafka_key: (r.user_id, r.stars) for r in good.collect()}
    d = {r.kafka_key for r in dead.collect()}
    assert g == {"k1": (1, 5), "k3": (3, 2)}
    assert d == {"k2", "k4"}
    assert good.count() + dead.count() == len(rows)

