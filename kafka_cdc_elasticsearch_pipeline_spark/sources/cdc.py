"""CDC source surface: Debezium envelope decode + SMT equivalents
(SURVEY §2.1 S4/S9/S10/S11).

The reference provisions a Debezium MySQL source connector
(ksqldb-statements.sql:19-38) with three single-message transforms:

- ``ExtractNewRecordState`` (ksqldb-statements.sql:31-32): unwrap the
  ``{before, after, source, op, ts_ms}`` envelope to the flat ``after``
  row  -> ``unwrap_envelope`` here (``from_json`` + ``after.*``).
- ``ExtractField$Key`` (ksqldb-statements.sql:33-34): message key
  becomes the scalar id -> ``extract_key``.
- ``InsertField$Value`` (ksqldb-statements.sql:8-10, 82-84): stamp a
  wall-clock ingest timestamp -> ``insert_extract_ts``.

Decode is pure Catalyst expressions (``from_json`` over a typed
StructType) — JVM-side, codegen'd, no Python in the hot path. At
100 TB of changelog this runs as a narrow map stage fused into the
scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def debezium_envelope_schema(row_schema: T.StructType) -> T.StructType:
    """The Debezium change-event value schema for a given table row
    schema (the shape ExtractNewRecordState removes — FIXTURES.md §A3).
    """
    return T.StructType(
        [
            T.StructField("before", row_schema, True),
            T.StructField("after", row_schema, True),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("db", T.StringType(), True),
                        T.StructField("table", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )


def unwrap_envelope(
    raw: DataFrame, row_schema: T.StructType, value_col: str = "value"
) -> DataFrame:
    """S10 — ExtractNewRecordState: JSON envelope -> flat ``after`` row.

    ``raw`` is Kafka-shaped (a string/binary ``value`` column). Delete
    events (``after IS NULL``, op='d') are surfaced with null row
    columns plus the ``_op``/``_ts_ms`` metadata so the TABLE layer can
    treat them as tombstones.
    """
    env = debezium_envelope_schema(row_schema)
    parsed = raw.withColumn("_env", F.from_json(F.col(value_col).cast("string"), env))
    return parsed.select(
        F.col("_env.after.*"),
        F.col("_env.op").alias("_op"),
        F.col("_env.ts_ms").alias("_ts_ms"),
    )


def unwrap_envelope_cdc(
    raw: DataFrame,
    row_schema: T.StructType,
    keys: Sequence[str],
    value_col: str = "value",
) -> DataFrame:
    """Envelope decode for a MERGE consumer: like
    :func:`unwrap_envelope`, but delete events (``after IS NULL``,
    op='d') recover their ``keys`` columns from ``before`` — the last
    row image Debezium ships with a delete — so every decoded row
    carries the key the merge needs. Output: row columns + ``_op`` +
    ``_ts_ms``; feed it to ``lakelog.merge_apply_cdc(keys=...,
    ts_col="_ts_ms", op_col="_op")``."""
    env = debezium_envelope_schema(row_schema)
    parsed = raw.withColumn(
        "_env", F.from_json(F.col(value_col).cast("string"), env)
    )
    cols = []
    for f in row_schema.fields:
        c = F.col(f"_env.after.{f.name}")
        if f.name in keys:
            c = F.coalesce(c, F.col(f"_env.before.{f.name}"))
        cols.append(c.alias(f.name))
    return parsed.select(
        *cols,
        F.col("_env.op").alias("_op"),
        F.col("_env.ts_ms").alias("_ts_ms"),
    )


def wrap_envelope_cdc(
    df: DataFrame,
    op_col: str = "_op",
    ts_col: str | None = None,
    delete_ops: Sequence[str] = ("d",),
    db: str = "demo",
    table: str = "customers",
) -> DataFrame:
    """Per-row-op inverse of :func:`unwrap_envelope_cdc`: rows whose
    ``op_col`` ∈ ``delete_ops`` get the Debezium delete shape
    (``after`` NULL, ``before`` = the row image); everything else gets
    ``after`` = the row. Used by tests and the deterministic replay
    path to exercise the full CDC delete flow without a broker."""
    data_cols = [c for c in df.columns if c not in (op_col, ts_col)]
    row = F.struct(*[F.col(c) for c in data_cols])
    is_del = F.col(op_col).isin(list(delete_ops))
    value = F.to_json(
        F.struct(
            F.when(is_del, row).alias("before"),
            F.when(~is_del, row).alias("after"),
            F.col(op_col).alias("op"),
            (
                F.col(ts_col).cast("long") if ts_col else F.lit(0).cast("long")
            ).alias("ts_ms"),
            F.struct(F.lit(db).alias("db"), F.lit(table).alias("table")).alias(
                "source"
            ),
        )
    )
    return df.select(value.alias("value"))


def extract_key(df: DataFrame, id_col: str, key_col: str = "kafka_key") -> DataFrame:
    """S11 — ExtractField$Key: scalar id field becomes the message key
    (string-typed, as ksqlDB's StringConverter sees it)."""
    return df.withColumn(key_col, F.col(id_col).cast("string"))


def insert_extract_ts(
    df: DataFrame, col_name: str = "EXTRACT_TS", at: str | None = None
) -> Column | DataFrame:
    """S9 — InsertField$Value (timestamp.field): wall-clock ingest time.

    Wall clock is nondeterministic by design; pass ``at`` (an ISO
    timestamp) to pin it — the replay/oracle path does, so the SMT is
    still covered by the correctness gate.
    """
    ts = (
        F.lit(at).cast("timestamp_ntz") if at is not None else F.current_timestamp()
    )
    return df.withColumn(col_name, ts)


def wrap_envelope(df: DataFrame, op: str = "c", db: str = "demo", table: str = "customers") -> DataFrame:
    """Inverse of ``unwrap_envelope`` — produce Kafka-shaped rows whose
    ``value`` is a Debezium JSON envelope. Used by tests and the
    deterministic replay path to exercise S4/S10 without a broker.
    """
    row = F.struct(*[F.col(c) for c in df.columns])
    value = F.to_json(
        F.struct(
            row.alias("after"),
            F.lit(op).alias("op"),
            F.lit(0).cast("long").alias("ts_ms"),
            F.struct(F.lit(db).alias("db"), F.lit(table).alias("table")).alias("source"),
        )
    )
    return df.select(value.alias("value"))
