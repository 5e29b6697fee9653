"""Relational core (SURVEY §2.2, §2.3, §2.6, §2.7).

Everything here is declarative DataFrame composition — Catalyst does
predicate pushdown, column pruning, join-strategy selection, and AQE
does runtime skew handling. No operator in this module collects or
loops driver-side, so each scales with executor count. One stores
state: ``enrich_stream_table`` runs a streaming join's fixed static
table once, when the DAG is built.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.operators import caching


def split_streams(
    df: DataFrame, channel_col: str | Column, pattern: str = "%test%"
) -> tuple[DataFrame, DataFrame]:
    """P4/P5 — the RATINGS_LIVE / RATINGS_TEST disjoint split
    (ksqldb-statements.sql:13-17): ``WHERE LCASE(col) [NOT] LIKE pat``.

    Returns ``(live, test)``. The two filters share one scan when both
    sides are consumed in the same job (Spark reuses the exchange /
    scan via ReusedExchange under AQE); at 100 TB this matters — the
    alternative "read twice" doubles I/O.

    NULL semantics match ksqlDB: a NULL channel is in *neither* split
    (3-valued logic drops it from both), so ``live ∪ test ≡ input``
    only when the split column is non-null — true for the reference's
    datagen and for the harness tables.
    """
    c = F.lower(F.col(channel_col)) if isinstance(channel_col, str) else F.lower(channel_col)
    return df.filter(~c.like(pattern)), df.filter(c.like(pattern))


def enrich_stream_table(
    stream: DataFrame,
    table: DataFrame,
    stream_key: Column,
    table_key: Column,
    projection: Sequence[Column],
    how: str = "left",
    broadcast_table: bool = True,
) -> DataFrame:
    """J1 — the reference's only join: stream LEFT OUTER equi-join to a
    table on a cast key (ksqldb-statements.sql:50-60):

        FROM RATINGS_LIVE R LEFT JOIN CUSTOMERS C
          ON CAST(R.USER_ID AS STRING) = C.CUSTOMER_ID

    ksqlDB executes this as a local state-store lookup per record — the
    moral equivalent of a broadcast hash join, which is exactly what we
    ask Catalyst for: dimension tables (20 rows in the reference;
    O(millions) realistically) are broadcast so the 100 TB fact side
    never shuffles. If the dim outgrows broadcast, drop the hint and
    Catalyst falls back to shuffled hash / sort-merge, ideally with
    both sides bucketed on the key (see plans/ notes).

    The build (broadcast) side depends on the stream:

    - a batch ``stream``, or a streaming one whose table is not fixed
      (``caching.answer_is_fixed``: a DataSource V2 leaf is planned anew
      per micro-batch), builds the TABLE side, re-planned per run;
    - a streaming ``stream`` over a fixed table reads the table from
      state stored once, here (``caching.materialize``), so no
      micro-batch rescans, re-reduces or re-broadcasts it. An inner
      join then drops the hint and Spark builds the smaller side by
      its size statistics: the micro-batch, below
      ``spark.sql.autoBroadcastJoinThreshold``. A left outer join can
      only build its right side, so it keeps broadcasting the table,
      now from the stored rows.

    With pinning disabled (``SPARK_GRAFT_PIN_REUSED=0``) nothing is
    stored and every stream takes the first path.
    """
    stored = (
        stream.isStreaming
        and caching.pinning_enabled()
        and caching.answer_is_fixed(table)
    )
    if stored:
        table = caching.materialize(table)
    hint = broadcast_table and not (stored and how == "inner")
    t = F.broadcast(table) if hint else table
    joined = stream.join(t, stream_key == table_key, how)
    return joined.select(*projection)


def point_lookup(df: DataFrame, key_col: str, value) -> DataFrame:
    """P8 — point predicate on a key (readme.md:331, readme.md:444).

    Declarative filter ⇒ pushed to the parquet scan (PushedFilters) or,
    on a partitioned/bucketed layout, prunes partitions entirely.
    """
    return df.filter(F.col(key_col) == F.lit(value))


def topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """L2-style top-k: ORDER BY ... LIMIT k.

    Spark plans this as TakeOrderedAndProject — each partition keeps a
    size-k heap, then the driver merges P heaps; no global sort of the
    100 TB input ever happens. Callers must pass a *total* order
    (include a unique tiebreak column) for deterministic output.
    """
    return df.orderBy(*order).limit(k)


def rekey(df: DataFrame, *cols: str) -> DataFrame:
    """R1 — ``PARTITION BY`` re-keying (ksqldb-statements.sql:68).

    In Kafka terms the reference rewrites the message key and thereby
    the topic partitioning; the Spark twin is a hash repartition on the
    new key, which is what downstream per-key operators (windowed aggs,
    joins) would reuse, and what the Kafka sink uses as message key.
    """
    return df.repartition(*[F.col(c) for c in cols])
