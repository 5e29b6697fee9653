"""The reference's end-to-end dataflow DAG, reference-domain column
names (SURVEY top-of-file diagram; ksqldb-statements.sql:13-93).

    ratings ─┬▶ ratings_live   (LCASE(channel) NOT LIKE '%test%')
             └▶ ratings_test   (LCASE(channel) LIKE '%test%')
    ratings_live ⟕ customers(latest per key, CAST key)
        ──▶ ratings_with_customer_data
            ├▶ unhappy_platinum_customers (stars<3 AND platinum,
            │                              PARTITION BY full_name)
            └▶ ratings_per_customer_per_15minute (tumbling 15 min,
                                   COUNT(*), COLLECT_LIST(stars))

This module is schema-parametric over the reference fixtures
(FIXTURES.md §A): `ratings(rating_id, user_id, stars, route_id,
rating_time, channel, message)` and a `customers` changelog
`(id, first_name, last_name, email, gender, club_status, comments,
create_ts, update_ts, op_seq)`.

Every edge is lazy DataFrame composition — the whole DAG is one
Catalyst plan per sink. Sinks share no work: the enriched stream
feeds both the filter and the windowed agg, and each sink's plan runs
that prefix again. Streamed, each sink is its own query: every
micro-batch re-runs its prefix, and the stateful window query plans
without AQE. What a streamed DAG does run once is TABLE CUSTOMERS
when it is fixed: ``enrich_stream_table`` stores it as the DAG is
built, and every micro-batch of the three queries joins the stored
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.functions.scalar import str_concat
from kafka_cdc_elasticsearch_pipeline_spark.operators.relational import (
    enrich_stream_table,
    rekey,
    split_streams,
)
from kafka_cdc_elasticsearch_pipeline_spark.operators.table import latest_per_key
from kafka_cdc_elasticsearch_pipeline_spark.operators.windows import (
    collect_sorted,
    tumbling_agg,
)


def ratings_pipeline(ratings: DataFrame, customers_changelog: DataFrame) -> dict[str, DataFrame]:
    """Wire the full reference DAG; returns every derived relation.

    Batch semantics (the DuckDB-checkable path); the streaming twin
    lives in ``streaming/`` and reuses the same operator calls.
    """
    # RATINGS_LIVE / RATINGS_TEST (ksqldb-statements.sql:13-17)
    live, test = split_streams(ratings, "channel", "%test%")

    # TABLE CUSTOMERS: latest per key (ksqldb-statements.sql:42-43);
    # update_ts orders the changelog, op_seq breaks ties (≙ offset).
    customers = latest_per_key(
        customers_changelog, ["id"], "update_ts", tiebreak="op_seq", method="max_by"
    )

    # RATINGS_WITH_CUSTOMER_DATA (ksqldb-statements.sql:50-60):
    # LEFT JOIN ON CAST(user_id AS STRING) = customer_id,
    # FULL_NAME = first_name + ' ' + last_name, WHERE first_name IS NOT NULL.
    # The WHERE drops every unmatched rating, so the join is inner (as
    # Catalyst already plans the LEFT JOIN); an inner join lets a
    # micro-batch be the broadcast side against the stored table.
    enriched = enrich_stream_table(
        live,
        customers,
        live["user_id"].cast("string"),
        customers["id"].cast("string"),
        projection=[
            live["rating_id"],
            live["user_id"],
            live["stars"],
            live["rating_time"],
            live["channel"],
            live["message"],
            customers["id"].alias("customer_id"),
            str_concat(customers["first_name"], F.lit(" "), customers["last_name"]).alias(
                "full_name"
            ),
            customers["club_status"],
            customers["email"],
        ],
        how="inner",
    ).filter(F.col("full_name").isNotNull())

    # UNHAPPY_PLATINUM_CUSTOMERS (ksqldb-statements.sql:63-68):
    # STARS < 3 AND CLUB_STATUS = 'platinum', PARTITION BY FULL_NAME.
    unhappy = rekey(
        enriched.filter((F.col("stars") < 3) & (F.col("club_status") == "platinum")),
        "full_name",
    )

    # RATINGS_PER_CUSTOMER_PER_15MINUTE (ksqldb-statements.sql:88-93).
    per_15min = tumbling_agg(
        enriched.withColumn("_ts", F.timestamp_millis(F.col("rating_time"))),
        "_ts",
        "15 minutes",
        ["full_name"],
        [
            F.count(F.lit(1)).alias("ratings_count"),
            collect_sorted("stars", "ratings"),
        ],
    )

    return {
        "ratings_live": live,
        "ratings_test": test,
        "customers": customers,
        "ratings_with_customer_data": enriched,
        "unhappy_platinum_customers": unhappy,
        "ratings_per_customer_per_15minute": per_15min,
    }
