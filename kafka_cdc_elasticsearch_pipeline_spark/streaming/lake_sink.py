"""Packaged lake sinks for Structured Streaming ``foreachBatch``.

The gate rows ``lake_streaming_append_exactly_once`` and
``lake_streaming_cdc_merge`` prove these shapes end-to-end (kill/
restart, doubled delivery); this module is the same contract as an
API a pipeline author actually mounts:

    q = (stream.writeStream
         .foreachBatch(lake_append_sink(spark, table, app_id="ingest"))
         .option("checkpointLocation", ckpt).start())

- ``lake_append_sink``: EXACTLY-ONCE appends — delegates to
  ``lakelog.txn_append_commit``, so a replayed/redelivered micro-batch
  is recognized by the table's manifest watermark and skipped
  atomically (Delta txnAppId/txnVersion twin).
- ``lake_ivm_sink``: CDC MERGE (``lakelog.merge_apply_cdc``) plus a
  maintained group-by view folded from each commit's change feed.

``app_id`` IDENTIFIES A CHECKPOINT LINEAGE, not an application: the
watermark skip (``batch_id <= recorded``) assumes batch ids from one
``app_id`` are monotone, which only holds while the stream keeps its
checkpoint. Deleting/resetting the checkpoint restarts batch ids at 0
— against a table that retains the old lineage's higher watermark
under the SAME app_id, every fresh batch below the stale watermark is
silently skipped as "already merged" (the standard Delta txnAppId
hazard). Derive the id from the checkpoint path
(:func:`app_id_for_checkpoint`) so a new checkpoint is automatically a
new lineage, or mint a fresh app_id whenever you reset the checkpoint.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog


def app_id_for_checkpoint(checkpoint_dir: str, prefix: str = "ckpt") -> str:
    """Stable exactly-once transaction id derived from the checkpoint
    path — one id per checkpoint lineage, so a RESET checkpoint (new
    directory, batch ids back at 0) can never collide with the
    watermark a sink table retains for the old lineage (see module
    docstring). Same-path restarts keep the same id, preserving the
    redelivery skip they rely on."""
    norm = os.path.abspath(checkpoint_dir)
    return f"{prefix}-{hashlib.sha256(norm.encode()).hexdigest()[:16]}"


def lake_append_sink(
    spark: SparkSession,
    table: str,
    app_id: str,
    stat_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_m: int = lakelog.BLOOM_BITS,
):
    """foreachBatch callable: exactly-once append of each micro-batch.
    Returns the committed version, or None when the batch was already
    in (foreachBatch ignores the return; tests use it)."""

    def sink(batch_df: DataFrame, batch_id: int):
        return lakelog.txn_append_commit(
            spark,
            table,
            batch_df,
            app_id=app_id,
            batch_id=batch_id,
            stat_cols=stat_cols,
            bloom_cols=bloom_cols,
            bloom_m=bloom_m,
        )

    return sink


def lake_ivm_sink(
    spark: SparkSession,
    source_table: str,
    view_table: str,
    keys: Sequence[str],
    ts_col: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    tiebreak: str | None = None,
    app_id: str = "ivm",
):
    """foreachBatch callable: CDC MERGE with change-data-feed
    (``lakelog.merge_apply_cdc``) into ``source_table``, then fold the
    commit's signed row deltas into a MAINTAINED group-by view
    (``view_table`` — itself a versioned lakelog table), so the view
    follows the stream at O(changed rows) per micro-batch while the
    base table is never re-aggregated.

    Crash safety without a second checkpoint, via TWO watermarks:

    - the SOURCE manifest carries ``(app_id, batch_id)`` — a
      redelivered micro-batch is recognized BEFORE merging and skips
      the merge entirely (no replay-burned source versions);
    - the VIEW manifest carries ``(app_id, source_version)`` = the
      highest source version folded in. Each batch folds every
      unapplied version ``(applied, v]`` — a crash between the source
      commit and the view commit replays as a catch-up, a fully
      applied redelivery returns without touching either table, and
      the fold + watermark land in ONE atomic view commit. (The view
      snapshot is rewritten per refresh — it is aggregate-sized by
      construction; the O(delta) economics live on the source side.)"""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.ivm import (
        delta_aggregate,
        ivm_merge,
    )

    def sink(batch_df: DataFrame, batch_id: int):
        src_head = lakelog.latest_version(source_table)
        src_wm = -1
        if src_head is not None:
            src_wm = (
                lakelog.read_manifest(source_table, src_head)
                .get("txns", {})
                .get(app_id, -1)
            )
        if batch_id <= src_wm:
            v = src_head  # redelivered batch: the merge already landed
        else:
            v = lakelog.merge_apply_cdc(
                spark, source_table, batch_df, keys, ts_col,
                tiebreak=tiebreak, txn=(app_id, batch_id),
            )
        view_v = lakelog.latest_version(view_table)
        applied = 0
        view = None
        if view_v is not None:
            manifest = lakelog.read_manifest(view_table, view_v)
            applied = manifest.get("txns", {}).get(app_id, 0)
            view = lakelog.read(spark, view_table, view_v)
        if v <= applied:
            return view_v  # redelivered batch: already folded
        feed = lakelog.read_row_changes(spark, source_table, applied, v)
        new_view = ivm_merge(
            view, delta_aggregate(feed, group_cols, sum_cols), group_cols
        )
        return lakelog.commit(
            view_table,
            new_view,
            "ivm_refresh",
            expect_parent=view_v,
            txn=(app_id, v),
        )

    return sink
