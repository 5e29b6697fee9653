"""Checkpoint recovery: kill a stateful StreamingQuery mid-replay and
prove the restart resumes from state (R2 + T3/T5 durability).

The reference's operational core is resumability: Kafka consumer
offsets plus connector restart (readme.md:497-503 treats
RUNNING-after-restart as the health gate; ksqldb-statements.sql:49
replays from earliest). Structured Streaming's equivalent contract is
the checkpoint: source offsets in the WAL, aggregation state in the
state store. These helpers exercise that contract end-to-end:

1. Stage the table as N one-file micro-batches (the 6/8-batch fixture
   replay, same mechanics as ``replay.replay_stream``).
2. Run a stateful query over a *prefix* of the files and let it
   terminate (``availableNow`` — the consumer "dies" caught-up, mid-
   replay), or genuinely ``stop()`` it mid-flight (the unit test does
   both).
3. Restart a fresh query from the SAME ``checkpointLocation`` over the
   full file set. The restarted query must (a) not re-read committed
   files and (b) reload its aggregation state, or cross-boundary
   groups (windows split across the kill point, keys whose latest
   event predates it) come out wrong.
4. Compact the ``foreachBatch`` update log with last-update-wins and
   hash-match the batch oracle.

Why ``foreachBatch`` + parquet log rather than the memory sink: the
memory sink is not fault-tolerant (its table dies with the query), so
it cannot express "the output survives a restart". An append-only
parquet update log is the durable twin — at-least-once per batch, made
exactly-once by the deterministic last-update-per-key compaction
(re-delivered batches rewrite identical rows; ``_batch_id`` ties carry
equal values).

Scale notes: this is precisely how a 100 TB deployment runs the T5
table — update-mode changelog to an object-store log, compaction on
read (or the lake MERGE in ``sources/lake.py``) — so the recovery
proof doubles as a test of that architecture.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table


def stage_replay_files(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    chunks: int = 8,
    order_col: str | None = "ts",
) -> tuple[str, list[str], T.StructType]:
    """Write table ``name`` as ``chunks`` single-file batches under
    ``<tmp>/all`` with strictly increasing mtimes in chunk order.

    Returns ``(tmp_root, part_file_names, schema)``; ``<tmp>/live`` is
    created empty — callers ``reveal()`` files into it to control how
    much of the replay each query run can see. ``order_col=None``
    chunks round-robin instead of by event time, which makes state
    loss *visible* to latest-per-key compaction (a key's newest event
    may land in an early chunk, so a restart that forgot its state
    emits an older event as a later update).
    """
    batch = load_table(spark, sf_dir, name)
    tmp = tempfile.mkdtemp(prefix=f"recov_{name}_")
    all_dir = os.path.join(tmp, "all")
    if order_col:
        staged = batch.repartitionByRange(chunks, order_col)
    else:
        staged = batch.repartition(chunks)
    staged.write.mode("overwrite").parquet(all_dir)
    parts = sorted(
        f for f in os.listdir(all_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time() - len(parts) - 120
    for i, f in enumerate(parts):
        os.utime(os.path.join(all_dir, f), (base + i, base + i))
    os.makedirs(os.path.join(tmp, "live"))
    return tmp, parts, batch.schema


def stage_frames(
    frames: Sequence[tuple[DataFrame, int, str | None]],
    prefix: str = "frames",
) -> tuple[str, list[list[str]], T.StructType]:
    """Stage several DataFrames as consecutive micro-batch file groups
    under one ``<tmp>/all`` directory, mtimes strictly increasing
    across the WHOLE sequence (frame 0's chunks replay before frame
    1's). Each frame is ``(df, chunks, order_col)``. Returns
    ``(tmp_root, parts_per_frame, schema_of_first_frame)``.

    This is the fixture for ordering-sensitive semantics the
    single-table ``stage_replay_files`` can't express — e.g. T6 late
    arrivals: frame 0 = the on-time flow, frame 1 = stragglers whose
    event times are far behind the watermark frame 0 advanced."""
    tmp = tempfile.mkdtemp(prefix=f"recov_{prefix}_")
    all_dir = os.path.join(tmp, "all")
    os.makedirs(all_dir)
    parts_per_frame: list[list[str]] = []
    schema: T.StructType | None = None
    n_total = sum(chunks for _, chunks, _ in frames)
    base = time.time() - n_total - 120
    stamp = 0
    for fi, (df, chunks, order_col) in enumerate(frames):
        if schema is None:
            schema = df.schema
        stage_dir = os.path.join(tmp, f"stage_{fi}")
        staged = (
            df.repartitionByRange(chunks, order_col)
            if order_col
            else df.repartition(chunks)
        )
        staged.write.mode("overwrite").parquet(stage_dir)
        parts = sorted(
            f
            for f in os.listdir(stage_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        moved = []
        for f in parts:
            # part names embed a per-write UUID, so cross-frame moves
            # into the shared dir can't collide
            dst = os.path.join(all_dir, f)
            shutil.move(os.path.join(stage_dir, f), dst)
            os.utime(dst, (base + stamp, base + stamp))
            stamp += 1
            moved.append(f)
        parts_per_frame.append(moved)
        shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "live"), exist_ok=True)
    assert schema is not None
    return tmp, parts_per_frame, schema


def reveal(tmp: str, parts: Sequence[str]) -> None:
    """Copy staged chunk files into the live stream directory,
    preserving the chunk-order mtimes (copy2) so the file source
    replays them oldest-first."""
    live = os.path.join(tmp, "live")
    for f in parts:
        shutil.copy2(os.path.join(tmp, "all", f), os.path.join(live, f))


def open_stream(spark: SparkSession, tmp: str, schema: T.StructType) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(tmp, "live"))
    )


def log_sink(log_dir: str, per_batch_sleep: float = 0.0):
    """foreachBatch writer: append this batch's updated rows, stamped
    with the batch id, to the durable parquet update log."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(log_dir)
        )
        if per_batch_sleep:
            time.sleep(per_batch_sleep)

    return sink


def run_until_caught_up(
    updates: DataFrame,
    ckpt: str,
    log_dir: str,
) -> None:
    """One query run: process everything currently visible, commit the
    checkpoint, terminate (availableNow). Between two of these runs the
    query object is gone — state continuity exists only in ``ckpt``."""
    q = (
        updates.writeStream.foreachBatch(log_sink(log_dir))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def last_update_per_key(log_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Compact the update log to final state: per key, the row written
    by the greatest ``_batch_id`` (last update wins). Re-delivered
    batches (at-least-once) rewrite identical rows, so ties are
    value-equal and the compaction is exactly-once."""
    cols = [c for c in log_df.columns if c != "_batch_id"]
    value = F.struct(*[F.col(c) for c in cols])
    agg = log_df.groupBy(*keys).agg(F.max_by(value, F.col("_batch_id")).alias("_v"))
    return agg.select(*[F.col(f"_v.{c}").alias(c) for c in cols])


def kill_and_resume(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    agg_builder: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
    chunks: int = 8,
    kill_after: int = 3,
    order_col: str | None = "ts",
) -> DataFrame:
    """The full recovery exercise: run over the first ``kill_after``
    chunks, die, restart from the same checkpoint over all ``chunks``,
    compact the update log, return the final table (caller hash-checks
    it against the batch oracle).

    Both runs build the query with ``agg_builder``: the restart resumes
    the state schema run 1 checkpointed."""
    tmp, parts, schema = stage_replay_files(spark, sf_dir, table, chunks, order_col)
    try:
        ckpt = os.path.join(tmp, "ckpt")
        log_dir = os.path.join(tmp, "log")
        # Run 1: only the head of the replay exists; the query catches
        # up (kill_after micro-batches), commits, and the process ends.
        reveal(tmp, parts[:kill_after])
        run_until_caught_up(agg_builder(open_stream(spark, tmp, schema)), ckpt, log_dir)
        # The tail arrives while the consumer is down (R2: the topic
        # keeps growing). Restart from the same checkpoint: must skip
        # the committed head files and resume from recovered state.
        reveal(tmp, parts[kill_after:])
        run_until_caught_up(agg_builder(open_stream(spark, tmp, schema)), ckpt, log_dir)
        final = last_update_per_key(spark.read.parquet(log_dir), keys)
        # Materialize before the temp log dir is deleted.
        out = final.localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
