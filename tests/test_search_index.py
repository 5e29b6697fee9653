"""Incrementally-maintained search indexes (extensions/search_index.py):
BM25 tf/dl/df folded from the lake change feed, PQ codes appended
under a frozen codebook. The load-bearing invariant everywhere:
MAINTAINED state == FRESH-BUILT state on the same snapshot."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_index as si
from kafka_cdc_elasticsearch_pipeline_spark.extensions import similarity as sim
from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table


def _doc_chunks(spark, sf_dir, n_chunks=3):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs, [
        docs.filter(F.col("doc_id") % n_chunks == i) for i in range(n_chunks)
    ]


def _assert_df_equal(got, want, keys):
    g = {tuple(r[k] for k in keys): r for r in got.collect()}
    w = {tuple(r[k] for k in keys): r for r in want.collect()}
    assert set(g) == set(w), (
        f"key sets differ: extra={set(g) - set(w)} missing={set(w) - set(g)}"
    )
    for k in w:
        assert g[k] == w[k], f"row mismatch at {k}: {g[k]} != {w[k]}"


def test_bm25_maintained_equals_fresh_build_over_appends(spark, sf_dir, tmp_path):
    """Three append commits, a maintain() after each: the merged
    tf/dl/df must equal the from-scratch components over the full
    corpus — the identity that makes the serving index trustworthy."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    docs, chunks = _doc_chunks(spark, sf_dir)
    for chunk in chunks:
        lakelog.append_commit(spark, source, chunk)
        si.bm25_index_maintain(spark, source, index)

    tf, dl, df = si.bm25_read_index(spark, index)
    want_tf, want_dl = sim.bm25_index_components(docs)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    _assert_df_equal(dl, want_dl, ["doc_id"])
    want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    _assert_df_equal(df, want_df, ["word"])


def test_bm25_index_scores_equal_from_scratch(spark, sf_dir, tmp_path):
    """Scoring from the maintained index must produce bit-identical
    BM25 doubles to bm25_scored_candidates on the same snapshot."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    docs, chunks = _doc_chunks(spark, sf_dir)
    for chunk in chunks:
        lakelog.append_commit(spark, source, chunk)
    si.bm25_index_maintain(spark, source, index)

    got = si.bm25_score_from_index(spark, index, (0, 1, 2)).collect()
    want = sim.bm25_scored_candidates(docs, (0, 1, 2)).collect()
    g = {(r.query_id, r.doc_id): (r.n_terms, r.bm25) for r in got}
    w = {(r.query_id, r.doc_id): (r.n_terms, r.bm25) for r in want}
    assert g == w and len(g) > 0


def test_bm25_maintain_handles_updates_and_deletes(spark, tmp_path):
    """CDC updates/deletes flow through as signed token deltas: tf
    groups drain, dl shrinks, df decrements when a word's last doc
    loses it — maintained state equals a recompute of the final
    snapshot."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    rows = [(1, "alpha beta beta", 1), (2, "beta gamma", 1), (3, "delta", 1)]
    base = spark.createDataFrame(rows, "doc_id bigint, text string, ts bigint")
    lakelog.merge_apply_cdc(spark, source, base, ["doc_id"], "ts")
    si.bm25_index_maintain(spark, source, index)

    # update doc 1 (drops alpha => df(alpha) must go to 0 and vanish),
    # upsert doc 4
    upd = spark.createDataFrame(
        [(1, "beta epsilon", 2), (4, "gamma gamma", 2)],
        "doc_id bigint, text string, ts bigint",
    )
    lakelog.merge_apply_cdc(spark, source, upd, ["doc_id"], "ts")
    si.bm25_index_maintain(spark, source, index)

    tf, dl, df = si.bm25_read_index(spark, index)
    snapshot = lakelog.read(spark, source).select("doc_id", "text")
    want_tf, want_dl = sim.bm25_index_components(snapshot)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    _assert_df_equal(dl, want_dl, ["doc_id"])
    want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    _assert_df_equal(df, want_df, ["word"])
    assert df.filter(F.col("word") == "alpha").count() == 0


def test_bm25_maintain_is_idempotent(spark, sf_dir, tmp_path):
    """A fully-applied redelivery (same source head) must not append
    new segments or change any count."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    _, chunks = _doc_chunks(spark, sf_dir)
    lakelog.append_commit(spark, source, chunks[0])
    v1 = si.bm25_index_maintain(spark, source, index)
    tf_table = si._tables(index)[si._TF]
    head_before = lakelog.latest_version(tf_table)
    v2 = si.bm25_index_maintain(spark, source, index)
    assert v1 == v2
    assert lakelog.latest_version(tf_table) == head_before


def test_bm25_maintain_replays_after_crash_between_commits(spark, tmp_path):
    """Crash order contract: df commits FIRST, so a crash can only
    leave df AHEAD of tf/dl; the next maintain() catches tf/dl up
    with their state-independent deltas and converges — never a
    transition computed against a stale tf."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    b1 = spark.createDataFrame(
        [(1, "alpha beta", 1)], "doc_id bigint, text string, ts bigint"
    )
    lakelog.merge_apply_cdc(spark, source, b1, ["doc_id"], "ts")
    si.bm25_index_maintain(spark, source, index)

    b2 = spark.createDataFrame(
        [(2, "beta gamma", 1)], "doc_id bigint, text string, ts bigint"
    )
    lakelog.merge_apply_cdc(spark, source, b2, ["doc_id"], "ts")

    real_append = si._append_segment
    state = {"n": 0}

    def crashing_append(table, delta, app_id, src_version, **kw):
        v = real_append(table, delta, app_id, src_version, **kw)
        state["n"] += 1
        if state["n"] == 1:  # die right after the df segment lands
            raise RuntimeError("simulated crash after df commit")
        return v

    si._append_segment = crashing_append
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            si.bm25_index_maintain(spark, source, index)
    finally:
        si._append_segment = real_append

    # df is ahead; tf/dl lag. Replay must converge to the snapshot.
    si.bm25_index_maintain(spark, source, index)
    tf, dl, df = si.bm25_read_index(spark, index)
    snapshot = lakelog.read(spark, source).select("doc_id", "text")
    want_tf, want_dl = sim.bm25_index_components(snapshot)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    _assert_df_equal(dl, want_dl, ["doc_id"])
    want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    _assert_df_equal(df, want_df, ["word"])


def test_bm25_index_compact_preserves_state_and_watermark(spark, sf_dir, tmp_path):
    """Compaction folds segments into one dir without changing any
    merged count, keeps the maintenance watermark (so the next
    maintain() is still incremental), and maintenance keeps working
    afterwards."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    docs, chunks = _doc_chunks(spark, sf_dir)
    for chunk in chunks[:2]:
        lakelog.append_commit(spark, source, chunk)
        si.bm25_index_maintain(spark, source, index)

    tf_table = si._tables(index)[si._TF]
    before = si._applied(tf_table, "bm25")
    si.bm25_index_compact(spark, index)
    assert si._applied(tf_table, "bm25") == before  # watermark survives
    assert len(
        lakelog.read_manifest(tf_table, lakelog.latest_version(tf_table))[
            "data_dirs"
        ]
    ) == 1

    lakelog.append_commit(spark, source, chunks[2])
    si.bm25_index_maintain(spark, source, index)
    tf, dl, df = si.bm25_read_index(spark, index)
    want_tf, want_dl = sim.bm25_index_components(docs)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    _assert_df_equal(df, want_df, ["word"])


def test_bm25_compact_racing_maintain_conflicts_then_succeeds(
    spark, sf_dir, tmp_path
):
    """bm25_index_compact is optimistic: a maintain() landing between
    its head read and its purge commit raises CommitConflict (it must
    never silently freeze partial counts); the retry at the new head
    compacts the racer's segments too, and the watermark + merged
    state stay correct."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    _, chunks = _doc_chunks(spark, sf_dir)
    lakelog.append_commit(spark, source, chunks[0])
    si.bm25_index_maintain(spark, source, index)
    lakelog.append_commit(spark, source, chunks[1])  # unapplied racer feed

    real_merged = si._merged
    state = {"raced": False}

    def racing_merged(spark_, table, keys, **kw):
        out = real_merged(spark_, table, keys, **kw)
        if not state["raced"]:
            state["raced"] = True  # racer lands between head read + commit
            si.bm25_index_maintain(spark, source, index)
        return out

    si._merged = racing_merged
    try:
        with pytest.raises(lakelog.CommitConflict):
            si.bm25_index_compact(spark, index)
    finally:
        si._merged = real_merged

    si.bm25_index_compact(spark, index)  # retry at the new head
    tf_table = si._tables(index)[si._TF]
    assert si._applied(tf_table, "bm25") == lakelog.latest_version(source)
    tf, dl, df = si.bm25_read_index(spark, index)
    snapshot = lakelog.read(spark, source).select("doc_id", "text")
    want_tf, want_dl = sim.bm25_index_components(snapshot)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    _assert_df_equal(dl, want_dl, ["doc_id"])
    want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    _assert_df_equal(df, want_df, ["word"])


def test_bm25_maintain_probe_skips_segments_by_word_bloom(spark, tmp_path):
    """The df-transition probe pushes the delta's word list as an "in"
    predicate: with disjoint per-batch vocabularies the old tf
    segments' files are provably irrelevant and skip at listing time
    — the probe's scan cost follows the delta, not the accumulated
    segment count. Counts stay exact (bloom has no false negatives)."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    for i in range(3):
        batch = spark.createDataFrame(
            [(10 * i + j, f"w{i}a w{i}b w{i}a") for j in range(3)],
            "doc_id bigint, text string",
        )
        lakelog.append_commit(spark, source, batch)
        si.bm25_index_maintain(spark, source, index)

    tf_table = si._tables(index)[si._TF]
    man = lakelog.read_manifest(tf_table, lakelog.latest_version(tf_table))
    # batch 2's words miss every batch-0/1 segment bloom
    kept, skipped = lakelog.plan_scan(
        tf_table, man, [("word", "in", ["w2a", "w2b"])]
    )
    assert skipped > 0 and kept, f"expected bloom pruning, skipped={skipped}"

    docs = lakelog.read(spark, source).select("doc_id", "text")
    tf, dl, df = si.bm25_read_index(spark, index)
    want_tf, _ = sim.bm25_index_components(docs)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    _assert_df_equal(df, want_df, ["word"])


def test_bm25_maintain_backfill_falls_back_to_full_probe(
    spark, tmp_path, monkeypatch
):
    """A delta whose word set exceeds the collect cap must take the
    full merge-on-read probe (no driver-side word list) and still
    converge to the fresh-built index."""
    monkeypatch.setattr(si, "_PROBE_WORD_CAP", 1)
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    rows = [(1, "alpha beta", 1), (2, "beta gamma", 1)]
    base = spark.createDataFrame(rows, "doc_id bigint, text string, ts bigint")
    lakelog.merge_apply_cdc(spark, source, base, ["doc_id"], "ts")
    si.bm25_index_maintain(spark, source, index)
    upd = spark.createDataFrame(
        [(1, "beta epsilon zeta", 2)], "doc_id bigint, text string, ts bigint"
    )
    lakelog.merge_apply_cdc(spark, source, upd, ["doc_id"], "ts")
    si.bm25_index_maintain(spark, source, index)

    snapshot = lakelog.read(spark, source).select("doc_id", "text")
    tf, dl, df = si.bm25_read_index(spark, index)
    want_tf, want_dl = sim.bm25_index_components(snapshot)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    _assert_df_equal(df, want_df, ["word"])
    assert df.filter(F.col("word") == "alpha").count() == 0


def test_signed_tokens_matches_bm25_tokenizer(spark):
    """The change-feed tokenizer must stay literally in sync with
    similarity.bm25_tokens — a drift silently corrupts the index."""
    docs = spark.createDataFrame(
        [(1, "Foo  BAR baz"), (2, " x\ty ")], "doc_id bigint, text string"
    )
    feed = docs.withColumn("_change_type", F.lit("insert"))
    got = sorted(
        (r.doc_id, r.word) for r in si._signed_tokens(feed).collect()
    )
    want = sorted((r.doc_id, r.word) for r in sim.bm25_tokens(docs).collect())
    assert got == want


# --- PQ append path ----------------------------------------------------------


def test_pq_append_equals_from_scratch_encode(spark, sf_dir, tmp_path):
    """Codes appended under the frozen codebook must be bit-identical
    to a from-scratch encode of the grown corpus under the same
    codebook — encode is a pure function of (vector, codebook)."""
    index = str(tmp_path / "pq")
    embs = load_table(spark, sf_dir, "embeddings")
    n = embs.count()
    cut = (2 * n) // 3
    base = embs.filter(F.col("vec_id") < cut)
    extra = embs.filter(F.col("vec_id") >= cut)
    assert extra.count() > 0

    si.pq_index_build(spark, base, index)
    si.pq_index_append(spark, index, extra)

    cb, codes = si.pq_index_read(spark, index)
    want = sim.pq_encode(embs, cb)
    got = sorted((r.vec_id, r.m, r.code) for r in codes.collect())
    assert got == sorted((r.vec_id, r.m, r.code) for r in want.collect())
    # sanity: the codebook was sampled from the BASE corpus only
    assert cb.count() == sim.PQ_M * sim.PQ_KS


def test_ivfpq_index_append_assign_and_serve(spark, sf_dir, tmp_path):
    """The FULL composed index persisted and grown: appended vectors
    are assigned under the frozen coarse centroids and residual-encoded
    under the frozen codebook, so (1) the grown codes/buckets are
    bit-identical to a from-scratch encode of the grown corpus under
    the same frozen artifacts, and (2) serving from the persisted
    index equals ivfpq_topk run directly on the grown corpus with the
    frozen centroids (whose internal codebook resample reproduces the
    frozen one — the sample rows live in the base)."""
    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    cut = (2 * embs.count()) // 3
    base = embs.filter(F.col("vec_id") < cut)
    extra = embs.filter(F.col("vec_id") >= cut)
    si.ivfpq_index_build(spark, base, index)
    si.ivfpq_index_append(spark, index, extra)

    cents = lakelog.read(spark, os.path.join(index, "ivf_centroids"))
    cb = lakelog.read(spark, os.path.join(index, "pq_codebook"))
    assigned = sim.assign_centroids(
        extra.withColumn("label", F.lit(-1).cast("long")), cents
    ).select("vec_id", F.col("assigned_label").alias("label"))
    grown = base.select("vec_id", "embedding", "label").unionByName(
        extra.select("vec_id", "embedding").join(assigned, "vec_id")
    )

    got_codes = lakelog.read(spark, os.path.join(index, "pq_codes"))
    want_codes = sim.pq_encode(sim.residuals(grown, cents), cb)
    assert sorted(
        (r.vec_id, r.m, r.code) for r in got_codes.collect()
    ) == sorted((r.vec_id, r.m, r.code) for r in want_codes.collect())
    got_buckets = lakelog.read(spark, os.path.join(index, "ivf_buckets"))
    assert sorted((r.vec_id, r.label) for r in got_buckets.collect()) == sorted(
        (r.vec_id, r.label) for r in grown.select("vec_id", "label").collect()
    )

    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    served = si.ivfpq_search_from_index(spark, index, queries, k=10, nprobe=2)
    direct = sim.ivfpq_topk(
        grown, queries, cents, k=10, nprobe=2, residual=True
    )
    g = sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in served.collect()
    )
    assert g == sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in direct.collect()
    )
    assert len(g) == 30


def test_pq_assignment_balance_metric(spark, sf_dir, tmp_path):
    """The retraining gauge: per-subspace shares sum to coverage of
    the corpus, imbalance ≥ 1 with equality only at perfect
    uniformity, and every vector is counted."""
    index = str(tmp_path / "pq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.pq_index_build(spark, embs, index)
    _, codes = si.pq_index_read(spark, index)
    bal = si.pq_assignment_balance(codes).collect()
    n = embs.count()
    assert len(bal) == sim.PQ_M
    for r in bal:
        assert r.n_vecs == n
        assert r.imbalance >= 0.999999  # >= 1 up to rounding
        assert 0 < r.max_share <= 1


def test_bm25_indexing_sink_streaming_end_to_end(spark, sf_dir, tmp_path):
    """The streaming composition: a 4-chunk documents replay through
    bm25_indexing_sink — every micro-batch lands exactly once in the
    source lake table AND folds into the index in the same call; the
    final maintained tf/dl/df equal a fresh build over the full
    corpus."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )

    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    stream, tmp = replay_stream(
        spark, sf_dir, "documents", chunks=4, order_col="doc_id"
    )
    try:
        q = (
            stream.select("doc_id", "text")
            .writeStream.foreachBatch(
                si.bm25_indexing_sink(spark, source, index)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        cleanup(tmp)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert lakelog.read(spark, source).count() == docs.count()
    tf, dl, df = si.bm25_read_index(spark, index)
    want_tf, want_dl = sim.bm25_index_components(docs)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    _assert_df_equal(dl, want_dl, ["doc_id"])
    want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    _assert_df_equal(df, want_df, ["word"])
    # the index watermark names the last source version folded
    tf_table = si._tables(index)[si._TF]
    assert si._applied(tf_table, "bm25-ingest-idx") == lakelog.latest_version(
        source
    )


def test_bm25_indexing_sink_redelivery_is_noop(spark, sf_dir, tmp_path):
    """At-least-once delivery → exactly-once index: redelivering a
    micro-batch (same batch_id — the foreachBatch replay contract)
    must leave both the source table and every index table at the
    same version with the same counts."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    _, chunks = _doc_chunks(spark, sf_dir)
    sink = si.bm25_indexing_sink(spark, source, index)
    sink(chunks[0], 0)
    sink(chunks[1], 1)

    tf_table = si._tables(index)[si._TF]
    src_head = lakelog.latest_version(source)
    idx_head = lakelog.latest_version(tf_table)
    before = {
        r["word"]: r["df"]
        for r in si.bm25_read_index(spark, index)[2].collect()
    }

    sink(chunks[1], 1)  # redelivered batch: no-op on both sides
    assert lakelog.latest_version(source) == src_head
    assert lakelog.latest_version(tf_table) == idx_head
    after = {
        r["word"]: r["df"]
        for r in si.bm25_read_index(spark, index)[2].collect()
    }
    assert after == before


def test_cdc_search_indexing_sink_reference_pipeline_shape(spark, tmp_path):
    """The reference pipeline end to end: Debezium change events
    (insert/update/DELETE, wrapped and decoded through the real
    envelope codec) keep a search index current. After every
    micro-batch the maintained tf/dl/df equal a fresh build over the
    lake snapshot; the deleted doc vanishes from the index (its words'
    df decrement, its tf/dl groups drain)."""
    from pyspark.sql import types as T

    from kafka_cdc_elasticsearch_pipeline_spark.sources import cdc

    row_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def decoded(rows):
        df = spark.createDataFrame(
            rows, "doc_id bigint, text string, _op string, _ts_ms bigint"
        )
        wire = cdc.wrap_envelope_cdc(df, op_col="_op", ts_col="_ts_ms")
        return cdc.unwrap_envelope_cdc(wire, row_schema, ["doc_id"])

    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    sink = si.cdc_search_indexing_sink(spark, source, index)

    def assert_index_matches_snapshot():
        snapshot = lakelog.read(spark, source).select("doc_id", "text")
        tf, dl, df = si.bm25_read_index(spark, index)
        want_tf, want_dl = sim.bm25_index_components(snapshot)
        _assert_df_equal(tf, want_tf, ["doc_id", "word"])
        _assert_df_equal(dl, want_dl, ["doc_id"])
        want_df = want_tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        _assert_df_equal(df, want_df, ["word"])

    sink(
        decoded(
            [
                (1, "alpha beta beta", "c", 1),
                (2, "beta gamma", "c", 1),
                (3, "delta", "c", 1),
            ]
        ),
        0,
    )
    assert_index_matches_snapshot()

    # update doc 1, DELETE doc 2 (a Debezium delete: after NULL, key
    # recovered from before), insert doc 4
    sink(
        decoded(
            [
                (1, "beta epsilon", "u", 2),
                (2, None, "d", 2),
                (4, "gamma gamma", "c", 2),
            ]
        ),
        1,
    )
    assert_index_matches_snapshot()
    _, dl, df = si.bm25_read_index(spark, index)
    assert dl.filter(F.col("doc_id") == 2).count() == 0  # doc gone
    assert df.filter(F.col("word") == "alpha").count() == 0  # word gone
    # gamma survives: doc 2 lost it, doc 4 brought it back -> df == 1
    assert df.filter(F.col("word") == "gamma").collect()[0]["df"] == 1

    # redelivery of the delete-bearing batch: manifest no-op both sides
    src_head = lakelog.latest_version(source)
    idx_head = lakelog.latest_version(si._tables(index)[si._TF])
    sink(
        decoded([(1, "beta epsilon", "u", 2), (2, None, "d", 2),
                 (4, "gamma gamma", "c", 2)]),
        1,
    )
    assert lakelog.latest_version(source) == src_head
    assert lakelog.latest_version(si._tables(index)[si._TF]) == idx_head


def test_pq_indexing_sink_streaming_end_to_end(spark, sf_dir, tmp_path):
    """Streaming ANN ingest: build the index on a base corpus (the
    codebook freezes there), then stream the remaining vectors through
    pq_indexing_sink — the grown codes table must be bit-identical to
    a from-scratch encode of the full corpus under the frozen
    codebook."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )

    index = str(tmp_path / "pq")
    embs = load_table(spark, sf_dir, "embeddings")
    cut = (2 * embs.count()) // 3
    si.pq_index_build(spark, embs.filter(F.col("vec_id") < cut), index)

    stream, tmp = replay_stream(
        spark, sf_dir, "embeddings", chunks=4, order_col="vec_id"
    )
    try:
        q = (
            stream.filter(F.col("vec_id") >= cut)  # base already indexed
            .select("vec_id", "embedding")
            .writeStream.foreachBatch(si.pq_indexing_sink(spark, index))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        cleanup(tmp)

    cb, codes = si.pq_index_read(spark, index)
    want = sim.pq_encode(embs, cb)
    got = sorted((r.vec_id, r.m, r.code) for r in codes.collect())
    assert got == sorted((r.vec_id, r.m, r.code) for r in want.collect())


def test_pq_indexing_sink_redelivery_is_noop(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: redelivering a micro-batch (same
    batch_id) must not append its codes twice — a duplicate codes
    segment would duplicate candidate rows in every search."""
    index = str(tmp_path / "pq")
    embs = load_table(spark, sf_dir, "embeddings")
    cut = (2 * embs.count()) // 3
    si.pq_index_build(spark, embs.filter(F.col("vec_id") < cut), index)

    sink = si.pq_indexing_sink(spark, index)
    batch = embs.filter(F.col("vec_id") >= cut).select("vec_id", "embedding")
    sink(batch, 0)
    pq_codes = os.path.join(index, "pq_codes")
    head = lakelog.latest_version(pq_codes)
    n = lakelog.read(spark, pq_codes).count()

    sink(batch, 0)  # redelivery: manifest no-op
    assert lakelog.latest_version(pq_codes) == head
    assert lakelog.read(spark, pq_codes).count() == n


# --- IVF-PQ deletes / CDC maintenance (merge-on-read tombstones) -------------


def _grown_ivfpq(spark, sf_dir, tmp_path):
    """Build on the first two-thirds, append the rest — the shared
    starting state for the tombstone tests. Returns (index_root,
    grown-corpus-with-served-labels, queries, frozen cents)."""
    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    cut = (2 * embs.count()) // 3
    base = embs.filter(F.col("vec_id") < cut)
    extra = embs.filter(F.col("vec_id") >= cut)
    si.ivfpq_index_build(spark, base, index)
    si.ivfpq_index_append(spark, index, extra)
    cents = lakelog.read(spark, os.path.join(index, "ivf_centroids"))
    assigned = sim.assign_centroids(
        extra.withColumn("label", F.lit(-1).cast("long")), cents
    ).select("vec_id", F.col("assigned_label").alias("label"))
    grown = base.select("vec_id", "embedding", "label").unionByName(
        extra.select("vec_id", "embedding").join(assigned, "vec_id")
    )
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return index, grown, queries, cents


def _serve_tuples(spark, index, queries):
    return sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in si.ivfpq_search_from_index(
            spark, index, queries, k=10, nprobe=2
        ).collect()
    )


def test_ivfpq_delete_tombstones_then_reinsert(spark, sf_dir, tmp_path):
    """Tombstoned vectors vanish from every subsequent search; the
    surviving ranking equals a from-scratch IVF-PQ over the surviving
    corpus under the same frozen centroids; a re-APPEND of a deleted
    vec_id (seq above its tombstone) comes back live."""
    index, grown, queries, cents = _grown_ivfpq(spark, sf_dir, tmp_path)
    before = si.ivfpq_search_from_index(
        spark, index, queries, k=10, nprobe=2
    ).collect()
    # victims >= 16 keep the internal codebook resample of the direct
    # twin identical to the frozen one (sample rows live in the base)
    victims = sorted({r.neighbor_id for r in before if r.neighbor_id >= 16})[:3]
    assert len(victims) == 3
    si.ivfpq_index_delete(spark, index, victims)

    served = _serve_tuples(spark, index, queries)
    assert not {t[1] for t in served} & set(victims)
    surviving = grown.filter(~F.col("vec_id").isin(victims))
    direct = sim.ivfpq_topk(
        surviving, queries, cents, k=10, nprobe=2, residual=True
    )
    assert served == sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in direct.collect()
    )

    # reinsert one victim: assigned under the frozen centroids, so the
    # direct twin carries its ASSIGNED label too
    back = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") == victims[0]
    )
    si.ivfpq_index_append(spark, index, back)
    re_assigned = sim.assign_centroids(
        back.withColumn("label", F.lit(-1).cast("long")), cents
    ).select("vec_id", F.col("assigned_label").alias("label"))
    surv2 = grown.filter(~F.col("vec_id").isin(victims)).unionByName(
        back.select("vec_id", "embedding").join(re_assigned, "vec_id")
    )
    direct2 = sim.ivfpq_topk(
        surv2, queries, cents, k=10, nprobe=2, residual=True
    )
    assert _serve_tuples(spark, index, queries) == sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in direct2.collect()
    )


def test_ivfpq_compact_physically_drops_tombstoned_rows(spark, sf_dir, tmp_path):
    """Compaction folds tombstones into a physical rewrite: the
    deleted vec_ids are gone from the raw head snapshots, the deletes
    table resets, serving is unchanged, and maintenance watermarks
    survive the rewrite."""
    index, grown, queries, _ = _grown_ivfpq(spark, sf_dir, tmp_path)
    before = si.ivfpq_search_from_index(
        spark, index, queries, k=10, nprobe=2
    ).collect()
    victims = sorted({r.neighbor_id for r in before if r.neighbor_id >= 16})[:3]
    si.ivfpq_index_delete(spark, index, victims)
    served_before = _serve_tuples(spark, index, queries)

    # plant a maintenance watermark to prove compaction carries txns
    buckets_t = os.path.join(index, "ivf_buckets")
    lakelog.txn_append_commit(
        spark,
        buckets_t,
        lakelog.read(spark, buckets_t).limit(0),
        app_id="wm-probe",
        batch_id=7,
    )

    si.ivfpq_index_compact(spark, index)
    for t in ("ivf_buckets", "pq_codes"):
        raw = lakelog.read(spark, os.path.join(index, t))
        assert raw.filter(F.col("vec_id").isin(victims)).count() == 0
    dels_t = os.path.join(index, "ivf_deletes")
    assert lakelog.read(spark, dels_t).count() == 0
    assert _serve_tuples(spark, index, queries) == served_before
    head = lakelog.latest_version(buckets_t)
    assert lakelog.read_manifest(buckets_t, head)["txns"]["wm-probe"] == 7


def test_ivfpq_maintain_applies_cdc_stream(spark, sf_dir, tmp_path):
    """The change-feed fold end to end: build on a snapshot (watermark
    stamped), insert a batch, then update + delete a second batch —
    the maintained live buckets/codes must equal a frozen-artifact
    encode of the FINAL snapshot (original labels for untouched base
    rows, assigned labels for inserted/updated ones), and a replayed
    maintain is a manifest no-op."""
    index = str(tmp_path / "ivfpq")
    src = str(tmp_path / "src")
    embs = load_table(spark, sf_dir, "embeddings")
    n = embs.count()
    cut = (2 * n) // 3
    base = embs.filter(F.col("vec_id") < cut)
    lakelog.append_commit(
        spark,
        src,
        base.select("vec_id", "embedding", F.lit(1).alias("_ts_ms")),
    )
    si.ivfpq_index_build(spark, base, index, source_watermark=1)
    assert si.ivfpq_index_maintain(spark, src, index) == 1  # nothing to fold

    # batch A (v2): insert the last third
    lakelog.merge_apply_cdc(
        spark,
        src,
        embs.filter(F.col("vec_id") >= cut).select(
            "vec_id", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("c").alias("_op"),
        ),
        ["vec_id"], "_ts_ms",
    )
    # batch B (v3): update vec%11==5 (embedding of (vec+1)%n), delete vec%13==7
    nxt = embs.select(
        F.col("vec_id").alias("src_of"), F.col("embedding").alias("new_emb")
    )
    updates = (
        embs.filter((F.col("vec_id") % 11 == 5) & (F.col("vec_id") % 13 != 7))
        .withColumn("src_of", (F.col("vec_id") + 1) % n)
        .join(nxt, "src_of")
        .select(
            "vec_id", F.col("new_emb").alias("embedding"),
            F.lit(3).alias("_ts_ms"), F.lit("u").alias("_op"),
        )
    )
    deletes = embs.filter(F.col("vec_id") % 13 == 7).select(
        "vec_id", F.col("embedding"),
        F.lit(3).alias("_ts_ms"), F.lit("d").alias("_op"),
    )
    lakelog.merge_apply_cdc(
        spark, src, updates.unionByName(deletes), ["vec_id"], "_ts_ms"
    )
    assert si.ivfpq_index_maintain(spark, src, index) == 3

    # expected final state under the FROZEN artifacts
    cents = lakelog.read(spark, os.path.join(index, "ivf_centroids"))
    cb = lakelog.read(spark, os.path.join(index, "pq_codebook"))
    snap = lakelog.read(spark, src).select("vec_id", "embedding")
    needs_assign = (F.col("vec_id") >= cut) | (
        (F.col("vec_id") % 11 == 5) & (F.col("vec_id") % 13 != 7)
    )
    assigned = sim.assign_centroids(
        snap.filter(needs_assign).withColumn("label", F.lit(-1).cast("long")),
        cents,
    ).select("vec_id", F.col("assigned_label").alias("label"))
    expected = (
        snap.filter(~needs_assign)
        .join(base.select("vec_id", "label"), "vec_id")
        .select("vec_id", "embedding", "label")
        .unionByName(snap.join(assigned, "vec_id"))
    )
    live_buckets, live_codes = si._ivfpq_live(spark, index)
    assert sorted(
        (r.vec_id, r.label) for r in live_buckets.collect()
    ) == sorted(
        (r.vec_id, r.label)
        for r in expected.select("vec_id", "label").collect()
    )
    want_codes = sim.pq_encode(sim.residuals(expected, cents), cb)
    assert sorted(
        (r.vec_id, r.m, r.code) for r in live_codes.collect()
    ) == sorted((r.vec_id, r.m, r.code) for r in want_codes.collect())

    # deleted ids never serve; replayed maintain is a manifest no-op
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    served = si.ivfpq_search_from_index(spark, index, queries, k=10, nprobe=2)
    assert served.filter(F.col("neighbor_id") % 13 == 7).count() == 0
    heads = {
        t: lakelog.latest_version(os.path.join(index, t))
        for t in ("ivf_buckets", "pq_codes", "ivf_deletes")
    }
    assert si.ivfpq_index_maintain(spark, src, index) == 3
    assert heads == {
        t: lakelog.latest_version(os.path.join(index, t))
        for t in ("ivf_buckets", "pq_codes", "ivf_deletes")
    }


def test_ivfpq_maintain_replays_after_crash_between_commits(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Tombstones commit first; a crash before the buckets/codes
    segments land replays to the same final state (per-table
    watermarks, state-independent deltas)."""
    index = str(tmp_path / "ivfpq")
    src = str(tmp_path / "src")
    embs = load_table(spark, sf_dir, "embeddings")
    cut = (2 * embs.count()) // 3
    base = embs.filter(F.col("vec_id") < cut)
    lakelog.append_commit(
        spark, src, base.select("vec_id", "embedding", F.lit(1).alias("_ts_ms"))
    )
    si.ivfpq_index_build(spark, base, index, source_watermark=1)
    lakelog.merge_apply_cdc(
        spark,
        src,
        embs.filter(F.col("vec_id") >= cut).select(
            "vec_id", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("c").alias("_op"),
        ),
        ["vec_id"], "_ts_ms",
    )

    real = si._append_segment
    calls = {"n": 0}

    def crashing(table, delta, app_id, src_version, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # tombstones landed, buckets about to
            raise RuntimeError("crash")
        return real(table, delta, app_id, src_version, **kw)

    monkeypatch.setattr(si, "_append_segment", crashing)
    with pytest.raises(RuntimeError):
        si.ivfpq_index_maintain(spark, src, index)
    monkeypatch.setattr(si, "_append_segment", real)
    assert si.ivfpq_index_maintain(spark, src, index) == 2

    cents = lakelog.read(spark, os.path.join(index, "ivf_centroids"))
    cb = lakelog.read(spark, os.path.join(index, "pq_codebook"))
    assigned = sim.assign_centroids(
        embs.filter(F.col("vec_id") >= cut)
        .select("vec_id", "embedding")
        .withColumn("label", F.lit(-1).cast("long")),
        cents,
    ).select("vec_id", F.col("assigned_label").alias("label"))
    expected = base.select("vec_id", "embedding", "label").unionByName(
        embs.filter(F.col("vec_id") >= cut)
        .select("vec_id", "embedding")
        .join(assigned, "vec_id")
    )
    _, live_codes = si._ivfpq_live(spark, index)
    want = sim.pq_encode(sim.residuals(expected, cents), cb)
    assert sorted(
        (r.vec_id, r.m, r.code) for r in live_codes.collect()
    ) == sorted((r.vec_id, r.m, r.code) for r in want.collect())


def test_cdc_ann_indexing_sink_reference_pipeline_shape(spark, sf_dir, tmp_path):
    """The reference pipeline's shape for the VECTOR index: decoded
    Debezium batches (upsert + delete) through cdc_ann_indexing_sink
    keep the served ANN results equal to a frozen-artifact IVF-PQ over
    the current snapshot; a redelivered batch is a no-op on both the
    source and the index."""
    index = str(tmp_path / "ivfpq")
    src = str(tmp_path / "src")
    embs = load_table(spark, sf_dir, "embeddings")
    n = embs.count()
    cut = (2 * n) // 3
    base = embs.filter(F.col("vec_id") < cut)
    lakelog.append_commit(
        spark, src, base.select("vec_id", "embedding", F.lit(1).alias("_ts_ms"))
    )
    # DEFAULT composition: the build's watermark app_id and the sink's
    # index_app_id must pair up out of the box (a mismatch refolds the
    # base as duplicate live segments — pinned by the serve parity and
    # row-count checks below)
    si.ivfpq_index_build(spark, base, index, source_watermark=1)
    sink = si.cdc_ann_indexing_sink(spark, src, index)

    batch = embs.filter(F.col("vec_id") >= cut).select(
        "vec_id", "embedding", F.lit(2).alias("_ts_ms"), F.lit("c").alias("_op")
    ).unionByName(
        # deletions >= 16 keep the direct twin's internal codebook
        # resample identical to the frozen one (sample rows intact)
        base.filter((F.col("vec_id") % 13 == 7) & (F.col("vec_id") >= 16)).select(
            "vec_id", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
        )
    )
    assert sink(batch, 0) == 2

    cents = lakelog.read(spark, os.path.join(index, "ivf_centroids"))
    snap = lakelog.read(spark, src).select("vec_id", "embedding")
    assigned = sim.assign_centroids(
        snap.filter(F.col("vec_id") >= cut).withColumn(
            "label", F.lit(-1).cast("long")
        ),
        cents,
    ).select("vec_id", F.col("assigned_label").alias("label"))
    current = (
        snap.filter(F.col("vec_id") < cut)
        .join(base.select("vec_id", "label"), "vec_id")
        .unionByName(snap.join(assigned, "vec_id").select("vec_id", "embedding", "label"))
    )
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    direct = sim.ivfpq_topk(current, queries, cents, k=10, nprobe=2, residual=True)
    assert _serve_tuples(spark, index, queries) == sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in direct.collect()
    )
    # exactly one live row per surviving vector — a build/sink
    # watermark mismatch would refold the base as duplicate segments
    live_buckets, _ = si._ivfpq_live(spark, index)
    assert live_buckets.count() == current.count()

    src_head = lakelog.latest_version(src)
    idx_head = lakelog.latest_version(os.path.join(index, "pq_codes"))
    assert sink(batch, 0) == 2  # redelivery: no-op both sides
    assert lakelog.latest_version(src) == src_head
    assert lakelog.latest_version(os.path.join(index, "pq_codes")) == idx_head


def test_ivfpq_manual_seq_clock_is_strictly_monotonic(spark, sf_dir, tmp_path):
    """Regression: delete, delete, append, delete — the final delete's
    tombstone seq must be STRICTLY above the append's seq (a max-over-
    heads clock hands both seq 3 because each delete bumps only the
    deletes table, silently un-deleting the appended vector)."""
    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    base = embs.filter(F.col("vec_id") < 100)
    si.ivfpq_index_build(spark, base, index)
    si.ivfpq_index_delete(spark, index, [20])
    si.ivfpq_index_delete(spark, index, [21])
    x = embs.filter(F.col("vec_id") == 200)
    si.ivfpq_index_append(spark, index, x)
    s_del = si.ivfpq_index_delete(spark, index, [200])
    buckets, codes = si._ivfpq_live(spark, index)
    assert buckets.filter(F.col("vec_id") == 200).count() == 0
    assert codes.filter(F.col("vec_id") == 200).count() == 0
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    served = si.ivfpq_search_from_index(spark, index, queries, k=10, nprobe=2)
    assert served.filter(F.col("neighbor_id").isin([20, 21, 200])).count() == 0
    # and a re-append after that delete comes back live (clock advanced)
    si.ivfpq_index_append(spark, index, x)
    buckets2, _ = si._ivfpq_live(spark, index)
    assert buckets2.filter(F.col("vec_id") == 200).count() == 1
    assert s_del > 0


def test_ivfpq_mutations_adopt_pre_seq_index(spark, sf_dir, tmp_path, monkeypatch):
    """A pre-tombstone-era index (buckets/codes with no seq column)
    mutated by the new code must first be rewritten at seq 0 —
    otherwise mixed-schema segments read legacy rows as seq NULL and
    every pre-upgrade vector vanishes from serving."""
    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    base = embs.filter(F.col("vec_id") < 100)
    si.ivfpq_index_build(spark, base, index)
    # strip the seq column to recreate the legacy layout
    for t in ("ivf_buckets", "pq_codes"):
        table = os.path.join(index, t)
        legacy = lakelog.read(spark, table).drop("seq")
        lakelog.commit(
            table, legacy, "purge",
            expect_parent=lakelog.latest_version(table),
            stat_cols=["vec_id"],
        )
    extra = embs.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 120)
    )
    si.ivfpq_index_append(spark, index, extra)
    si.ivfpq_index_delete(spark, index, [110])
    buckets, codes = si._ivfpq_live(spark, index)
    # every legacy vector still serves; the tombstoned new one doesn't
    assert buckets.filter(F.col("vec_id") < 100).count() == 100
    assert codes.filter(F.col("vec_id") < 100).count() == 800
    assert buckets.filter(F.col("vec_id") == 110).count() == 0
    assert buckets.count() == 100 + 19


def test_hybrid_search_index_only_matches_from_scratch(spark, sf_dir, tmp_path):
    """The no-floats serve path: BM25 candidates from the maintained
    index, reranked by cosine against PQ-RECONSTRUCTED candidates —
    must equal the same two-stage built from scratch (bm25 candidates
    -> full-corpus encode/reconstruct under the SAME persisted
    codebook -> cosine top-k)."""
    from pyspark.sql import Window as W

    source = str(tmp_path / "docs")
    bm25_root = str(tmp_path / "bm25")
    pq_root = str(tmp_path / "pq")
    docs, _ = _doc_chunks(spark, sf_dir)
    lakelog.append_commit(spark, source, docs)
    si.bm25_index_maintain(spark, source, bm25_root)
    embs = load_table(spark, sf_dir, "embeddings")
    si.pq_index_build(spark, embs, pq_root)

    qids, pool, k = (0, 1, 2), 20, 10
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = si.hybrid_search_index_only(
        spark, bm25_root, pq_root, queries, query_ids=qids, pool=pool, k=k
    ).collect()

    w = W.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    cand = (
        sim.bm25_scored_candidates(docs, qids)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= pool)
        .select("query_id", "doc_id")
    )
    cb = lakelog.read(spark, os.path.join(pq_root, "pq_codebook"))
    recon = sim.pq_reconstruct(sim.pq_encode(embs, cb), cb)
    rescored = (
        cand.join(recon, cand["doc_id"] == recon["vec_id"])
        .join(queries, "query_id")
        .select(
            "query_id", "doc_id",
            F.round(
                sim.cosine(F.col("recon"), F.col("q_embedding")), 6
            ).alias("cosine"),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    want = (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .collect()
    )
    g = sorted((r.query_id, r.doc_id, r.cosine, r.rank) for r in got)
    assert g == sorted((r.query_id, r.doc_id, r.cosine, r.rank) for r in want)
    assert len(g) == len(qids) * k


def test_cdc_dual_indexing_sink_full_reference_stack(spark, sf_dir, tmp_path):
    """The reference pipeline in FULL: one Debezium stream over
    documents carrying text AND an embedding keeps BOTH serving
    indexes current, and hybrid search serves off the pair with no
    raw corpus — after an insert+update+delete batch, the BM25 tables
    equal a fresh build over the snapshot, the live IVF-PQ codes
    equal a frozen-artifact encode of the expected corpus, the
    deleted doc appears in neither stage, and a redelivered batch is
    a no-op everywhere."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(
        embs.select(
            F.col("vec_id").alias("doc_id"), "embedding", "label"
        ),
        "doc_id",
    )
    n = corpus.count()
    cut = (2 * n) // 3
    base = corpus.filter(F.col("doc_id") < cut)
    lakelog.append_commit(
        spark,
        src,
        base.select("doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")),
    )
    si.ivfpq_index_build(
        spark,
        base.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    sink = si.cdc_dual_indexing_sink(spark, src, bm25_root, ivfpq_root)

    upd_id, del_id = 10, 20
    nxt_emb = embs.filter(F.col("vec_id") == upd_id + 1).collect()[0].embedding
    batch = (
        corpus.filter(F.col("doc_id") >= cut)
        .select(
            "doc_id", "text", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("c").alias("_op"),
        )
        .unionByName(
            spark.createDataFrame(
                [(upd_id, "updated alpha text", nxt_emb)],
                "doc_id bigint, text string, embedding array<float>",
            ).select(
                "doc_id", "text",
                F.col("embedding").cast(
                    corpus.schema["embedding"].dataType
                ).alias("embedding"),
                F.lit(2).alias("_ts_ms"), F.lit("u").alias("_op"),
            )
        )
        .unionByName(
            corpus.filter(F.col("doc_id") == del_id).select(
                "doc_id", "text", "embedding",
                F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
            )
        )
    )
    assert sink(batch, 0) == 2

    # 1. BM25 tables == fresh build over the post-CDC snapshot
    snapshot = lakelog.read(spark, src).select("doc_id", "text")
    tf, dl, df = si.bm25_read_index(spark, bm25_root)
    want_tf, want_dl = sim.bm25_index_components(snapshot)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    _assert_df_equal(dl, want_dl, ["doc_id"])
    assert dl.filter(F.col("doc_id") == del_id).count() == 0

    # 2. live IVF-PQ codes == frozen-artifact encode of expected state
    cents = lakelog.read(spark, os.path.join(ivfpq_root, "ivf_centroids"))
    cb = lakelog.read(spark, os.path.join(ivfpq_root, "pq_codebook"))
    snap_vec = lakelog.read(spark, src).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    needs_assign = (F.col("vec_id") >= cut) | (F.col("vec_id") == upd_id)
    assigned = sim.assign_centroids(
        snap_vec.filter(needs_assign).withColumn(
            "label", F.lit(-1).cast("long")
        ),
        cents,
    ).select("vec_id", F.col("assigned_label").alias("label"))
    expected = (
        snap_vec.filter(~needs_assign)
        .join(
            base.select(F.col("doc_id").alias("vec_id"), "label"), "vec_id"
        )
        .select("vec_id", "embedding", "label")
        .unionByName(snap_vec.join(assigned, "vec_id"))
    )
    _, live_codes = si._ivfpq_live(spark, ivfpq_root)
    want_codes = sim.pq_encode(sim.residuals(expected, cents), cb)
    assert sorted(
        (r.vec_id, r.m, r.code) for r in live_codes.collect()
    ) == sorted((r.vec_id, r.m, r.code) for r in want_codes.collect())

    # 3. hybrid serve off the pair: candidate-sized residual decode,
    #    deleted doc in neither stage, parity with a manual recompose
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = si.hybrid_search_from_cdc_indexes(
        spark, bm25_root, ivfpq_root, queries, query_ids=(0, 1, 2),
        pool=20, k=10,
    )
    got_rows = got.collect()
    assert all(r.doc_id != del_id for r in got_rows)
    assert {r.query_id for r in got_rows} == {0, 1, 2}
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    cand = (
        sim.bm25_scored_candidates(snapshot, (0, 1, 2))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 20)
        .select("query_id", "doc_id")
    )
    recon = (
        sim.pq_reconstruct(want_codes, cb)
        .join(expected.select("vec_id", "label"), "vec_id")
        .join(cents, "label")
        .select(
            "vec_id",
            F.expr(
                "zip_with(recon, centroid, (r, c) -> round(r + c, 6))"
            ).alias("recon"),
        )
    )
    want = si._rerank_candidates(recon, cand, queries, 10).collect()
    assert sorted(
        (r.query_id, r.doc_id, r.cosine, r.rank) for r in got_rows
    ) == sorted((r.query_id, r.doc_id, r.cosine, r.rank) for r in want)

    # 4. redelivery: manifest no-op on source and both indexes
    heads = [
        lakelog.latest_version(t)
        for t in (
            src,
            si._tables(bm25_root)[si._TF],
            os.path.join(ivfpq_root, "pq_codes"),
        )
    ]
    assert sink(batch, 0) == 2
    assert heads == [
        lakelog.latest_version(t)
        for t in (
            src,
            si._tables(bm25_root)[si._TF],
            os.path.join(ivfpq_root, "pq_codes"),
        )
    ]

    # and the lifecycle's retrain step works on the doc_id-keyed
    # stream this sink maintains (id_col threads through)
    new_root = str(tmp_path / "ivfpq2")
    assert si.ivfpq_index_retrain(
        spark, src, new_root, old_root=ivfpq_root, id_col="doc_id"
    ) == lakelog.latest_version(src)
    assert (
        si.ivfpq_search_from_index(spark, new_root, queries, k=10, nprobe=2)
        .count() == 30
    )


def test_ivfpq_retrain_blue_green_lifecycle(spark, sf_dir, tmp_path):
    """The full index lifecycle: build on a snapshot, maintain a
    drifted append batch under the frozen artifacts, RETRAIN into a
    new root (fresh centroids Lloyd-refined from the old ones, fresh
    codebook, full re-encode, watermark at the snapshot head), then
    maintenance resumes on the new lineage folding ONLY post-retrain
    commits — never re-folding what the rebuild already saw."""
    old_root = str(tmp_path / "old")
    new_root = str(tmp_path / "new")
    src = str(tmp_path / "src")
    embs = load_table(spark, sf_dir, "embeddings")
    n = embs.count()
    cut = (2 * n) // 3
    base = embs.filter(F.col("vec_id") < cut)
    lakelog.append_commit(
        spark, src, base.select("vec_id", "embedding", F.lit(1).alias("_ts_ms"))
    )
    si.ivfpq_index_build(spark, base, old_root, source_watermark=1)

    # drift: the appended vectors live in a region the frozen
    # centroids never saw (negated components)
    drifted = embs.filter(F.col("vec_id") >= cut).select(
        "vec_id",
        F.expr("transform(embedding, x -> -x)").alias("embedding"),
        F.lit(2).alias("_ts_ms"),
        F.lit("c").alias("_op"),
    )
    lakelog.merge_apply_cdc(spark, src, drifted, ["vec_id"], "_ts_ms")
    assert si.ivfpq_index_maintain(spark, src, old_root) == 2

    head = si.ivfpq_index_retrain(spark, src, new_root, old_root=old_root)
    assert head == 2
    old_cents = lakelog.read(spark, os.path.join(old_root, "ivf_centroids"))
    new_cents = lakelog.read(spark, os.path.join(new_root, "ivf_centroids"))
    assert sorted(map(tuple, old_cents.collect())) != sorted(
        map(tuple, new_cents.collect())
    )
    # full snapshot encoded exactly once at seq 0
    buckets, codes = si._ivfpq_live(spark, new_root)
    assert buckets.count() == n
    assert codes.count() == n * 8
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    assert (
        si.ivfpq_search_from_index(spark, new_root, queries, k=10, nprobe=2)
        .count() == 30
    )

    # maintenance resumes on the new lineage: the next commit folds,
    # the pre-retrain history does NOT re-fold
    extra = embs.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        "embedding",
        F.lit(3).alias("_ts_ms"),
        F.lit("c").alias("_op"),
    )
    lakelog.merge_apply_cdc(spark, src, extra, ["vec_id"], "_ts_ms")
    assert si.ivfpq_index_maintain(spark, src, new_root) == 3
    buckets2, _ = si._ivfpq_live(spark, new_root)
    assert buckets2.count() == n + 5  # exactly the new rows, no refold


def test_cdc_dual_indexing_sink_streaming_end_to_end(spark, sf_dir, tmp_path):
    """The dual sink under a REAL stream (writeStream / foreachBatch /
    checkpoint, availableNow replay): artifacts built on the base
    snapshot, the remaining corpus streamed as CDC inserts joined to
    their static embeddings — after the run both indexes sit at the
    source head and hybrid serving off the pair matches the manual
    recompose."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )

    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    emb_dim = embs.select(
        F.col("vec_id").alias("doc_id"), "embedding", "label"
    )
    corpus = docs.join(emb_dim, "doc_id")
    n = corpus.count()
    cut = (2 * n) // 3
    base = corpus.filter(F.col("doc_id") < cut)
    lakelog.append_commit(
        spark, src,
        base.select("doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")),
    )
    si.ivfpq_index_build(
        spark,
        base.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )

    stream, tmp = replay_stream(
        spark, sf_dir, "documents", chunks=3, order_col="doc_id"
    )
    try:
        q = (
            stream.select("doc_id", "text")
            .filter(F.col("doc_id") >= cut)
            .join(emb_dim.drop("label"), "doc_id")  # stream-static join
            .select(
                "doc_id", "text", "embedding",
                F.lit(2).alias("_ts_ms"), F.lit("c").alias("_op"),
            )
            .writeStream.foreachBatch(
                si.cdc_dual_indexing_sink(spark, src, bm25_root, ivfpq_root)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        cleanup(tmp)

    head = lakelog.latest_version(src)
    assert lakelog.read(spark, src).count() == n
    # both maintenance lineages sit at the source head
    assert si._applied(si._tables(bm25_root)[si._TF], "cdc-dual-bm25") == head
    assert (
        si._applied(os.path.join(ivfpq_root, "pq_codes"), "ivfpq-idx") == head
    )

    snapshot = lakelog.read(spark, src).select("doc_id", "text")
    tf, dl, _ = si.bm25_read_index(spark, bm25_root)
    want_tf, want_dl = sim.bm25_index_components(snapshot)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])
    _assert_df_equal(dl, want_dl, ["doc_id"])

    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = si.hybrid_search_from_cdc_indexes(
        spark, bm25_root, ivfpq_root, queries
    )
    assert got.count() == 30
    # every live vector serves exactly once
    live_buckets, _ = si._ivfpq_live(spark, ivfpq_root)
    assert live_buckets.count() == n


def test_cdc_sink_empty_batch_is_free(spark, tmp_path):
    """An idle trigger's empty micro-batch must not burn a source
    version (a zero-row merge would still rewrite the full snapshot —
    COW) nor append index segments."""
    src = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    sink = si.cdc_search_indexing_sink(spark, src, index)
    from kafka_cdc_elasticsearch_pipeline_spark.sources import cdc
    from pyspark.sql import types as T

    row_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    full = cdc.unwrap_envelope_cdc(
        cdc.wrap_envelope_cdc(
            spark.createDataFrame(
                [(1, "alpha", "c", 1)],
                "doc_id bigint, text string, _op string, _ts_ms bigint",
            ),
            op_col="_op",
            ts_col="_ts_ms",
        ),
        row_schema,
        ["doc_id"],
    )
    sink(full, 0)
    src_head = lakelog.latest_version(src)
    tf_head = lakelog.latest_version(si._tables(index)[si._TF])
    sink(full.filter(F.lit(False)), 1)  # idle trigger
    assert lakelog.latest_version(src) == src_head
    assert lakelog.latest_version(si._tables(index)[si._TF]) == tf_head


def test_index_read_amplification_gauge(spark, sf_dir, tmp_path):
    """The compaction gauge counts merge-on-read segments per index
    table from manifests alone: grows by one per maintenance refresh,
    resets to 1 at compaction."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    _, chunks = _doc_chunks(spark, sf_dir)
    for chunk in chunks:
        lakelog.append_commit(spark, source, chunk)
        si.bm25_index_maintain(spark, source, index)
    amp = si.index_read_amplification(index)
    assert amp["bm25_tf"]["n_segments"] == 3
    assert amp["bm25_dl"]["n_segments"] == 3
    assert "ivf_buckets" not in amp  # no vector tables in this root
    si.bm25_index_compact(spark, index)
    amp2 = si.index_read_amplification(index)
    assert {t: v["n_segments"] for t, v in amp2.items()} == {
        "bm25_tf": 1, "bm25_dl": 1, "bm25_df": 1
    }

    ivfpq = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.ivfpq_index_build(spark, embs.filter(F.col("vec_id") < 100), ivfpq)
    si.ivfpq_index_append(spark, ivfpq, embs.filter(F.col("vec_id") >= 100))
    si.ivfpq_index_delete(spark, ivfpq, [50])
    vamp = si.index_read_amplification(ivfpq)
    assert vamp["pq_codes"]["n_segments"] == 2
    assert vamp["ivf_deletes"]["n_segments"] == 1
    si.ivfpq_index_compact(spark, ivfpq)
    vamp2 = si.index_read_amplification(ivfpq)
    assert vamp2["pq_codes"]["n_segments"] == 1
    assert vamp2["ivf_deletes"]["n_segments"] == 1


# --- property test: random CDC histories through the maintain fold ----------


def _pvec(key: int, version: int):
    """Deterministic 64-dim vector for (key, version) — clustered by
    key%2 so the coarse quantizer has structure, version moving the
    noise so updates really change the embedding."""
    return [
        round(
            ((key % 2) * 97 + i * 31) % 13 - 6.0
            + ((key * 131 + version * 53 + i * 17) % 1000) / 2500.0 - 0.2,
            6,
        )
        for i in range(1, 65)
    ]


def test_ivfpq_maintain_matches_replay_over_random_cdc_histories(
    spark, tmp_path
):
    """PROPERTY: for any interleaving of upsert/delete batches, the
    maintained live index equals a frozen-artifact encode of a naive
    dict replay of the same history — the seq/tombstone algebra can't
    be broken by any op order hypothesis finds."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    KEYS = list(range(6))

    batch_strategy = st.lists(
        st.dictionaries(
            st.sampled_from(KEYS),
            st.sampled_from(["u", "d"]),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=3,
    )

    counter = {"n": 0}

    @given(history=batch_strategy)
    @settings(max_examples=8, deadline=None)
    def run(history):
        counter["n"] += 1
        root = str(tmp_path / f"case{counter['n']}")
        src = os.path.join(root, "src")
        index = os.path.join(root, "idx")
        base_rows = [(k, _pvec(k, 0), (k % 2)) for k in KEYS]
        base = spark.createDataFrame(
            base_rows, "vec_id bigint, embedding array<double>, label bigint"
        )
        lakelog.append_commit(
            spark, src,
            base.select("vec_id", "embedding", F.lit(0).alias("_ts_ms")),
        )
        si.ivfpq_index_build(spark, base, index, source_watermark=1)

        # replay the history naively in python
        state = {k: 0 for k in KEYS}  # key -> surviving version
        touched = set()
        for ts, batch in enumerate(history, start=1):
            rows = []
            for k, op in sorted(batch.items()):
                rows.append((k, _pvec(k, ts), ts, op))
                if op == "d":
                    state.pop(k, None)
                else:
                    state[k] = ts
                    touched.add(k)
            lakelog.merge_apply_cdc(
                spark, src,
                spark.createDataFrame(
                    rows,
                    "vec_id bigint, embedding array<double>, "
                    "_ts_ms bigint, _op string",
                ),
                ["vec_id"], "_ts_ms",
            )
        si.ivfpq_index_maintain(spark, src, index)

        cents = lakelog.read(spark, os.path.join(index, "ivf_centroids"))
        cb = lakelog.read(spark, os.path.join(index, "pq_codebook"))
        exp_rows = [(k, _pvec(k, v)) for k, v in sorted(state.items())]
        if not exp_rows:
            live_buckets, live_codes = si._ivfpq_live(spark, index)
            assert live_buckets.count() == 0 and live_codes.count() == 0
            return
        exp = spark.createDataFrame(
            exp_rows, "vec_id bigint, embedding array<double>"
        )
        # build label: keys never updated keep it; updated keys are
        # re-assigned under the frozen centroids at their fold
        assigned = sim.assign_centroids(
            exp.filter(F.col("vec_id").isin(sorted(touched))).withColumn(
                "label", F.lit(-1).cast("long")
            ),
            cents,
        ).select("vec_id", F.col("assigned_label").alias("label"))
        expected = (
            exp.filter(~F.col("vec_id").isin(sorted(touched)))
            .withColumn("label", (F.col("vec_id") % 2).cast("long"))
            .unionByName(exp.join(assigned, "vec_id"))
        )
        live_buckets, live_codes = si._ivfpq_live(spark, index)
        assert sorted(
            (r.vec_id, r.label) for r in live_buckets.collect()
        ) == sorted(
            (r.vec_id, r.label)
            for r in expected.select("vec_id", "label").collect()
        )
        want = sim.pq_encode(sim.residuals(expected, cents), cb)
        assert sorted(
            (r.vec_id, r.m, r.code) for r in live_codes.collect()
        ) == sorted((r.vec_id, r.m, r.code) for r in want.collect())

    run()


def test_ivfpq_serve_scan_prunes_to_probed_buckets(spark, sf_dir, tmp_path):
    """Bucket-clustered segments + per-file label stats: a probed-
    label predicate must SKIP files at listing time (the serve scan
    follows nprobe/n_buckets of the corpus), while the rows read stay
    exactly the probed buckets' rows — pruning is an optimization,
    never a filter change."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources.lakelog import (
        plan_scan,
        read_manifest,
    )

    index, grown, queries, cents = _grown_ivfpq(spark, sf_dir, tmp_path)
    codes_t = os.path.join(index, "pq_codes")
    head = lakelog.latest_version(codes_t)
    man = read_manifest(codes_t, head)
    total_files = sum(
        len(v) for v in man.get("file_stats", {}).values()
    )
    kept, skipped = plan_scan(codes_t, man, [("label", "in", [0, 1])])
    assert skipped > 0
    assert len(kept) < total_files
    # exactness: the pruned read returns exactly the probed rows
    pruned = lakelog.read(spark, codes_t, where=[("label", "in", [0, 1])])
    full = lakelog.read(spark, codes_t)
    assert pruned.count() == full.filter(F.col("label").isin([0, 1])).count()
    # and the pruned live view serves the same rows as an unpruned one
    b_full, c_full = si._ivfpq_live(spark, index)
    b_pruned, c_pruned = si._ivfpq_live(spark, index, probe_labels=[0, 1])
    assert sorted(
        (r.vec_id, r.seq) for r in b_pruned.collect()
    ) == sorted(
        (r.vec_id, r.seq)
        for r in b_full.filter(F.col("label").isin([0, 1])).collect()
    )
    assert c_pruned.count() == c_full.filter(
        F.col("label").isin([0, 1])
    ).count()


def test_cdc_sink_empty_first_batch_does_not_crash(spark, tmp_path):
    """Round-9 advice: if the very FIRST micro-batch a CDC sink sees is
    empty (an idle trigger before any data), the merge short-circuits
    without creating the source table — the maintain call must not
    then crash on the missing table. All three CDC sinks share the
    guard; the dual sink exercises it for both indexes at once."""
    from pyspark.sql import types as T

    from kafka_cdc_elasticsearch_pipeline_spark.sources import cdc

    src = str(tmp_path / "docs")
    row_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    full = cdc.unwrap_envelope_cdc(
        cdc.wrap_envelope_cdc(
            spark.createDataFrame(
                [(1, "alpha beta", "c", 1)],
                "doc_id bigint, text string, _op string, _ts_ms bigint",
            ),
            op_col="_op",
            ts_col="_ts_ms",
        ),
        row_schema,
        ["doc_id"],
    )
    empty = full.filter(F.lit(False))
    sink = si.cdc_search_indexing_sink(spark, src, str(tmp_path / "idx"))
    assert sink(empty, 0) is None  # no table yet: nothing to maintain
    assert lakelog.latest_version(src) is None
    # the stream then proceeds normally once data arrives
    assert sink(full, 1) == 1
    tf, _, _ = si.bm25_read_index(spark, str(tmp_path / "idx"))
    assert tf.count() == 2

    ann_sink = si.cdc_ann_indexing_sink(
        spark, str(tmp_path / "vecs"), str(tmp_path / "ivfpq")
    )
    assert ann_sink(empty, 0) is None
    dual = si.cdc_dual_indexing_sink(
        spark, str(tmp_path / "docs2"),
        str(tmp_path / "bm25b"), str(tmp_path / "ivfpqb"),
    )
    assert dual(empty, 0) is None


def test_bm25_indexing_sink_empty_batch_is_free(spark, sf_dir, tmp_path):
    """Round-9 advice: the plain (non-CDC) BM25 ingest sink gets the
    same idle-trigger guard as the CDC sinks — an empty batch must not
    burn a source version nor append three empty index segments."""
    src = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    _, chunks = _doc_chunks(spark, sf_dir)
    sink = si.bm25_indexing_sink(spark, src, index)
    empty = chunks[0].filter(F.lit(False))
    assert sink(empty, 0) is None  # before any data: no table created
    assert lakelog.latest_version(src) is None
    sink(chunks[0], 1)
    src_head = lakelog.latest_version(src)
    tf_head = lakelog.latest_version(si._tables(index)[si._TF])
    amp = si.index_read_amplification(index)
    assert sink(empty, 2) is None  # idle trigger mid-stream
    assert lakelog.latest_version(src) == src_head
    assert lakelog.latest_version(si._tables(index)[si._TF]) == tf_head
    assert si.index_read_amplification(index) == amp
    # the pq ingest sink shares the guard
    pq_root = str(tmp_path / "pq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.pq_index_build(spark, embs.filter(F.col("vec_id") < 50), pq_root)
    codes_t = os.path.join(pq_root, "pq_codes")
    codes_head = lakelog.latest_version(codes_t)
    pq_sink = si.pq_indexing_sink(spark, pq_root)
    assert pq_sink(embs.filter(F.lit(False)), 0) is None
    assert lakelog.latest_version(codes_t) == codes_head


def test_adopt_legacy_label_backfill_joins_on_seq(spark, sf_dir, tmp_path):
    """Round-9 advice: a seq-era-but-pre-label-era index (an update
    left TWO bucket rows per vec_id at different seqs) must backfill
    the codes' missing label by joining buckets on (vec_id, seq) — a
    vec_id-only join fans each code row out across both eras' bucket
    rows and the recon groupBy then collects duplicated (m, sub)
    pairs, corrupting every upserted vector's reconstruction."""
    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.ivfpq_index_build(spark, embs.filter(F.col("vec_id") < 100), index)
    # upsert vec 5 to vec 60's embedding: tombstone + same-seq re-append
    moved = embs.filter(F.col("vec_id") == 60).select(
        F.lit(5).cast("long").alias("vec_id"), "embedding"
    )
    s = si.ivfpq_index_delete(spark, index, [5])
    si.ivfpq_index_append(spark, index, moved, seq=s)
    codes_t = os.path.join(index, "pq_codes")
    assert (
        lakelog.read(spark, codes_t).filter(F.col("vec_id") == 5).count() == 16
    )  # two eras' codes on disk — the layout that fans out
    want = {
        r.vec_id: r.recon
        for r in si._ivfpq_live_recon(spark, index).collect()
    }
    n_codes = lakelog.read(spark, codes_t).count()
    # strip label (keep seq): the mid-PR intermediate layout
    legacy = lakelog.read(spark, codes_t).drop("label")
    lakelog.commit(
        codes_t, legacy, "purge",
        expect_parent=lakelog.latest_version(codes_t),
        stat_cols=["vec_id"],
    )
    # serving is already correct pre-adoption (recon joins buckets on
    # (vec_id, seq)); only the label file-prune is lost
    queries = embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    assert si.ivfpq_search_from_index(
        spark, index, queries, k=5, nprobe=2
    ).count() == 10
    # a seq-writing mutation triggers the one-time adoption rewrite
    si.ivfpq_index_delete(spark, index, [99])
    upgraded = lakelog.read(spark, codes_t)
    assert "label" in upgraded.columns
    assert upgraded.count() == n_codes  # exact join: no fan-out
    got = {
        r.vec_id: r.recon
        for r in si._ivfpq_live_recon(spark, index).collect()
    }
    want.pop(99)
    assert got == want  # upserted vec 5's recon survives uncorrupted


def test_rrf_fuse_consensus_beats_solo_favorite(spark):
    """RRF semantics: a doc BOTH lists rank mid-pool outranks a doc
    one list ranks #1 and the other misses — 1/(60+3)+1/(60+3) >
    1/(60+1). Also pins the N=3 ordered fold and doc_id tiebreak."""
    lex = spark.createDataFrame(
        [(0, 100, 1), (0, 7, 3), (0, 8, 4)],
        "query_id bigint, doc_id bigint, rank bigint",
    )
    dense = spark.createDataFrame(
        [(0, 200, 1), (0, 7, 3), (0, 8, 4)],
        "query_id bigint, doc_id bigint, rank bigint",
    )
    out = {r.doc_id: r for r in si.rrf_fuse([lex, dense], k0=60, k=10).collect()}
    assert out[7].rank == 1 and out[8].rank == 2
    assert out[7].rrf == round(2 / 63.0, 6)
    # solo #1s tie at 1/61 -> doc_id ASC breaks it
    assert (out[100].rank, out[200].rank) == (3, 4)
    # three lists: fold stays deterministic and adds the third signal
    recency = spark.createDataFrame(
        [(0, 200, 2)], "query_id bigint, doc_id bigint, rank bigint"
    )
    out3 = {
        r.doc_id: r
        for r in si.rrf_fuse([lex, dense, recency], k0=60, k=10).collect()
    }
    assert out3[200].rrf == round(1 / 61.0 + 1 / 62.0, 6)
    assert out3[200].rank == 1  # two signals now beat every solo rank


def test_hybrid_rrf_serves_from_indexes_only(spark, sf_dir, tmp_path):
    """The RRF serve composes the two maintained-index rank lists:
    every fused doc must come from one of the two top-pool lists, and
    a doc present in both lists must carry the sum of its reciprocal
    terms."""
    source = str(tmp_path / "docs")
    bm25_root = str(tmp_path / "bm25")
    pq_root = str(tmp_path / "pq")
    docs, _ = _doc_chunks(spark, sf_dir)
    lakelog.append_commit(spark, source, docs)
    si.bm25_index_maintain(spark, source, bm25_root)
    embs = load_table(spark, sf_dir, "embeddings")
    si.pq_index_build(spark, embs, pq_root)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = si.hybrid_search_rrf_index_only(
        spark, bm25_root, pq_root, queries, query_ids=(0, 1, 2), pool=20, k=10
    ).collect()
    assert len(got) == 30
    lex = {
        (r.query_id, r.doc_id): r.rank
        for r in si._bm25_cand_topk(
            spark, bm25_root, (0, 1, 2), 20, with_rank=True
        ).collect()
    }
    cb, codes = si.pq_index_read(spark, pq_root)
    from pyspark.sql import Window as W

    recon = sim.pq_reconstruct(codes, cb)
    wd = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    dense = {
        (r.query_id, r.doc_id): r.rank
        for r in recon.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(sim.cosine(F.col("recon"), F.col("q_embedding")), 6).alias(
                "cosine"
            ),
        )
        .withColumn("rank", F.row_number().over(wd))
        .filter(F.col("rank") <= 20)
        .collect()
    }
    for r in got:
        key = (r.query_id, r.doc_id)
        assert key in lex or key in dense
        want = 0.0
        if key in lex:
            want += 1.0 / (60 + lex[key])
        if key in dense:
            want += 1.0 / (60 + dense[key])
        assert r.rrf == round(want, 6)


# --- blue/green serving pointer + retrain swap -------------------------------


def test_serving_pointer_flip_cas_and_rollback(spark, tmp_path):
    """The cutover primitive: versioned atomic flips, CAS against the
    expected current root, rollback = pointing back."""
    import pytest as _pytest

    ptr = str(tmp_path / "ptr")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    with _pytest.raises(FileNotFoundError):
        si.serving_pointer_get(ptr)
    assert si.serving_pointer_set(ptr, a) == 1
    assert si.serving_pointer_get(ptr) == os.path.abspath(a)
    assert si.serving_pointer_set(ptr, b, expect_root=a) == 2
    assert si.serving_pointer_get(ptr) == os.path.abspath(b)
    # CAS: a racer that still believes 'a' is serving must conflict,
    # not silently overwrite the cutover
    with _pytest.raises(lakelog.CommitConflict):
        si.serving_pointer_set(ptr, str(tmp_path / "c"), expect_root=a)
    assert si.serving_pointer_get(ptr) == os.path.abspath(b)
    # rollback is just pointing back
    assert si.serving_pointer_set(ptr, a) == 3
    assert si.serving_pointer_get(ptr) == os.path.abspath(a)


def _swap_scenario(spark, sf_dir, tmp_path):
    """Blue/green lifecycle up to the moment of the swap: blue built
    on the base two-thirds and maintained through the insert commit,
    green retrained at snapshot v2, a CDC update+delete batch landed
    at v3 DURING the retrain window. Returns the paths + the set of
    vec_ids that must survive."""
    embs = load_table(spark, sf_dir, "embeddings")
    max_id = embs.agg(F.max("vec_id").alias("mx")).collect()[0].mx
    n = max_id + 1
    cut = (2 * n) // 3
    src = str(tmp_path / "src")
    old = str(tmp_path / "blue")
    new = str(tmp_path / "green")
    ptr = str(tmp_path / "serving")
    base = embs.filter(F.col("vec_id") < cut)
    lakelog.append_commit(
        spark, src, base.select("vec_id", "embedding", F.lit(1).alias("_ts_ms"))
    )
    si.ivfpq_index_build(spark, base, old, source_watermark=1)
    si.serving_pointer_set(ptr, old)
    lakelog.merge_apply_cdc(
        spark, src,
        embs.filter(F.col("vec_id") >= cut).select(
            "vec_id", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("c").alias("_op"),
        ),
        ["vec_id"], "_ts_ms",
    )
    si.ivfpq_index_maintain(spark, src, old)
    si.ivfpq_index_retrain(spark, src, new, old_root=old, iterations=1)
    nxt = embs.select(
        F.col("vec_id").alias("src_of"), F.col("embedding").alias("new_emb")
    )
    updates = (
        embs.filter((F.col("vec_id") % 11 == 5) & (F.col("vec_id") % 13 != 7))
        .withColumn("src_of", (F.col("vec_id") + 1) % n)
        .join(nxt, "src_of")
        .select(
            "vec_id", F.col("new_emb").alias("embedding"),
            F.lit(3).alias("_ts_ms"), F.lit("u").alias("_op"),
        )
    )
    deletes = embs.filter(F.col("vec_id") % 13 == 7).select(
        "vec_id", "embedding", F.lit(3).alias("_ts_ms"), F.lit("d").alias("_op")
    )
    lakelog.merge_apply_cdc(
        spark, src, updates.unionByName(deletes), ["vec_id"], "_ts_ms"
    )
    survivors = {
        r.vec_id for r in embs.filter(F.col("vec_id") % 13 != 7).collect()
    }
    return src, old, new, ptr, survivors


def test_ivfpq_swap_watermark_handoff(spark, sf_dir, tmp_path):
    """The swap folds EXACTLY the mid-retrain window ((v2, v3]) into
    the green root: nothing lost (deletes/updates from v3 applied),
    nothing doubled (one live bucket row and m live code rows per
    surviving vector — a watermark-0 amnesia would refold v1+v2 as
    duplicate segments)."""
    src, old, new, ptr, survivors = _swap_scenario(spark, sf_dir, tmp_path)
    head = si.ivfpq_index_swap(spark, src, new, ptr, expect_root=old)
    assert head == 3
    assert si.serving_pointer_get(ptr) == os.path.abspath(new)
    buckets, codes = si._ivfpq_live(spark, new)
    got_b = {r.vec_id: r for r in buckets.collect()}
    assert set(got_b) == survivors  # nothing lost, deletes applied
    assert buckets.count() == len(survivors)  # nothing doubled
    per_vec = codes.groupBy("vec_id").count().collect()
    assert {r.vec_id for r in per_vec} == survivors
    assert all(r["count"] == sim.PQ_M for r in per_vec)
    # an updated vector serves its re-encoded (post-update) embedding:
    # its live seq is the v3 fold, not the retrain's seq-0 snapshot
    upd = sorted(v for v in survivors if v % 11 == 5)
    assert upd and all(got_b[v].seq == 3 for v in upd)
    # a redelivered swap is a no-op end to end (idempotent fold +
    # pointer re-flip is a fresh version but same target)
    heads_before = {
        t: lakelog.latest_version(os.path.join(new, t))
        for t in ("ivf_buckets", "pq_codes", "ivf_deletes")
    }
    assert si.ivfpq_index_swap(spark, src, new, ptr, expect_root=new) == 3
    assert {
        t: lakelog.latest_version(os.path.join(new, t))
        for t in ("ivf_buckets", "pq_codes", "ivf_deletes")
    } == heads_before


def test_ivfpq_swap_crash_between_fold_and_flip(spark, sf_dir, tmp_path, monkeypatch):
    """Crash AFTER the catch-up fold but BEFORE the pointer flip: the
    old root keeps serving (pointer untouched), and the replayed swap
    re-enters the fold as a fully-applied no-op (no new segments) then
    lands the flip."""
    import pytest as _pytest

    src, old, new, ptr, survivors = _swap_scenario(spark, sf_dir, tmp_path)
    real_flip = si.serving_pointer_set

    def crash_flip(*a, **kw):
        raise RuntimeError("crash before pointer flip")

    monkeypatch.setattr(si, "serving_pointer_set", crash_flip)
    with _pytest.raises(RuntimeError, match="crash before pointer flip"):
        si.ivfpq_index_swap(spark, src, new, ptr, expect_root=old)
    # serving still resolves the old root — applications are unharmed
    assert si.serving_pointer_get(ptr) == os.path.abspath(old)
    heads_after_crash = {
        t: lakelog.latest_version(os.path.join(new, t))
        for t in ("ivf_buckets", "pq_codes", "ivf_deletes")
    }
    monkeypatch.setattr(si, "serving_pointer_set", real_flip)
    assert si.ivfpq_index_swap(spark, src, new, ptr, expect_root=old) == 3
    # the replayed fold appended nothing (watermarks already at head)
    assert {
        t: lakelog.latest_version(os.path.join(new, t))
        for t in ("ivf_buckets", "pq_codes", "ivf_deletes")
    } == heads_after_crash
    assert si.serving_pointer_get(ptr) == os.path.abspath(new)
    buckets, _ = si._ivfpq_live(spark, new)
    assert buckets.count() == len(survivors)


def test_ivfpq_swap_crash_mid_fold_recovers(spark, sf_dir, tmp_path, monkeypatch):
    """Crash INSIDE the catch-up fold (tombstones committed, codes
    not): the pointer still serves the old root, and the replay's
    per-table catch-up converges to the same live state."""
    import pytest as _pytest

    src, old, new, ptr, survivors = _swap_scenario(spark, sf_dir, tmp_path)
    real_append = si._append_segment
    calls = {"n": 0}

    def flaky_append(table, delta, app_id, src_version, **kw):
        calls["n"] += 1
        if calls["n"] == 3:  # dels, buckets land; codes crashes
            raise RuntimeError("crash mid-fold")
        return real_append(table, delta, app_id, src_version, **kw)

    monkeypatch.setattr(si, "_append_segment", flaky_append)
    with _pytest.raises(RuntimeError, match="crash mid-fold"):
        si.ivfpq_index_swap(spark, src, new, ptr, expect_root=old)
    assert si.serving_pointer_get(ptr) == os.path.abspath(old)
    monkeypatch.setattr(si, "_append_segment", real_append)
    assert si.ivfpq_index_swap(spark, src, new, ptr, expect_root=old) == 3
    buckets, codes = si._ivfpq_live(spark, new)
    assert {r.vec_id for r in buckets.collect()} == survivors
    assert codes.count() == len(survivors) * sim.PQ_M


# --- gauge→action maintenance policy -----------------------------------------


def test_policy_compaction_fires_in_checkpointed_stream(spark, sf_dir, tmp_path):
    """The round-9 verdict's #1 'Done' condition: a policy-driven
    compaction fires INSIDE a real checkpointed streaming run (six
    micro-batches, max_segments=2), and serving from the compacted
    index scores bit-identically to a from-scratch build of the same
    snapshot — the serve-parity oracle the gate rows already pin,
    here asserted across a mid-stream compaction."""
    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )

    src = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    policy = si.IndexMaintenancePolicy(max_segments=2)
    stream, tmp = replay_stream(
        spark, sf_dir, "documents", chunks=6, order_col="doc_id"
    )
    try:
        q = (
            stream.select("doc_id", "text")
            .writeStream.foreachBatch(
                si.bm25_indexing_sink(spark, src, index, policy=policy)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        cleanup(tmp)
    # 6 folds with a 2-segment cap: compaction MUST have fired, and no
    # table ends above cap+1 (one fold after the last compaction)
    status = si.read_maintenance_status(index)
    assert status["n_segments"]  # policy ran and persisted its report
    amp = si.index_read_amplification(index)
    assert all(v["n_segments"] <= 3 for v in amp.values())
    # serve parity across the compaction(s)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {
        (r.query_id, r.doc_id): (r.n_terms, r.bm25)
        for r in si.bm25_score_from_index(spark, index, (0, 1, 2)).collect()
    }
    want = {
        (r.query_id, r.doc_id): (r.n_terms, r.bm25)
        for r in sim.bm25_scored_candidates(docs, (0, 1, 2)).collect()
    }
    assert got == want and len(got) > 0


def test_policy_kill_restart_mid_compact(spark, sf_dir, tmp_path, monkeypatch):
    """Kill the stream MID-COMPACT (tf rewritten, dl crashes) and
    restart from the checkpoint: the replayed batch re-enters
    idempotently (ingest + maintain are watermarked no-ops), the
    policy finds dl/df still over threshold and finishes the
    compaction, and the final index scores equal a from-scratch
    build."""
    import pytest as _pytest

    from kafka_cdc_elasticsearch_pipeline_spark.streaming.replay import (
        cleanup,
        replay_stream,
    )

    src = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    policy = si.IndexMaintenancePolicy(max_segments=2)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream, tmp = replay_stream(
        spark, sf_dir, "documents", chunks=6, order_col="doc_id"
    )
    real_commit = lakelog.commit
    calls = {"n": 0}

    def flaky_commit(*a, **kw):
        # during this stream, lakelog.commit is reached ONLY from
        # bm25_index_compact (ingest/maintain go through txn appends)
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("kill mid-compact")
        return real_commit(*a, **kw)

    monkeypatch.setattr(lakelog, "commit", flaky_commit)
    try:
        q = (
            stream.select("doc_id", "text")
            .writeStream.foreachBatch(
                si.bm25_indexing_sink(spark, src, index, policy=policy)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        with _pytest.raises(Exception, match="kill mid-compact"):
            q.awaitTermination()
        assert calls["n"] >= 2  # the compaction really was mid-flight
        monkeypatch.setattr(lakelog, "commit", real_commit)
        # restart from the same checkpoint over the same source files
        stream2 = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(tmp, "data"))
        )
        q2 = (
            stream2.select("doc_id", "text")
            .writeStream.foreachBatch(
                si.bm25_indexing_sink(spark, src, index, policy=policy)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
    finally:
        cleanup(tmp)
    amp = si.index_read_amplification(index)
    assert all(v["n_segments"] <= 3 for v in amp.values())
    got = {
        (r.query_id, r.doc_id): (r.n_terms, r.bm25)
        for r in si.bm25_score_from_index(spark, index, (0, 1, 2)).collect()
    }
    want = {
        (r.query_id, r.doc_id): (r.n_terms, r.bm25)
        for r in sim.bm25_scored_candidates(docs, (0, 1, 2)).collect()
    }
    assert got == want and len(got) > 0


def test_policy_vacuum_bounds_disk_and_keeps_change_feed(spark, tmp_path):
    """Round-9 verdict #6: a long fold/compact sequence with
    retention-aware vacuum keeps the on-disk directory count BOUNDED
    (without it, every fold's segment dir and every superseded
    version's manifest live forever), while a read_changes consumer
    within the retention window still reads its increment."""
    src = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    policy = si.IndexMaintenancePolicy(
        max_segments=2, vacuum_keep_last=2, vacuum_min_age_s=0.0
    )
    sink = si.bm25_indexing_sink(spark, src, index, policy=policy)
    tf_table = si._tables(index)[si._TF]
    max_dirs = 0
    for i in range(10):
        batch = spark.createDataFrame(
            [(i * 2, f"alpha w{i}"), (i * 2 + 1, f"beta w{i} w{i}")],
            "doc_id bigint, text string",
        )
        sink(batch, i)
        n_dirs = sum(
            1 for d in os.listdir(tf_table) if d != "_log"
        )
        max_dirs = max(max_dirs, n_dirs)
    # bound: ≤ max_segments compactions-worth of segments + the kept
    # prior version's dirs; 10 unvacuumed folds would exceed this
    assert max_dirs <= 7
    n_manifests = len(lakelog.versions(tf_table))
    assert n_manifests <= 2  # keep_last
    # a consumer within retention reads the last fold's increment
    head = lakelog.latest_version(tf_table)
    inc = lakelog.read_changes(spark, tf_table, head - 1, head)
    assert inc.filter(F.col("word") == "w9").count() > 0
    # and the merged view still equals a from-scratch recompute
    snapshot = lakelog.read(spark, src).select("doc_id", "text")
    tf, dl, df = si.bm25_read_index(spark, index)
    want_tf, _ = sim.bm25_index_components(snapshot)
    _assert_df_equal(tf, want_tf, ["doc_id", "word"])


def test_policy_retrain_due_flag_calibration_and_stickiness(
    spark, sf_dir, tmp_path
):
    """The drift gauge→flag path: pq_assignment_balance over the LIVE
    codes sets retrain_due against the policy threshold, and the flag
    is STICKY across applies that skip the (corpus-scan) measurement
    — the operator reads it from the status file whenever they look,
    not only in the batch that measured it."""
    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.ivfpq_index_build(spark, embs.filter(F.col("vec_id") < 200), index)
    # healthy corpus vs the calibrated default: no flag
    rep = si.apply_index_policy(
        spark, index, si.IndexMaintenancePolicy(always_check_balance=True)
    )
    assert rep["imbalance"] is not None
    assert rep["retrain_due"] is False
    # an (artificially) tight threshold fires the flag
    rep2 = si.apply_index_policy(
        spark, index,
        si.IndexMaintenancePolicy(
            always_check_balance=True, retrain_imbalance=1.0
        ),
    )
    assert rep2["retrain_due"] is True
    # sticky: the next apply skips the measurement but keeps the flag
    rep3 = si.apply_index_policy(spark, index, si.IndexMaintenancePolicy())
    assert rep3["retrain_due"] is True
    assert si.read_maintenance_status(index)["retrain_due"] is True
    # a fresh measurement under the calibrated threshold clears it
    rep4 = si.apply_index_policy(
        spark, index, si.IndexMaintenancePolicy(always_check_balance=True)
    )
    assert rep4["retrain_due"] is False


def test_retire_index_root_guards_and_deletes(spark, sf_dir, tmp_path):
    """Old-root retirement (the blue/green cycle's last step), driven
    by the POINTER LOG, not mtimes (round-10 verdict #1): never
    deletes the CURRENT serving root, refuses any root referenced by
    the last ``history_keep`` pointer records (as target OR as a
    record's ``previous`` — straggler readers), deletes a root that
    fell out of the window."""
    import pytest as _pytest

    ptr = str(tmp_path / "ptr")
    a = str(tmp_path / "blue")
    b = str(tmp_path / "green")
    c = str(tmp_path / "third")
    embs = load_table(spark, sf_dir, "embeddings")
    base = embs.filter(F.col("vec_id") < 50)
    for root in (a, b, c):
        si.ivfpq_index_build(spark, base, root)
    si.serving_pointer_set(ptr, a)
    with _pytest.raises(ValueError, match="CURRENT serving root"):
        si.retire_index_root(ptr, a)
    si.serving_pointer_set(ptr, b, expect_root=a)
    # one flip deep: 'a' is the head record's previous — refused even
    # at the tightest window (an in-flight serve may still read it)
    assert si.retire_index_root(ptr, a, history_keep=1) is False
    assert os.path.isdir(a)
    si.serving_pointer_set(ptr, c, expect_root=b)
    # 'a' is still inside a 2-record window (record {b, previous=a})
    assert si.retire_index_root(ptr, a, history_keep=2) is False
    assert os.path.isdir(a)
    # ...and outside a 1-record window ({c, previous=b}): removed
    assert si.retire_index_root(ptr, a, history_keep=1) is True
    assert not os.path.isdir(a)
    # idempotent on a gone root
    assert si.retire_index_root(ptr, a, history_keep=1) is False
    # serving is unharmed throughout
    queries = embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    assert si.ivfpq_search_serving(spark, ptr, queries, k=5).count() == 10


def test_retire_index_root_rollback_history(spark, sf_dir, tmp_path):
    """The flip-flip-rollback history the round-10 verdict prescribed:
    after a→b→(rollback)→a, the rolled-back-FROM root 'b' is head's
    ``previous`` and must be refused at every window depth ≥ 1 — the
    race the mtime heuristic could only narrow is closed by the log."""
    ptr = str(tmp_path / "ptr")
    a = str(tmp_path / "blue")
    b = str(tmp_path / "green")
    embs = load_table(spark, sf_dir, "embeddings")
    base = embs.filter(F.col("vec_id") < 50)
    for root in (a, b):
        si.ivfpq_index_build(spark, base, root)
    si.serving_pointer_set(ptr, a)
    si.serving_pointer_set(ptr, b, expect_root=a)
    si.serving_pointer_set(ptr, a, expect_root=b)  # rollback
    assert si.retire_index_root(ptr, b, history_keep=1) is False
    assert si.retire_index_root(ptr, b, history_keep=2) is False
    assert os.path.isdir(b)
    # two more forward flips push 'b' out of a 2-record window
    c = str(tmp_path / "third")
    si.ivfpq_index_build(spark, base, c)
    si.serving_pointer_set(ptr, c, expect_root=a)
    si.serving_pointer_set(ptr, a, expect_root=c)
    # history now: ..., {c,prev=a}, {a,prev=c} — 'b' absent from the
    # last 2 records in every role
    assert si.retire_index_root(ptr, b, history_keep=2) is True
    assert not os.path.isdir(b)


def test_ivfpq_swap_on_doc_keyed_dual_stream(spark, sf_dir, tmp_path):
    """The swap on the REFERENCE pipeline's key shape: a documents
    stream keyed on doc_id (the dual sink's source), retrained and
    swapped with id_col='doc_id' end to end — the id_col rename seam
    through retrain, catch-up maintain, and pointer-resolved serve."""
    src = str(tmp_path / "src")
    old = str(tmp_path / "blue")
    new = str(tmp_path / "green")
    ptr = str(tmp_path / "ptr")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = embs.select(
        F.col("vec_id").alias("doc_id"), "embedding", "label"
    ).filter(F.col("doc_id") < 240)
    base = corpus.filter(F.col("doc_id") < 160)
    lakelog.append_commit(
        spark, src, base.drop("label").select(
            "doc_id", "embedding", F.lit(1).alias("_ts_ms")
        )
    )
    si.ivfpq_index_build(
        spark,
        base.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        old,
        source_watermark=1,
    )
    si.serving_pointer_set(ptr, old)
    # retrain at v1, then CDC lands during the window (insert + delete)
    si.ivfpq_index_retrain(
        spark, src, new, old_root=old, iterations=1, id_col="doc_id"
    )
    lakelog.merge_apply_cdc(
        spark, src,
        corpus.filter(F.col("doc_id") >= 160).drop("label").select(
            "doc_id", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("c").alias("_op"),
        ).unionByName(
            # delete only BASE docs: deleting a doc inserted in the
            # same batch at the same ts would be a writer-side tie
            corpus.filter(
                (F.col("doc_id") % 16 == 3) & (F.col("doc_id") < 160)
            ).drop("label").select(
                "doc_id", "embedding",
                F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
            )
        ),
        ["doc_id"], "_ts_ms",
    )
    head = si.ivfpq_index_swap(
        spark, src, new, ptr, id_col="doc_id", expect_root=old
    )
    assert head == 2
    survivors = {
        r.doc_id
        for r in corpus.filter(
            (F.col("doc_id") % 16 != 3) | (F.col("doc_id") >= 160)
        ).collect()
    }
    buckets, _ = si._ivfpq_live(spark, new)
    assert {r.vec_id for r in buckets.collect()} == survivors
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    served = si.ivfpq_search_serving(spark, ptr, queries, k=10, nprobe=2)
    rows = served.collect()
    assert len(rows) == 30
    assert all(r.neighbor_id in survivors for r in rows)


def test_hybrid_rrf_from_cdc_indexes_respects_deletes(spark, sf_dir, tmp_path):
    """The production RRF: both lists index-served off the dual-CDC
    stack — a deleted doc enters NEITHER list so it cannot appear
    fused, and every fused doc traces to one of the two top-pool
    lists with the correct reciprocal sum."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    emb_dim = embs.select(F.col("vec_id").alias("doc_id"), "embedding", "label")
    corpus = docs.join(emb_dim, "doc_id")
    lakelog.append_commit(
        spark, src,
        corpus.drop("label").select(
            "doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")
        ),
    )
    si.ivfpq_index_build(
        spark,
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    sink = si.cdc_dual_indexing_sink(spark, src, bm25_root, ivfpq_root)
    # batch 0: no-op shaped batch to fold BM25 up (ivfpq already at 1)
    sink(
        corpus.drop("label").limit(0).select(
            "doc_id", "text", "embedding",
            F.lit(2).cast("long").alias("_ts_ms"), F.lit("c").alias("_op"),
        ),
        0,
    )
    si.bm25_index_maintain(spark, src, bm25_root, app_id="cdc-dual-bm25")
    # batch 1: delete every doc_id % 9 == 4 through the dual sink
    deleted = corpus.filter(F.col("doc_id") % 9 == 4)
    sink(
        deleted.drop("label").select(
            "doc_id", "text", "embedding",
            F.lit(3).cast("long").alias("_ts_ms"), F.lit("d").alias("_op"),
        ),
        1,
    )
    gone = {r.doc_id for r in deleted.select("doc_id").collect()}
    assert gone
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    fused = si.hybrid_search_rrf_from_cdc_indexes(
        spark, bm25_root, ivfpq_root, queries, query_ids=(0, 1, 2),
        pool=20, k=10,
    ).collect()
    assert len(fused) == 30
    assert all(r.doc_id not in gone for r in fused)
    # trace every fused doc to its source lists + reciprocal sum
    lex = {
        (r.query_id, r.doc_id): r.rank
        for r in si._bm25_cand_topk(
            spark, bm25_root, (0, 1, 2), 20, with_rank=True
        ).collect()
    }
    dense = {
        (r.query_id, r.neighbor_id): r.rank
        for r in si.ivfpq_search_from_index(
            spark, ivfpq_root, queries, k=20, nprobe=2
        ).collect()
    }
    for r in fused:
        key = (r.query_id, r.doc_id)
        assert key in lex or key in dense
        want = (1.0 / (60 + lex[key]) if key in lex else 0.0) + (
            1.0 / (60 + dense[key]) if key in dense else 0.0
        )
        assert r.rrf == round(want, 6)


def test_policy_compacts_ivfpq_family_and_serving_unchanged(
    spark, sf_dir, tmp_path
):
    """The vector side of the gauge→action loop: CDC folds grow
    bucket/code/tombstone segments past the threshold, the policy
    fires ivfpq_index_compact, and the served top-k is identical
    before and after (merge-on-read ≡ compacted — the invariant the
    compact tests pin, here triggered BY the policy)."""
    src = str(tmp_path / "src")
    index = str(tmp_path / "idx")
    embs = load_table(spark, sf_dir, "embeddings")
    base = embs.filter(F.col("vec_id") < 120)
    lakelog.append_commit(
        spark, src, base.select("vec_id", "embedding", F.lit(1).alias("_ts_ms"))
    )
    si.ivfpq_index_build(spark, base, index, source_watermark=1)
    sink = si.cdc_ann_indexing_sink(
        spark, src, index,
        policy=si.IndexMaintenancePolicy(max_segments=2),
    )
    for i in range(4):
        lo = 120 + i * 30
        batch = embs.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 30)
        ).select(
            "vec_id", "embedding",
            F.lit(i + 2).cast("long").alias("_ts_ms"),
            F.lit("c").alias("_op"),
        )
        sink(batch, i)
    status = si.read_maintenance_status(index)
    assert "ivfpq" in status["compacted"] or si.index_read_amplification(
        index
    )["pq_codes"]["n_segments"] <= 3
    amp = si.index_read_amplification(index)
    assert amp["pq_codes"]["n_segments"] <= 3
    # the compaction measured balance and recorded the gauge
    assert status["imbalance"] is not None
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in si.ivfpq_search_from_index(
            spark, index, queries, k=10, nprobe=2
        ).collect()
    }
    # reference: a never-compacted twin maintained over the same feed
    twin = str(tmp_path / "twin")
    si.ivfpq_index_build(spark, base, twin, source_watermark=1)
    si.ivfpq_index_maintain(spark, src, twin)
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in si.ivfpq_search_from_index(
            spark, twin, queries, k=10, nprobe=2
        ).collect()
    }
    assert got == want and len(got) == 30


def test_policy_compacts_plain_pq_root(spark, sf_dir, tmp_path):
    """A plain-PQ root (codes only, no buckets/tombstones) under the
    policy: the threshold fires the GENERIC layout-only compaction
    (ivfpq_index_compact would crash on the missing buckets table),
    balance is measured over the raw codes, and ADC answers are
    unchanged — regression for the round-10 family-detection fix."""
    index = str(tmp_path / "pq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.pq_index_build(spark, embs.filter(F.col("vec_id") < 60), index)
    sink = si.pq_indexing_sink(
        spark, index,
        policy=si.IndexMaintenancePolicy(
            max_segments=2, always_check_balance=True
        ),
    )
    for i in range(4):
        lo = 60 + i * 30
        sink(
            embs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 30)),
            i,
        )
    status = si.read_maintenance_status(index)
    assert "pq" in status["compacted"] or si.index_read_amplification(
        index
    )["pq_codes"]["n_segments"] <= 3
    assert si.index_read_amplification(index)["pq_codes"]["n_segments"] <= 3
    assert status["imbalance"] is not None
    # codes content unchanged by the layout rewrite: exactly m rows
    # per vector, every ingested vector present
    cb, codes = si.pq_index_read(spark, index)
    n = codes.select("vec_id").distinct().count()
    assert n == 180
    assert codes.count() == 180 * sim.PQ_M


def test_filtered_ann_is_pre_rank_not_post_filter(spark, sf_dir, tmp_path):
    """Filtered ANN semantics: top-k among ALLOWED vectors — the
    filter must apply before the rank. A post-filter of the
    unfiltered top-k under-fills k (and can miss allowed neighbors
    entirely) whenever disallowed vectors crowd the head; this pins
    the difference on the real corpus, plus composition with
    tombstones (a deleted-but-allowed vector still cannot serve)."""
    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.ivfpq_index_build(spark, embs, index)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    allowed = embs.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    got = si.ivfpq_search_from_index(
        spark, index, queries, k=10, nprobe=2, allowed_ids=allowed
    ).collect()
    assert len(got) == 30  # k FILLED from the allowed set
    assert all(r.neighbor_id % 3 == 0 for r in got)
    # the post-filter strawman under-fills: unfiltered top-10 keeps
    # only ~1/3 allowed rows per query
    unfiltered = si.ivfpq_search_from_index(
        spark, index, queries, k=10, nprobe=2
    ).collect()
    post = [r for r in unfiltered if r.neighbor_id % 3 == 0]
    assert len(post) < 30
    # pre-rank also promotes allowed neighbors the unfiltered head hid
    got_ids = {(r.query_id, r.neighbor_id) for r in got}
    assert got_ids - {(r.query_id, r.neighbor_id) for r in post}
    # composes with tombstones: delete an allowed served neighbor and
    # it vanishes while k stays filled
    victim = got[0].neighbor_id
    si.ivfpq_index_delete(spark, index, [int(victim)])
    after = si.ivfpq_search_from_index(
        spark, index, queries, k=10, nprobe=2, allowed_ids=allowed
    ).collect()
    assert len(after) == 30
    assert all(r.neighbor_id != victim for r in after)


def test_ivfpq_swap_matches_replay_over_random_retrain_points(spark, tmp_path):
    """PROPERTY: for any CDC history and ANY retrain point inside it,
    retrain-at-snapshot + swap (catch-up fold from the stamped
    watermark) serves exactly the frozen-green-artifact encode of a
    naive python replay of the FULL history — no interleaving can
    lose, double, or misorder mid-retrain traffic. (The swap twin of
    test_ivfpq_maintain_matches_replay_over_random_cdc_histories.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    KEYS = list(range(6))
    batch_strategy = st.lists(
        st.dictionaries(
            st.sampled_from(KEYS),
            st.sampled_from(["u", "d"]),
            min_size=1,
            max_size=4,
        ),
        min_size=2,
        max_size=4,
    )
    counter = {"n": 0}

    @given(history=batch_strategy, data=st.data())
    @settings(max_examples=5, deadline=None)
    def run(history, data):
        from hypothesis import assume

        j = data.draw(
            st.integers(min_value=0, max_value=len(history)), label="retrain_at"
        )
        # python replay: state at the retrain point and at the end
        def replay(batches, start_state):
            state = dict(start_state)
            for ts, batch in batches:
                for k, op in sorted(batch.items()):
                    if op == "d":
                        state.pop(k, None)
                    else:
                        state[k] = ts
            return state

        stamped = list(enumerate(history, start=1))
        snap_state = replay(stamped[:j], {k: 0 for k in KEYS})
        final_state = replay(stamped[j:], snap_state)
        assume(snap_state)  # retrain needs a non-empty snapshot

        counter["n"] += 1
        root = str(tmp_path / f"swapcase{counter['n']}")
        src = os.path.join(root, "src")
        old = os.path.join(root, "blue")
        green = os.path.join(root, "green")
        ptr = os.path.join(root, "ptr")
        base_rows = [(k, _pvec(k, 0), (k % 2)) for k in KEYS]
        base = spark.createDataFrame(
            base_rows, "vec_id bigint, embedding array<double>, label bigint"
        )
        lakelog.append_commit(
            spark, src,
            base.select("vec_id", "embedding", F.lit(0).alias("_ts_ms")),
        )
        si.ivfpq_index_build(spark, base, old, source_watermark=1)
        si.serving_pointer_set(ptr, old)

        def apply_batch(ts, batch):
            rows = [(k, _pvec(k, ts), ts, op) for k, op in sorted(batch.items())]
            lakelog.merge_apply_cdc(
                spark, src,
                spark.createDataFrame(
                    rows,
                    "vec_id bigint, embedding array<double>, "
                    "_ts_ms bigint, _op string",
                ),
                ["vec_id"], "_ts_ms",
            )

        for ts, batch in stamped[:j]:
            apply_batch(ts, batch)
        si.ivfpq_index_retrain(spark, src, green, old_root=old, iterations=1)
        touched_after = set()
        for ts, batch in stamped[j:]:
            apply_batch(ts, batch)
            touched_after.update(batch.keys())
        si.ivfpq_index_swap(spark, src, green, ptr, expect_root=old)
        assert si.serving_pointer_get(ptr) == os.path.abspath(green)

        live_buckets, live_codes = si._ivfpq_live(spark, green)
        if not final_state:
            assert live_buckets.count() == 0 and live_codes.count() == 0
            return
        # expected labels: snapshot rows carry the retrain's refined
        # assignment (re-derived through the same lib calls retrain
        # makes — deterministic); rows upserted after the retrain are
        # assigned under green's PERSISTED centroids by the fold
        old_cents = lakelog.read(spark, os.path.join(old, "ivf_centroids"))
        cents2 = lakelog.read(spark, os.path.join(green, "ivf_centroids"))
        cb2 = lakelog.read(spark, os.path.join(green, "pq_codebook"))
        snap = spark.createDataFrame(
            [(k, _pvec(k, v)) for k, v in sorted(snap_state.items())],
            "vec_id bigint, embedding array<double>",
        )
        seeded = snap.join(
            sim.assign_centroids(
                snap.withColumn("label", F.lit(-1).cast("long")), old_cents
            ).select("vec_id", F.col("assigned_label").alias("label")),
            "vec_id",
        )
        refined = sim.kmeans_refine(seeded, iterations=1).select(
            "vec_id", F.col("final_label").alias("label")
        )
        exp = spark.createDataFrame(
            [(k, _pvec(k, v)) for k, v in sorted(final_state.items())],
            "vec_id bigint, embedding array<double>",
        )
        after_ids = sorted(touched_after)
        reassigned = sim.assign_centroids(
            exp.filter(F.col("vec_id").isin(after_ids)).withColumn(
                "label", F.lit(-1).cast("long")
            ),
            cents2,
        ).select("vec_id", F.col("assigned_label").alias("label"))
        expected = (
            exp.filter(~F.col("vec_id").isin(after_ids))
            .join(refined, "vec_id")
            .unionByName(exp.join(reassigned, "vec_id"))
        )
        assert sorted(
            (r.vec_id, r.label) for r in live_buckets.collect()
        ) == sorted(
            (r.vec_id, r.label)
            for r in expected.select("vec_id", "label").collect()
        )
        want = sim.pq_encode(sim.residuals(expected, cents2), cb2)
        assert sorted(
            (r.vec_id, r.m, r.code) for r in live_codes.collect()
        ) == sorted((r.vec_id, r.m, r.code) for r in want.collect())

    run()


def test_serving_pointer_flip_goes_through_commit_claim_hook(spark, tmp_path):
    """The pointer flip must honor lakelog's installed commit-claim
    hook (the docstring's S3-deployment claim): with a coordination
    layer installed, a racer that claimed the version first turns a
    concurrent flip into a retry at the next version — and the flip
    never bypasses the hook with a raw filesystem write."""
    ptr = str(tmp_path / "ptr")
    seen: list[tuple[str, int]] = []
    real_claim = lakelog.set_commit_claim(None)  # capture default

    def recording_claim(table, version, tmp_manifest):
        seen.append((table, version))
        return real_claim(table, version, tmp_manifest)

    prev = lakelog.set_commit_claim(recording_claim)
    try:
        si.serving_pointer_set(ptr, str(tmp_path / "a"))
        si.serving_pointer_set(ptr, str(tmp_path / "b"))
    finally:
        lakelog.set_commit_claim(prev)
    assert [v for t, v in seen if t == ptr] == [1, 2]
    # a hook that rejects version 3 once (racer owns it) forces a
    # retry that lands on version 4 — no silent overwrite
    fails = {"left": 1}

    def contested_claim(table, version, tmp_manifest):
        if table == ptr and version == 3 and fails["left"]:
            fails["left"] -= 1
            # the racer publishes version 3 out from under us
            import json as _json

            with open(lakelog._manifest_file(table, 3), "w") as f:
                _json.dump(
                    {"version": 3, "root": "/racer", "previous": None}, f
                )
            raise lakelog.CommitConflict("version 3 already committed")
        return real_claim(table, version, tmp_manifest)

    prev = lakelog.set_commit_claim(contested_claim)
    try:
        v = si.serving_pointer_set(ptr, str(tmp_path / "c"))
    finally:
        lakelog.set_commit_claim(prev)
    assert v == 4
    assert si.serving_pointer_get(ptr) == os.path.abspath(str(tmp_path / "c"))
    # the racer's record is intact in the history
    assert lakelog.read_manifest(ptr, 3)["root"] == "/racer"


def test_swap_replay_after_flip_is_noop_not_conflict(spark, sf_dir, tmp_path):
    """Round-10 review: a swap redelivered AFTER its pointer flip
    landed (crash between flip and ack, at-least-once scheduler) must
    read as success — same head, same pointer version, no new
    commits — not CommitConflict from the CAS seeing the new root."""
    src, old, new, ptr, survivors = _swap_scenario(spark, sf_dir, tmp_path)
    head = si.ivfpq_index_swap(spark, src, new, ptr, expect_root=old)
    ptr_v = lakelog.latest_version(ptr)
    # the replay passes the ORIGINAL expect_root — exactly what the
    # scheduler that launched the swap would redeliver
    assert si.ivfpq_index_swap(spark, src, new, ptr, expect_root=old) == head
    assert lakelog.latest_version(ptr) == ptr_v  # no redundant flip
    assert si.serving_pointer_get(ptr) == os.path.abspath(new)
    # same-target pointer set alone is also a version-stable no-op
    assert si.serving_pointer_set(ptr, new) == ptr_v
    assert lakelog.latest_version(ptr) == ptr_v


def test_ivfpq_live_half_built_root_raises_cleanly(spark, sf_dir, tmp_path):
    """Round-10 review: a root whose build crashed between the
    centroids and codes commits must fail the pruned serve path with
    FileNotFoundError naming the missing table, not a TypeError from
    formatting a None version."""
    import pytest as _pytest

    index = str(tmp_path / "half")
    embs = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    cents = sim.centroids(embs)
    lakelog.commit(os.path.join(index, "ivf_centroids"), cents, "append")
    lakelog.commit(
        os.path.join(index, "ivf_buckets"),
        embs.select("vec_id", "label", F.lit(0).cast("long").alias("seq")),
        "append",
        stat_cols=["vec_id", "label"],
    )
    with _pytest.raises(FileNotFoundError, match="pq_codes"):
        si._ivfpq_live(spark, index, probe_labels=[0, 1])


def test_policy_status_records_post_compaction_state(spark, sf_dir, tmp_path):
    """Round-10 review: after a policy compaction the persisted status
    must describe the index AS LEFT (counts back under threshold),
    with the pre-compaction counts kept under n_segments_before."""
    src = str(tmp_path / "docs")
    index = str(tmp_path / "idx")
    policy = si.IndexMaintenancePolicy(max_segments=2)
    sink = si.bm25_indexing_sink(spark, src, index, policy=policy)
    _, chunks = _doc_chunks(spark, sf_dir)
    for i, chunk in enumerate(chunks):
        sink(chunk, i)
    status = si.read_maintenance_status(index)
    assert status["compacted"] == ["bm25"]
    assert all(v <= 2 for v in status["n_segments"].values())
    assert max(status["n_segments_before"].values()) > 2


def test_bm25_score_from_text_matches_member_path(spark, sf_dir, tmp_path):
    """Free-text scoring (round-10 verdict #1): a query whose text IS
    doc q's text scores every candidate identically to the member-id
    path — the only difference is self-inclusion (text queries are
    their own id space, so the source doc is an ordinary candidate) —
    and the query string normalizes through the ONE shared tokenizer
    (case, repeated whitespace)."""
    source = str(tmp_path / "docs")
    index = str(tmp_path / "bm25")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lakelog.append_commit(spark, source, docs)
    si.bm25_index_maintain(spark, source, index)

    by_ids = {
        (r.query_id, r.doc_id): (r.n_terms, round(r.bm25, 9))
        for r in si.bm25_score_from_index(spark, index, (0, 1, 2)).collect()
    }
    qtext = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    by_text = {
        (r.query_id, r.doc_id): (r.n_terms, round(r.bm25, 9))
        for r in si.bm25_score_from_text(spark, index, qtext).collect()
    }
    # text path = ids path plus exactly the three self rows
    self_rows = {k for k in by_text if k[0] == k[1]}
    assert self_rows == {(0, 0), (1, 1), (2, 2)}
    assert {k: v for k, v in by_text.items() if k not in self_rows} == by_ids

    # normalization: SHOUTED, tab-ridden text scores identically
    mangled = qtext.select(
        "query_id",
        F.regexp_replace(F.upper("text"), " ", "\t  ").alias("text"),
    )
    by_mangled = {
        (r.query_id, r.doc_id): (r.n_terms, round(r.bm25, 9))
        for r in si.bm25_score_from_text(spark, index, mangled).collect()
    }
    assert by_mangled == by_text

    # no shared vocabulary -> empty hits for that query only
    mixed = spark.createDataFrame(
        [(7, "zzzqqq xyzzy")], "query_id bigint, text string"
    ).unionByName(qtext.filter(F.col("query_id") == 0))
    got = si.bm25_score_from_text(spark, index, mixed)
    assert got.filter(F.col("query_id") == 7).count() == 0
    assert got.filter(F.col("query_id") == 0).count() > 0


def test_filtered_hybrid_serves_within_allowed_set(spark, sf_dir, tmp_path):
    """Filtered rerank/rrf over the CDC-maintained stack (round-10
    verdict #3): allowed_ids restricts BOTH signals PRE-rank — every
    hit is allowed, the pool is drawn from allowed docs only (top-k
    equals a from-pieces recompute on the filtered lists), and a
    doc that is deleted AND disallowed can never surface."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(
        embs.select(F.col("vec_id").alias("doc_id"), "embedding", "label"),
        "doc_id",
    )
    lakelog.append_commit(
        spark, src,
        corpus.drop("label").select(
            "doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")
        ),
    )
    si.ivfpq_index_build(
        spark,
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    si.bm25_index_maintain(spark, src, bm25_root)
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    allowed = embs.filter(F.col("vec_id") % 3 == 0).select("vec_id")

    rrf = si.hybrid_search_rrf_from_cdc_indexes(
        spark, bm25_root, ivfpq_root, queries,
        query_ids=(0, 1, 2), pool=20, k=10, allowed_ids=allowed,
    )
    rows = rrf.collect()
    assert all(r.doc_id % 3 == 0 for r in rows)
    # parity with fusing the two filtered lists assembled by hand
    lex = si._bm25_cand_topk(
        spark, bm25_root, (0, 1, 2), 20, with_rank=True, allowed_ids=allowed
    )
    dense = si.ivfpq_search_from_index(
        spark, ivfpq_root, queries, k=20, nprobe=2, allowed_ids=allowed
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    want = si.rrf_fuse([lex, dense], k0=60, k=10)
    _assert_df_equal(rrf, want, ("query_id", "rank"))

    rr = si.hybrid_search_from_cdc_indexes(
        spark, bm25_root, ivfpq_root, queries,
        query_ids=(0, 1, 2), pool=20, k=10, allowed_ids=allowed,
    )
    assert all(r.doc_id % 3 == 0 for r in rr.collect())

    # pre-rank, not post-rank: the filtered pool must contain allowed
    # docs an unfiltered top-20 would have crowded out
    unfiltered_pool = {
        (r.query_id, r.doc_id)
        for r in si._bm25_cand_topk(
            spark, bm25_root, (0, 1, 2), 20, with_rank=False
        ).collect()
    }
    filtered_pool = {
        (r.query_id, r.doc_id)
        for r in lex.select("query_id", "doc_id").collect()
    }
    assert filtered_pool - unfiltered_pool, (
        "filtered pool adds no new docs — post-filter semantics?"
    )


def test_filtered_rerank_excludes_deleted_and_disallowed(spark, sf_dir, tmp_path):
    """Free-text + filter over the CDC stack: a doc deleted by CDC is
    out (tombstone + drained tf), a disallowed doc is out (semi-join),
    and the surviving hits rank by the same rerank arithmetic."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(
        embs.select(F.col("vec_id").alias("doc_id"), "embedding", "label"),
        "doc_id",
    ).filter(F.col("doc_id") < 300)
    lakelog.append_commit(
        spark, src,
        corpus.drop("label").select(
            "doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")
        ),
    )
    si.ivfpq_index_build(
        spark,
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    sink = si.cdc_dual_indexing_sink(
        spark, src, bm25_root, ivfpq_root, keys=("doc_id",),
        bm25_app_id="bm25",
    )
    si.bm25_index_maintain(spark, src, bm25_root)
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    # find what WOULD be served, then CDC-delete the top hit
    queries = embs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    qtext = docs.filter(F.col("doc_id") == 0).select(
        F.lit(0).cast("bigint").alias("query_id"), "text"
    )
    before = si.hybrid_search_from_cdc_indexes(
        spark, bm25_root, ivfpq_root, queries, query_ids=(0,),
        pool=20, k=10, queries_text=qtext,
    ).collect()
    victim = next(r.doc_id for r in before if r.rank == 1)
    sink(
        corpus.filter(F.col("doc_id") == victim).select(
            "doc_id", "text", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
        ),
        batch_id=1,
    )
    allowed = embs.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 300)
    ).select("vec_id")
    after = si.hybrid_search_from_cdc_indexes(
        spark, bm25_root, ivfpq_root, queries, query_ids=(0,),
        pool=20, k=10, queries_text=qtext, allowed_ids=allowed,
    ).collect()
    assert all(r.doc_id != victim for r in after)
    assert all(r.doc_id % 2 == 0 for r in after)


def test_search_fill_reports_zero_hit_queries(spark, sf_dir, tmp_path):
    """search_fill (round-10 verdict #4): one row per REQUESTED query
    — a query the serve returned nothing for must appear with
    n_hits=0, not vanish."""
    index = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings")
    si.ivfpq_index_build(spark, embs, index)
    queries = embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    # a filter keeping only 3 vectors guarantees underfill at k=10
    allowed = spark.createDataFrame(
        [(3,), (6,), (9,)], "vec_id bigint"
    )
    hits = si.ivfpq_search_from_index(
        spark, index, queries, k=10, nprobe=1, allowed_ids=allowed
    )
    fill = {
        r.query_id: (r.n_hits, r.k, r.filled)
        for r in si.search_fill(hits, (0, 1, 7), k=10).collect()
    }
    assert set(fill) == {0, 1, 7}
    assert fill[7] == (0, 10, False)  # never requested from the index
    for q in (0, 1):
        n, k, filled = fill[q]
        assert 0 <= n <= 3 and k == 10 and filled is False
    # full-fill case reports filled=True
    full = si.ivfpq_search_from_index(spark, index, queries, k=5, nprobe=2)
    fill2 = {
        r.query_id: r.filled
        for r in si.search_fill(full, (0, 1), k=5).collect()
    }
    assert fill2 == {0: True, 1: True}


def test_pinned_watermark_serving_closes_update_window(spark, sf_dir, tmp_path):
    """Pinned-watermark hybrid serving (round 11): the dual-sink
    update window CLOSED rather than detected — with the pair at
    different applied watermarks (the documented crash shape), serving
    at min(watermarks) returns exactly what the pair served BEFORE the
    divergence (consistent, boundedly stale), the explicit-watermark
    form is reproducible, a never-folded boundary raises, and once the
    lagging index catches up the default pin serves the NEW state."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(
        embs.select(F.col("vec_id").alias("doc_id"), "embedding", "label"),
        "doc_id",
    )
    lakelog.append_commit(
        spark, src,
        corpus.drop("label").select(
            "doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")
        ),
    )
    si.ivfpq_index_build(
        spark,
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    si.bm25_index_maintain(spark, src, bm25_root)
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    before = sorted(
        map(tuple, si.hybrid_search_rrf_from_cdc_indexes(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1, 2), pool=20, k=10,
        ).collect())
    )
    # v2: delete query 0's top hit; fold ONLY bm25 — the exact crash
    # window cdc_dual_indexing_sink documents
    victim = si.hybrid_search_rrf_from_cdc_indexes(
        spark, bm25_root, ivfpq_root, queries, query_ids=(0,), pool=20, k=1,
    ).collect()[0].doc_id
    changes = corpus.filter(F.col("doc_id") == int(victim)).select(
        "doc_id", "text", "embedding",
        F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
    )
    lakelog.merge_apply_cdc(spark, src, changes, ["doc_id"], "_ts_ms")
    si.bm25_index_maintain(spark, src, bm25_root)
    assert si.indexes_converged(
        src, (bm25_root, "bm25"), (ivfpq_root, "ivfpq-idx")
    )["converged"] is False

    pinned = sorted(
        map(tuple, si.hybrid_search_rrf_at_watermark(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1, 2), pool=20, k=10,
        ).collect())
    )
    assert pinned == before
    # explicit watermark: reproducible point-in-time serving
    explicit = sorted(
        map(tuple, si.hybrid_search_rrf_at_watermark(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1, 2), pool=20, k=10, watermark=1,
        ).collect())
    )
    assert explicit == before
    # a boundary nobody folded is an error, not mixed state
    with pytest.raises(ValueError, match="no committed state"):
        si.hybrid_search_rrf_at_watermark(
            spark, bm25_root, ivfpq_root, queries, watermark=9
        )
    # the replay lands: default pin moves to v2 and serves the delete
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    assert si.indexes_converged(
        src, (bm25_root, "bm25"), (ivfpq_root, "ivfpq-idx")
    )["converged"] is True
    after = si.hybrid_search_rrf_at_watermark(
        spark, bm25_root, ivfpq_root, queries,
        query_ids=(0, 1, 2), pool=20, k=10,
    ).collect()
    assert all(r.doc_id != victim for r in after)
    # ...while the explicit wm=1 pin STILL serves the old state
    explicit_again = sorted(
        map(tuple, si.hybrid_search_rrf_at_watermark(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1, 2), pool=20, k=10, watermark=1,
        ).collect())
    )
    assert explicit_again == before


def test_retire_refuses_roots_the_pointer_log_never_saw(spark, sf_dir, tmp_path):
    """round-11 review finding: a freshly retrained GREEN root whose
    swap has not flipped yet appears in no pointer record — retiring
    it would strand the imminent cutover. retire only retires roots
    the log shows served and then stopped."""
    ptr = str(tmp_path / "ptr")
    blue = str(tmp_path / "blue")
    green = str(tmp_path / "green")
    embs = load_table(spark, sf_dir, "embeddings")
    base = embs.filter(F.col("vec_id") < 50)
    si.ivfpq_index_build(spark, base, blue)
    si.serving_pointer_set(ptr, blue)
    # the retrain built green; the swap has NOT happened yet
    si.ivfpq_index_build(spark, base, green)
    assert si.retire_index_root(ptr, green, history_keep=1) is False
    assert os.path.isdir(green)
    # the swap flips; green is now current (ValueError), blue is
    # head's previous (refused while in window)
    si.serving_pointer_set(ptr, green, expect_root=blue)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CURRENT serving root"):
        si.retire_index_root(ptr, green)
    assert si.retire_index_root(ptr, blue, history_keep=1) is False


def test_pinned_serving_vs_compaction_and_vacuum(spark, sf_dir, tmp_path):
    """Pin/lifecycle interplay: a compaction rewrites an index at the
    SAME watermark, so a pin taken before and after compaction serves
    identical rows (the bisect lands on the latest — compacted —
    version of that watermark); a vacuum that removes the pinned
    history makes the pin an explicit ValueError, never a partial
    read."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # three folds so there is history to pin, compact, and vacuum
    for i in range(3):
        lakelog.append_commit(
            spark, src, docs.filter(F.col("doc_id") % 3 == i)
        )
        si.bm25_index_maintain(spark, src, bm25_root)

    def score_at(wm):
        at = si.index_versions_at_watermark(bm25_root, "bm25", wm)
        return sorted(
            (r.query_id, r.doc_id, round(r.bm25, 9))
            for r in si.bm25_score_from_index(
                spark, bm25_root, (0, 1), at=at
            ).collect()
        )

    pinned_head_before = score_at(3)
    si.bm25_index_compact(spark, bm25_root)
    # the compacted commit carries the watermark forward: pin at 3
    # resolves to the compacted version and serves identical rows
    assert score_at(3) == pinned_head_before
    # mid-history pin still resolves (its versions are intact)
    mid = score_at(2)
    assert mid  # non-empty
    # vacuum everything but the last version: the wm=2 state is gone
    for t in ("bm25_tf", "bm25_dl", "bm25_df"):
        lakelog.vacuum(
            os.path.join(bm25_root, t), keep_last=1, min_age_s=0.0
        )
    with pytest.raises(ValueError, match="vacuumed past|no committed state"):
        si.index_versions_at_watermark(bm25_root, "bm25", 2)
    # the head pin survives vacuum (its version is the kept one)
    assert score_at(3) == pinned_head_before


def test_version_at_watermark_bisect_matches_linear_reference(
    spark, sf_dir, tmp_path
):
    """The O(log) bisect must agree with a straight linear manifest
    scan for EVERY watermark — including watermarks that were never
    fold boundaries (None) and watermarks whose state spans several
    table versions (compaction commits carry them forward: the bisect
    must return the LATEST such version)."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # folds at source watermarks 1..4, with a compaction (same-wm
    # version) injected after the second fold
    for i in range(4):
        lakelog.append_commit(
            spark, src, docs.filter(F.col("doc_id") % 4 == i)
        )
        si.bm25_index_maintain(spark, src, bm25_root)
        if i == 1:
            si.bm25_index_compact(spark, bm25_root)

    def linear(table, app_id, wm):
        best = None
        v = lakelog.latest_version(table)
        while v is not None and v >= 1:
            try:
                m = lakelog.read_manifest(table, v)
            except (OSError, ValueError):
                break
            if m.get("txns", {}).get(app_id, 0) == wm and best is None:
                best = v
            v -= 1
        return best

    for t in ("bm25_tf", "bm25_dl", "bm25_df"):
        table = os.path.join(bm25_root, t)
        for wm in range(0, 7):
            got = si.index_version_at_watermark(table, "bm25", wm)
            want = linear(table, "bm25", wm)
            assert got == want, (t, wm, got, want)
    # the compaction really did create a multi-version watermark (the
    # scenario the "latest wins" clause exists for)
    tf = os.path.join(bm25_root, "bm25_tf")
    v2 = si.index_version_at_watermark(tf, "bm25", 2)
    assert (
        lakelog.read_manifest(tf, v2 - 1).get("txns", {}).get("bm25", 0) == 2
    ), "expected the compacted same-watermark predecessor"


def test_pinned_rerank_matches_pre_divergence_serve(spark, sf_dir, tmp_path):
    """hybrid_search_rerank_at_watermark — the mode where divergence
    yields a MIXED single answer (new-text candidacy, stale-code
    cosine): with the pair diverged, the pinned rerank equals the
    serve taken BEFORE the divergence, bit for bit."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    ivfpq_root = str(tmp_path / "ivfpq")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = docs.join(
        embs.select(F.col("vec_id").alias("doc_id"), "embedding", "label"),
        "doc_id",
    ).filter(F.col("doc_id") < 300)
    lakelog.append_commit(
        spark, src,
        corpus.drop("label").select(
            "doc_id", "text", "embedding", F.lit(1).alias("_ts_ms")
        ),
    )
    si.ivfpq_index_build(
        spark,
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding", "label"),
        ivfpq_root,
        source_watermark=1,
    )
    si.bm25_index_maintain(spark, src, bm25_root)
    si.ivfpq_index_maintain(spark, src, ivfpq_root, id_col="doc_id")
    queries = embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    before = sorted(
        map(tuple, si.hybrid_search_from_cdc_indexes(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1), pool=20, k=10,
        ).collect())
    )
    # diverge: update every %5==2 doc's text+vector, fold bm25 only
    nxt = corpus.select(
        F.col("doc_id").alias("src_of"),
        F.col("text").alias("new_text"),
        F.col("embedding").alias("new_emb"),
    )
    updates = (
        corpus.filter(F.col("doc_id") % 5 == 2)
        .withColumn("src_of", (F.col("doc_id") + 1) % 300)
        .join(nxt, "src_of")
        .select(
            "doc_id",
            F.col("new_text").alias("text"),
            F.col("new_emb").alias("embedding"),
            F.lit(2).alias("_ts_ms"),
            F.lit("u").alias("_op"),
        )
    )
    lakelog.merge_apply_cdc(spark, src, updates, ["doc_id"], "_ts_ms")
    si.bm25_index_maintain(spark, src, bm25_root)
    pinned = sorted(
        map(tuple, si.hybrid_search_rerank_at_watermark(
            spark, bm25_root, ivfpq_root, queries,
            query_ids=(0, 1), pool=20, k=10,
        ).collect())
    )
    assert pinned == before


def test_pin_at_build_era_watermark_with_later_deletes(
    spark, sf_dir, tmp_path
):
    """round-11 advice #3, on the LEGACY-root shape it actually
    concerns: a root whose deletes table did not exist at the build
    boundary (pre-round-9 builds never created one; a current build
    with ``source_watermark`` commits an EMPTY stamped deletes v1, so
    its build boundary pins through the ordinary bisect — asserted at
    the end). Here the deletes table is born at the FIRST tombstone
    fold, so a pin at the build-era boundary must resolve through the
    empty-table sentinel 0 (which _ivfpq_live serves as "no deletes")
    instead of raising — and the pinned serve returns the pre-delete
    answer."""
    import shutil

    src = str(tmp_path / "src")
    ivfpq_root = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 120
    )  # deterministic subset: limit() samples arbitrary rows and can
    # exclude the vec_id<2 query vectors under a different plan state
    lakelog.append_commit(
        spark, src,
        embs.select("vec_id", "embedding", F.lit(1).alias("_ts_ms")),
    )
    si.ivfpq_index_build(spark, embs, ivfpq_root, source_watermark=1)
    # the modern build stamps an empty deletes v1 AT the build
    # boundary — that boundary resolves through the ordinary bisect
    assert si.index_versions_at_watermark(
        ivfpq_root, "ivfpq-idx", 1
    )["ivf_deletes"] == 1
    # strip it to the legacy shape the sentinel exists for: a root
    # from the era when ONLY the first tombstone fold created the
    # deletes table
    shutil.rmtree(os.path.join(ivfpq_root, "ivf_deletes"))
    queries = embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    before = sorted(
        map(tuple, si.ivfpq_search_from_index(
            spark, ivfpq_root, queries, k=5, nprobe=3
        ).collect())
    )
    victim = int(before[0][1])
    # v2: a delete lands and folds — ivf_deletes is born at boundary 2
    lakelog.merge_apply_cdc(
        spark, src,
        embs.filter(F.col("vec_id") == victim).select(
            "vec_id", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
        ),
        ["vec_id"], "_ts_ms",
    )
    si.ivfpq_index_maintain(spark, src, ivfpq_root)
    # head serve reflects the delete
    after = si.ivfpq_search_from_index(
        spark, ivfpq_root, queries, k=5, nprobe=3
    ).collect()
    assert all(r.neighbor_id != victim for r in after)
    # the build-era pin resolves — deletes pinned EMPTY, not rejected
    at = si.index_versions_at_watermark(ivfpq_root, "ivfpq-idx", 1)
    assert at["ivf_deletes"] == 0
    pinned = sorted(
        map(tuple, si.ivfpq_search_from_index(
            spark, ivfpq_root, queries, k=5, nprobe=3, at=at
        ).collect())
    )
    assert pinned == before
    # a never-folded boundary still raises
    with pytest.raises(ValueError, match="no committed state"):
        si.index_versions_at_watermark(ivfpq_root, "ivfpq-idx", 9)


def test_pinnable_watermarks_discovery_and_vacuum(spark, sf_dir, tmp_path):
    """round-11 verdict #3: consumers need the valid pin domain, not
    trial-and-error. Every reported boundary actually resolves; a
    vacuum shrinks the list; the deletes-table special case keeps
    build-era boundaries pinnable; vacuum_keep_last bounds pin depth."""
    src = str(tmp_path / "src")
    bm25_root = str(tmp_path / "bm25")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for i in range(3):
        lakelog.append_commit(spark, src, docs.filter(F.col("doc_id") % 3 == i))
        si.bm25_index_maintain(spark, src, bm25_root)
    assert si.pinnable_watermarks(bm25_root, "bm25") == [1, 2, 3]
    for wm in (1, 2, 3):  # every reported boundary resolves
        assert si.index_versions_at_watermark(bm25_root, "bm25", wm)
    # an unknown lineage has no pinnable state
    assert si.pinnable_watermarks(bm25_root, "wrong-app") == []
    # vacuum to the last version: only the head boundary remains
    for t in ("bm25_tf", "bm25_dl", "bm25_df"):
        lakelog.vacuum(os.path.join(bm25_root, t), keep_last=1, min_age_s=0.0)
    assert si.pinnable_watermarks(bm25_root, "bm25") == [3]

    # IVF family, LEGACY-root shape (the build's empty stamped
    # deletes v1 stripped): deletes born at the boundary-2 tombstone
    # fold — boundary 1 stays pinnable through the empty-deletes
    # special case, not the ordinary bisect
    src2 = str(tmp_path / "src2")
    ivfpq_root = str(tmp_path / "ivfpq")
    embs = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 120
    )  # deterministic subset: limit() samples arbitrary rows and can
    # exclude the vec_id<2 query vectors under a different plan state
    lakelog.append_commit(
        spark, src2,
        embs.select("vec_id", "embedding", F.lit(1).alias("_ts_ms")),
    )
    si.ivfpq_index_build(spark, embs, ivfpq_root, source_watermark=1)
    import shutil

    shutil.rmtree(os.path.join(ivfpq_root, "ivf_deletes"))
    lakelog.merge_apply_cdc(
        spark, src2,
        embs.filter(F.col("vec_id") == 0).select(
            "vec_id", "embedding",
            F.lit(2).alias("_ts_ms"), F.lit("d").alias("_op"),
        ),
        ["vec_id"], "_ts_ms",
    )
    si.ivfpq_index_maintain(spark, src2, ivfpq_root)
    assert si.pinnable_watermarks(ivfpq_root, "ivfpq-idx") == [1, 2]
    # vacuum the deletes table's birth manifest away: boundary 1 is no
    # longer PROVABLY tombstone-free, so only the head boundary remains
    lakelog.merge_apply_cdc(
        spark, src2,
        embs.filter(F.col("vec_id") == 1).select(
            "vec_id", "embedding",
            F.lit(3).alias("_ts_ms"), F.lit("d").alias("_op"),
        ),
        ["vec_id"], "_ts_ms",
    )
    si.ivfpq_index_maintain(spark, src2, ivfpq_root)
    lakelog.vacuum(
        os.path.join(ivfpq_root, "ivf_deletes"), keep_last=1, min_age_s=0.0
    )
    pins = si.pinnable_watermarks(ivfpq_root, "ivfpq-idx")
    assert 1 not in pins and 2 not in pins


def test_retire_force_retires_log_unwitnessed_roots(spark, tmp_path):
    """round-11 advice #4: a root whose pointer-log witnesses were
    vacuumed away is permanently unretirable through the normal path
    (a silent disk leak) — force=True is the explicit operator
    override; the current target and the rollback window stay
    protected even under force."""
    ptr = str(tmp_path / "ptr")
    roots = [str(tmp_path / f"r{i}") for i in range(3)]
    for r in roots:
        os.makedirs(r)
    for r in roots:  # r0 → r1 → r2
        si.serving_pointer_set(ptr, r)
    # vacuum the pointer log down to the last record (r2, previous=r1):
    # r0's only witnesses are gone
    lakelog.vacuum(ptr, keep_last=1, min_age_s=0.0)
    assert si.retire_index_root(ptr, roots[0], history_keep=1) is False
    assert os.path.isdir(roots[0])  # the documented leak without force
    assert si.retire_index_root(
        ptr, roots[0], history_keep=1, force=True
    ) is True
    assert not os.path.isdir(roots[0])
    # force does NOT override the current target or the window
    with pytest.raises(ValueError, match="CURRENT serving root"):
        si.retire_index_root(ptr, roots[2], force=True)
    assert si.retire_index_root(
        ptr, roots[1], history_keep=1, force=True
    ) is False
    assert os.path.isdir(roots[1])
