"""Transaction-log lake (sources/lakelog.py): atomic versioned
commits, optimistic concurrency, time travel, crash debris, vacuum."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog


def _rows(spark, pairs):
    return spark.createDataFrame([Row(user_id=u, ts=t, event_id=e) for u, t, e in pairs])


def test_commit_read_and_versions(spark, tmp_path):
    table = str(tmp_path / "t")
    v1 = lakelog.commit(table, _rows(spark, [(1, 10, 100)]), "append")
    v2 = lakelog.commit(
        table, _rows(spark, [(1, 10, 100), (2, 20, 200)]), "append", count_rows=True
    )
    assert (v1, v2) == (1, 2)
    assert lakelog.versions(table) == [1, 2]
    assert lakelog.read(spark, table).count() == 2
    assert lakelog.read(spark, table, version=1).count() == 1
    m = lakelog.read_manifest(table, 2)
    assert m["parent"] == 1 and m["operation"] == "append" and m["n_rows"] == 2
    assert "n_rows" not in lakelog.read_manifest(table, 1)  # off by default


def test_commit_conflict_on_stale_parent(spark, tmp_path):
    table = str(tmp_path / "t")
    lakelog.commit(table, _rows(spark, [(1, 10, 100)]), "append")
    lakelog.commit(table, _rows(spark, [(2, 20, 200)]), "append")
    with pytest.raises(lakelog.CommitConflict):
        lakelog.commit(table, _rows(spark, [(3, 30, 300)]), "append", expect_parent=1)


def test_version_claim_is_atomic(spark, tmp_path, monkeypatch):
    """Two writers racing for the same version number: the LOSER's
    os.link must fail with EEXIST (the atomic-claim branch itself, not
    the expect_parent precheck). Simulated by having the competing
    manifest appear AFTER this writer resolved its parent version —
    monkeypatching latest_version to the stale value."""
    table = str(tmp_path / "t")
    lakelog.commit(table, _rows(spark, [(1, 10, 100)]), "append")
    # the competitor lands version 2 on disk...
    with open(lakelog._manifest_file(table, 2), "w") as f:
        json.dump({"version": 2, "parent": 1, "data_dirs": []}, f)
    # ...but OUR writer still believes parent is 1 (stale read), so it
    # passes the precheck and reaches the link
    monkeypatch.setattr(lakelog, "latest_version", lambda t: 1)
    with pytest.raises(lakelog.CommitConflict, match="already committed"):
        lakelog.commit(table, _rows(spark, [(2, 20, 200)]), "append", expect_parent=1)
    monkeypatch.undo()
    # the competitor's manifest is intact (no overwrite), no half state
    assert json.load(open(lakelog._manifest_file(table, 2)))["data_dirs"] == []
    assert lakelog.versions(table) == [1, 2]


def test_commit_claim_hook_detects_conflict_on_nonatomic_store(spark, tmp_path):
    """S3-semantics coverage (round-5 verdict #5): on a store whose PUT
    is last-writer-wins (no atomic create-if-absent), the commit claim
    must go through a coordination layer. Fake one (a conditional-put
    lock table, a la Delta's S3 LogStore / DynamoDB) and show (a) the
    losing writer gets CommitConflict through the FULL commit() path,
    (b) the winner's manifest is untouched, and (c) a BLIND put —
    what raw S3 gives you — would have silently overwritten it."""
    import shutil

    table = str(tmp_path / "t")
    claimed: set[tuple[str, int]] = set()

    class FakeS3:
        """PUT = unconditional copy: last writer wins, no error."""

        @staticmethod
        def put(src: str, dst: str) -> None:
            shutil.copyfile(src, dst)

    def coordinated_claim(tbl: str, version: int, tmp_manifest: str) -> None:
        # the conditional half lives in the coordination service, NOT
        # the object store
        if (tbl, version) in claimed:
            raise lakelog.CommitConflict(
                f"version {version} already claimed via lock table"
            )
        claimed.add((tbl, version))
        FakeS3.put(tmp_manifest, lakelog._manifest_file(tbl, version))

    prev = lakelog.set_commit_claim(coordinated_claim)
    try:
        v1 = lakelog.commit(table, _rows(spark, [(1, 10, 100)]), "append")
        assert v1 == 1 and lakelog.read(spark, table).count() == 1

        # race: a competitor claims version 2 between our parent read
        # and our claim — inject it from inside our own claim attempt
        def racing_claim(tbl: str, version: int, tmp_manifest: str) -> None:
            if (tbl, version) not in claimed:
                # competitor wins the coordination race first
                competitor = lakelog._manifest_file(tbl, version) + ".rival"
                with open(competitor, "w") as f:
                    json.dump({"version": version, "parent": 1,
                               "operation": "rival", "data_dirs": []}, f)
                coordinated_claim(tbl, version, competitor)
                os.unlink(competitor)
            coordinated_claim(tbl, version, tmp_manifest)

        lakelog.set_commit_claim(racing_claim)
        with pytest.raises(lakelog.CommitConflict, match="lock table"):
            lakelog.commit(table, _rows(spark, [(2, 20, 200)]), "append",
                           expect_parent=1)
        # (b) the winner's manifest survived the losing attempt
        assert json.load(open(lakelog._manifest_file(table, 2)))["operation"] == "rival"
        # (c) the counterfactual: a blind S3 put would have silently
        # replaced the committed manifest — the defect the hook exists
        # to prevent
        loser = str(tmp_path / "loser.json")
        with open(loser, "w") as f:
            json.dump({"version": 2, "operation": "loser"}, f)
        FakeS3.put(loser, lakelog._manifest_file(table, 2))  # no error raised
        assert json.load(open(lakelog._manifest_file(table, 2)))["operation"] == "loser"
    finally:
        lakelog.set_commit_claim(prev)


def test_set_commit_claim_restores_default(spark, tmp_path):
    sentinel_calls = []

    def probe(tbl, version, tmp_manifest):
        sentinel_calls.append(version)
        return lakelog._link_claim(tbl, version, tmp_manifest)

    prev = lakelog.set_commit_claim(probe)
    assert prev is lakelog._link_claim
    table = str(tmp_path / "t")
    lakelog.commit(table, _rows(spark, [(1, 10, 100)]), "append")
    assert sentinel_calls == [1]
    lakelog.set_commit_claim(None)  # None restores the os.link default
    lakelog.commit(table, _rows(spark, [(2, 20, 200)]), "append")
    assert sentinel_calls == [1] and lakelog.versions(table) == [1, 2]


def test_latest_version_hint_is_advisory_never_load_bearing(spark, tmp_path):
    """O(1) latest-version resolution (the _last_checkpoint pattern):
    commits leave a hint file; a stale, corrupt, or missing hint must
    never change the answer — the forward existence probe / listing
    fallback absorbs every failure mode."""
    table = str(tmp_path / "t")
    for i in range(3):
        lakelog.commit(table, _rows(spark, [(i, i * 10, i * 100)]), "append")
    hint = os.path.join(table, "_log", lakelog._HINT_FILE)
    assert os.path.exists(hint) and open(hint).read() == "3"
    assert lakelog.latest_version(table) == 3
    # stale hint (crash between manifest link and hint write)
    with open(hint, "w") as f:
        f.write("1")
    assert lakelog.latest_version(table) == 3  # forward probe recovers
    # corrupt hint
    with open(hint, "w") as f:
        f.write("not-a-number")
    assert lakelog.latest_version(table) == 3  # listing fallback
    # missing hint (pre-hint table)
    os.unlink(hint)
    assert lakelog.latest_version(table) == 3
    # hint ahead of reality (hand-edited / restored from backup):
    # the hinted manifest does not exist, so the hint is ignored
    with open(hint, "w") as f:
        f.write("9")
    assert lakelog.latest_version(table) == 3
    # reads resolve through the same path (each commit here snapshots
    # one row; version 3's manifest references only its own data dir)
    assert lakelog.read(spark, table).count() == 1


def test_crash_debris_is_invisible_and_vacuumed(spark, tmp_path):
    """A data directory without a manifest (crash between data write
    and commit) must not change any read; vacuum removes it once it is
    older than the retention window — a YOUNG unreferenced dir may be
    an in-flight commit and must be left alone."""
    table = str(tmp_path / "t")
    lakelog.commit(table, _rows(spark, [(1, 10, 100)]), "append")
    debris = os.path.join(table, "data-deadbeef")
    _rows(spark, [(9, 90, 900)]).write.parquet(debris)
    stale_tmp = lakelog._manifest_file(table, 2) + ".tmp-dead"
    with open(stale_tmp, "w") as f:
        f.write("{}")
    assert lakelog.read(spark, table).count() == 1  # debris invisible
    # retention guard: young debris survives (could be in-flight)
    assert lakelog.vacuum(table, keep_last=1, min_age_s=3600) == []
    assert os.path.isdir(debris) and os.path.exists(stale_tmp)
    # aged out: collected
    removed = lakelog.vacuum(table, keep_last=1, min_age_s=0)
    assert "data-deadbeef" in removed
    assert not os.path.exists(stale_tmp)
    assert lakelog.read(spark, table).count() == 1


def test_vacuum_keeps_recent_versions_readable(spark, tmp_path):
    table = str(tmp_path / "t")
    for i in range(1, 5):
        lakelog.commit(table, _rows(spark, [(u, u, u) for u in range(i)]), "append")
    lakelog.vacuum(table, keep_last=2, min_age_s=0)
    assert lakelog.versions(table) == [3, 4]
    assert lakelog.read(spark, table, version=3).count() == 3
    assert lakelog.read(spark, table, version=4).count() == 4
    with pytest.raises(FileNotFoundError):
        lakelog.read_manifest(table, 1)
    # version ids are an external contract: emptying the log is refused
    with pytest.raises(ValueError, match="keep_last"):
        lakelog.vacuum(table, keep_last=0, min_age_s=0)


def test_merge_retry_converges_after_race(spark, tmp_path, monkeypatch):
    """merge_apply_cdc losing a race re-reads the winner's
    snapshot and retries; the final table includes BOTH writers'
    changes (last-write-wins is convergent)."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table, _rows(spark, [(1, 10, 100)]), ["user_id"], "ts", tiebreak="event_id"
    )
    real_commit = lakelog.commit
    raced = {"done": False}

    def racing_commit(tbl, df, op, expect_parent=None, **kw):
        if not raced["done"]:
            raced["done"] = True
            # a competing MERGE writer lands version 2 first (commits
            # are full snapshots, so a correct racer includes the
            # prior state it merged against)
            real_commit(
                tbl, _rows(spark, [(1, 10, 100), (2, 20, 200)]), "merge_upsert"
            )
        return real_commit(tbl, df, op, expect_parent=expect_parent, **kw)

    monkeypatch.setattr(lakelog, "commit", racing_commit)
    lakelog.merge_apply_cdc(
        spark, table, _rows(spark, [(3, 30, 300)]), ["user_id"], "ts", tiebreak="event_id"
    )
    monkeypatch.undo()
    final = lakelog.read(spark, table)
    assert {r.user_id for r in final.collect()} == {1, 2, 3}
    assert lakelog.latest_version(table) == 3  # 1 + racer + retried merge


def test_append_commit_is_o_delta_and_compact_restores_layout(spark, tmp_path):
    """Append commits reference the parent's dirs + one delta dir (the
    manifest grows, the data doesn't move); compact rewrites to ONE dir
    with identical content; pre-compact versions stay readable; vacuum
    then reclaims the fragmented generations."""
    import os

    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog
    from kafka_cdc_elasticsearch_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    table = str(tmp_path / "append_log")
    for i in range(4):
        v = lakelog.append_commit(
            spark, table, ev.filter(F.pmod("event_id", F.lit(4)) == i)
        )
        assert v == i + 1
        assert len(lakelog.read_manifest(table, v)["data_dirs"]) == i + 1

    total = ev.count()
    assert lakelog.read(spark, table).count() == total

    v5 = lakelog.compact(spark, table)
    assert v5 == 5
    assert len(lakelog.read_manifest(table, 5)["data_dirs"]) == 1
    assert lakelog.read_manifest(table, 5)["operation"] == "compact"
    assert lakelog.read(spark, table).count() == total
    # content identical, not just counts
    cols = sorted(ev.columns)
    assert sorted(map(tuple, lakelog.read(spark, table).select(*cols).collect())) == \
        sorted(map(tuple, ev.select(*cols).collect()))
    # time travel into the fragmented history still works
    assert lakelog.read(spark, table, version=2).select("event_id").count() == \
        ev.filter(F.pmod("event_id", F.lit(4)) <= 1).count()

    # vacuum reclaims the four delta dirs once only v5 is retained
    removed = lakelog.vacuum(table, keep_last=1, min_age_s=0.0)
    assert len(removed) == 4
    assert lakelog.read(spark, table).count() == total


def test_txn_append_skips_redelivered_batch(spark, tmp_path):
    t = str(tmp_path / "txn")
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    assert lakelog.txn_append_commit(spark, t, df, "app", 0) == 1
    # redelivery of batch 0: skipped, table unchanged
    assert lakelog.txn_append_commit(spark, t, df, "app", 0) is None
    assert lakelog.latest_version(t) == 1
    assert lakelog.read(spark, t).count() == 10
    # a LATE older batch id is also refused (watermark is monotone)
    assert lakelog.txn_append_commit(spark, t, df, "app", 1) == 2
    assert lakelog.txn_append_commit(spark, t, df, "app", 0) is None
    assert lakelog.read(spark, t).count() == 20


def test_txn_watermarks_survive_compaction_and_merge(spark, tmp_path):
    t = str(tmp_path / "txn2")
    df = spark.range(0, 10).select(
        F.col("id").alias("user_id"), F.col("id").alias("ts"),
        F.col("id").alias("event_id"),
    )
    lakelog.txn_append_commit(spark, t, df, "app", 7)
    lakelog.compact(spark, t)
    # compaction must not amnesia the sink's exactly-once state
    assert lakelog.read_manifest(t, lakelog.latest_version(t))["txns"] == {"app": 7}
    assert lakelog.txn_append_commit(spark, t, df, "app", 7) is None
    lakelog.merge_apply_cdc(spark, t, df, ["user_id"], "ts", tiebreak="event_id")
    assert lakelog.read_manifest(t, lakelog.latest_version(t))["txns"] == {"app": 7}


def test_txn_watermarks_are_per_app(spark, tmp_path):
    t = str(tmp_path / "txn3")
    df = spark.range(0, 5).select(F.col("id").alias("k"))
    lakelog.txn_append_commit(spark, t, df, "app_a", 3)
    # a different app's batch 0 is NOT blocked by app_a's watermark
    assert lakelog.txn_append_commit(spark, t, df, "app_b", 0) == 2
    man = lakelog.read_manifest(t, 2)
    assert man["txns"] == {"app_a": 3, "app_b": 0}


def test_two_interleaved_appenders_both_land_with_rebase(spark, tmp_path):
    """Round-6 verdict #8: two concurrent appenders race for the same
    version; the loser must REBASE — re-read the new head, re-link its
    already-staged delta dir — and land on the next version with no
    caller intervention. Both batches present, versions consecutive,
    and the loser's batch was written exactly ONCE (one new data dir
    per writer in the final manifest — a retry that re-staged would
    leave an orphan)."""
    table = str(tmp_path / "t")
    lakelog.append_commit(spark, table, _rows(spark, [(1, 10, 100)]))

    # writer B fires from INSIDE writer A's first claim attempt: A has
    # resolved parent=1, then B commits version 2, then A's claim on
    # version 2 hits EEXIST -> CommitConflict -> rebase
    default_claim = lakelog._link_claim
    fired = {"done": False}

    def racing_claim(tbl, version, tmp_manifest):
        if not fired["done"]:
            fired["done"] = True
            lakelog.append_commit(spark, tbl, _rows(spark, [(2, 20, 200)]))
        default_claim(tbl, version, tmp_manifest)

    prev = lakelog.set_commit_claim(racing_claim)
    try:
        v = lakelog.append_commit(spark, table, _rows(spark, [(3, 30, 300)]))
    finally:
        lakelog.set_commit_claim(prev)

    assert v == 3
    assert lakelog.versions(table) == [1, 2, 3]
    got = sorted(r.user_id for r in lakelog.read(spark, table).collect())
    assert got == [1, 2, 3]  # both racers' rows landed
    # rebase, not re-stage: head references exactly 3 data dirs and
    # the table holds no orphaned fourth
    head = lakelog.read_manifest(table, 3)
    assert len(head["data_dirs"]) == 3
    on_disk = [d for d in os.listdir(table) if d.startswith("data-")]
    assert sorted(on_disk) == sorted(head["data_dirs"])


def test_txn_append_rebase_rechecks_watermark(spark, tmp_path):
    """A redelivered txn batch that loses the race to ITSELF (same
    app_id/batch_id committed by the racer) must abandon its staged
    dir and return None on rebase — never double-append."""
    table = str(tmp_path / "t")
    lakelog.txn_append_commit(spark, table, _rows(spark, [(1, 10, 100)]), "app", 1)

    default_claim = lakelog._link_claim
    fired = {"done": False}

    def racing_claim(tbl, version, tmp_manifest):
        if not fired["done"]:
            fired["done"] = True
            # the racer IS the same app/batch (a redelivery that won)
            lakelog.txn_append_commit(
                spark, tbl, _rows(spark, [(2, 20, 200)]), "app", 2
            )
        default_claim(tbl, version, tmp_manifest)

    prev = lakelog.set_commit_claim(racing_claim)
    try:
        out = lakelog.txn_append_commit(
            spark, table, _rows(spark, [(2, 20, 200)]), "app", 2
        )
    finally:
        lakelog.set_commit_claim(prev)

    assert out is None  # replay recognized ON REBASE, not appended twice
    assert lakelog.read(spark, table).count() == 2
    # the loser's staged dir is orphaned (vacuum's job), never referenced
    head = lakelog.read_manifest(table, lakelog.latest_version(table))
    assert len(head["data_dirs"]) == 2


def test_read_row_changes_after_vacuum_raises_resume_signal(spark, tmp_path):
    """A change-feed range vacuum has reclaimed fails with the same
    clear 're-read the snapshot' ValueError as a feed-less commit —
    never a raw parquet path error (round-7 advice)."""
    table = str(tmp_path / "t")
    for i in range(1, 4):
        lakelog.merge_apply_cdc(
            spark, table, _rows(spark, [(i, 10 * i, 100 + i)]),
            ["user_id"], "ts", tiebreak="event_id",
        )
    lakelog.vacuum(table, keep_last=1, min_age_s=0)
    with pytest.raises(ValueError, match="vacuumed.*re-read the snapshot"):
        lakelog.read_row_changes(spark, table, 0)
    # the retained head version is still fully readable
    assert lakelog.read(spark, table).count() == 3


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    """Round-7 verdict #7: an append racing a compaction must never
    block and never surface CommitConflict — the compactor REBASES,
    linking its already-staged rewrite plus the racer's delta dir.
    Both writers land on consecutive versions, no row and no version
    is lost, and the staged rewrite was written exactly once."""
    table = str(tmp_path / "t")
    lakelog.append_commit(spark, table, _rows(spark, [(1, 10, 100)]))
    lakelog.append_commit(spark, table, _rows(spark, [(2, 20, 200)]))

    default_claim = lakelog._link_claim
    fired = {"done": False}

    def racing_claim(tbl, version, tmp_manifest):
        # the appender fires from INSIDE the compactor's first claim:
        # compact staged at parent=2, append lands version 3, the
        # compactor's claim on 3 conflicts -> rebase
        if not fired["done"]:
            fired["done"] = True
            lakelog.append_commit(spark, tbl, _rows(spark, [(3, 30, 300)]))
        default_claim(tbl, version, tmp_manifest)

    n_dirs_before = len([d for d in os.listdir(table) if d.startswith("data-")])
    prev = lakelog.set_commit_claim(racing_claim)
    try:
        v = lakelog.compact(spark, table)
    finally:
        lakelog.set_commit_claim(prev)

    assert v == 4
    assert lakelog.versions(table) == [1, 2, 3, 4]
    got = sorted(r.user_id for r in lakelog.read(spark, table).collect())
    assert got == [1, 2, 3]  # the racer's row survived the rewrite
    head = lakelog.read_manifest(table, 4)
    # compacted dir + the racer's delta, nothing else; still layout-only
    assert len(head["data_dirs"]) == 2
    assert head["content_identical"] is True
    # rebase, not restage: exactly ONE new dir beyond the appenders'
    on_disk = [d for d in os.listdir(table) if d.startswith("data-")]
    assert len(on_disk) == n_dirs_before + 2  # racer's delta + 1 stage


def test_compact_restages_over_concurrent_merge(spark, tmp_path):
    """A NON-additive racer (merge rewrites rows) invalidates the
    staged rewrite: the compactor must restage over the new head —
    the merged value, not the stale snapshot, is what survives."""
    table = str(tmp_path / "t")
    lakelog.merge_apply_cdc(
        spark, table, _rows(spark, [(1, 10, 100)]), ["user_id"], "ts", tiebreak="event_id"
    )

    default_claim = lakelog._link_claim
    fired = {"done": False}

    def racing_claim(tbl, version, tmp_manifest):
        if not fired["done"]:
            fired["done"] = True
            lakelog.merge_apply_cdc(
                spark, tbl, _rows(spark, [(1, 99, 999)]),
                ["user_id"], "ts", tiebreak="event_id",
            )
        default_claim(tbl, version, tmp_manifest)

    prev = lakelog.set_commit_claim(racing_claim)
    try:
        v = lakelog.compact(spark, table)
    finally:
        lakelog.set_commit_claim(prev)

    assert v == 3
    [row] = lakelog.read(spark, table).collect()
    assert (row.user_id, row.ts, row.event_id) == (1, 99, 999)
    assert len(lakelog.read_manifest(table, 3)["data_dirs"]) == 1


def test_read_row_changes_vacuumed_parent_of_append_raises_resume_signal(spark, tmp_path):
    """An append version whose PARENT manifest vacuum reclaimed cannot
    compute its added-dirs diff — it must fail with the same re-read
    ValueError as a vacuumed change dir, not a raw FileNotFoundError
    (round-8 review finding: the merge/CDF test masked this branch)."""
    table = str(tmp_path / "t")
    for i in range(1, 6):
        lakelog.append_commit(spark, table, _rows(spark, [(i, 10 * i, 100 + i)]))
    lakelog.vacuum(table, keep_last=3, min_age_s=0)  # manifests 1-2 gone
    # v=3's manifest survives but its parent (2) did not
    with pytest.raises(ValueError, match="vacuumed.*re-read the snapshot"):
        lakelog.read_row_changes(spark, table, 2)
    # a range fully inside the retention window still serves
    feed = lakelog.read_row_changes(spark, table, 3)
    assert feed.count() == 2  # versions 4 and 5, one insert row each


def test_compact_rebases_over_two_consecutive_append_races(spark, tmp_path):
    """The rebase loop must converge under repeated interference: one
    append lands inside EACH of the compactor's first two claim
    attempts (the re-entry guard keeps the racer's own claim from
    firing the next append early, so the compactor really conflicts
    twice and rebases twice), and it lands on the third claim with
    the SAME staged rewrite plus both racers' distinct deltas."""
    table = str(tmp_path / "t")
    lakelog.append_commit(spark, table, _rows(spark, [(1, 10, 100)]))

    default_claim = lakelog._link_claim
    fired = {"n": 0, "in_append": False}

    def racing_claim(tbl, version, tmp_manifest):
        if not fired["in_append"] and fired["n"] < 2:
            fired["n"] += 1
            fired["in_append"] = True
            try:
                # distinct row per racer so a delta read twice / a
                # delta dropped are both hash-visible below
                lakelog.append_commit(
                    spark, tbl,
                    _rows(spark, [(fired["n"] + 10, 20, 200 + fired["n"])]),
                )
            finally:
                fired["in_append"] = False
        default_claim(tbl, version, tmp_manifest)

    prev = lakelog.set_commit_claim(racing_claim)
    try:
        v = lakelog.compact(spark, table)
    finally:
        lakelog.set_commit_claim(prev)

    assert fired["n"] == 2
    assert v == 4  # base + racer1 + racer2 + the compact
    got = sorted(r.user_id for r in lakelog.read(spark, table).collect())
    assert got == [1, 11, 12]  # both racers present exactly once
    head = lakelog.read_manifest(table, 4)
    # one staged rewrite + both racers' deltas
    assert len(head["data_dirs"]) == 3
    assert head["content_identical"] is True


def test_rebased_compact_keeps_racer_schema_newest(spark, tmp_path):
    """A rebased compact links a staged dir whose CONTENT predates the
    racers' deltas. read()'s all-files-pruned path (and read_changes)
    takes data_dirs[-1] as the newest-schema dir, so the manifest must
    order the stale staged dir FIRST and a schema-evolving racer
    append LAST — otherwise the racer-added column vanishes from the
    zero-row schema (round-8 advice)."""
    table = str(tmp_path / "t")
    lakelog.append_commit(
        spark, table, spark.range(0, 5).select(F.col("id").alias("k")),
        stat_cols=["k"],
    )

    default_claim = lakelog._link_claim
    fired = {"done": False}

    def racing_claim(tbl, version, tmp_manifest):
        if not fired["done"]:
            fired["done"] = True
            # the racer's append ADDS a column (schema evolution)
            lakelog.append_commit(
                spark, tbl,
                spark.range(5, 10).select(
                    F.col("id").alias("k"), (F.col("id") * 2).alias("extra")
                ),
                stat_cols=["k"],
            )
        default_claim(tbl, version, tmp_manifest)

    prev = lakelog.set_commit_claim(racing_claim)
    try:
        v = lakelog.compact(spark, table, stat_cols=["k"])
    finally:
        lakelog.set_commit_claim(prev)

    assert v == 3
    head = lakelog.read_manifest(table, v)
    assert len(head["data_dirs"]) == 2  # rebase, not restage
    # the racer's (newer-schema) delta must be LAST
    assert head["data_dirs"][0] != head["data_dirs"][-1]
    got = lakelog.read(spark, table, where=[("k", ">", 99)], merge_schema=True)
    assert got.count() == 0
    assert "extra" in got.columns  # racer's column survives the prune
    # and the full read still has every row exactly once
    full = lakelog.read(spark, table, merge_schema=True)
    assert sorted(r.k for r in full.collect()) == list(range(10))


def test_compact_restages_when_vacuum_reclaims_history(spark, tmp_path):
    """A concurrent vacuum that reclaims an intermediate manifest makes
    the (staged_parent, head] history unreadable. _additive_since must
    treat that as non-additive (restage at the current head), not leak
    a raw FileNotFoundError out of compact's retry loop (round-8
    advice)."""
    table = str(tmp_path / "t")
    lakelog.append_commit(spark, table, _rows(spark, [(1, 10, 100)]))
    lakelog.append_commit(spark, table, _rows(spark, [(2, 20, 200)]))

    default_claim = lakelog._link_claim
    fired = {"done": False, "in_racer": False}

    def racing_claim(tbl, version, tmp_manifest):
        if not fired["done"] and not fired["in_racer"]:
            fired["done"] = True
            fired["in_racer"] = True
            try:
                # three appends, then an INTERMEDIATE manifest is
                # reclaimed (what vacuum does once the retention age
                # passes — removed directly here because min_age_s=0
                # would also sweep the compactor's in-flight .tmp
                # manifest, which the retention guard exists to
                # protect; v3 stays so the compactor's pending claim
                # on 3 still conflicts): the compactor cannot prove
                # the races were additive
                lakelog.append_commit(spark, tbl, _rows(spark, [(3, 30, 300)]))
                lakelog.append_commit(spark, tbl, _rows(spark, [(4, 40, 400)]))
                lakelog.append_commit(spark, tbl, _rows(spark, [(5, 50, 500)]))
                os.remove(lakelog._manifest_file(tbl, 4))
            finally:
                fired["in_racer"] = False
        default_claim(tbl, version, tmp_manifest)

    prev = lakelog.set_commit_claim(racing_claim)
    try:
        v = lakelog.compact(spark, table)
    finally:
        lakelog.set_commit_claim(prev)

    assert v == 6
    got = sorted(r.user_id for r in lakelog.read(spark, table).collect())
    assert got == [1, 2, 3, 4, 5]  # nothing lost across vacuum + restage
    head = lakelog.read_manifest(table, v)
    assert len(head["data_dirs"]) == 1  # full restage, single dir
    assert head["content_identical"] is True
