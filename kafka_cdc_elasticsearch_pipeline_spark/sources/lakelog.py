"""Versioned lake table with a transaction log — the Delta/Iceberg
commit pattern reduced to its load-bearing core, stdlib-only.

Every commit — append, CDC merge, compaction — goes through a LOG:

    <table>/
      _log/00000000000000000001.json   one manifest per version
      _log/00000000000000000002.json
      part-<uuid4-from-content>/...    immutable data file sets

Each manifest lists the data directories that make up that snapshot
plus provenance (operation, row count, parent version). Commits are
atomic and serialized by ``os.link`` of a completed temp manifest to
the next version number — creating a name that already exists fails
at the filesystem level, so two concurrent writers cannot both claim
version N (optimistic concurrency, the same contract as Delta's
transaction log on a filesystem with atomic create).

What that buys a training-data pipeline:

- **Time travel / reproducibility**: ``read(spark, path, version=k)``
  reads the exact snapshot a model was trained on — corpus versions
  are addressable facts, not "whatever the directory held that day".
- **Crash safety without swaps**: data directories are written BEFORE
  the manifest; a crash mid-commit leaves an unreferenced directory
  (garbage, collected by ``vacuum``) and the table is unchanged.
  There is no window where the table is missing or partial.
- **Readers never block**: a reader resolves the latest manifest once
  and reads immutable files; a concurrent commit creates new files
  and a new manifest, never mutating what the reader holds.

Scale notes: manifests hold directory names, not per-row state — a
commit is one small JSON write + one link syscall regardless of data
volume. At 100 TB the same layout works on any store with atomic
create (HDFS, NFS, local); S3-style stores need a coordination layer
for the final link, exactly as Delta documents for S3. That layer is
a pluggable COMMIT-CLAIM hook here (``set_commit_claim``): the claim
callable must atomically reserve version N or raise
``CommitConflict`` — e.g. a DynamoDB/ZooKeeper conditional put —
because a plain S3 PUT is last-writer-wins and would silently drop a
committed version (``tests/test_lakelog.py`` demonstrates both the
detected conflict through a faked coordination layer and the silent
overwrite a blind put would cause).

Reference tie-in: the reference's "table" is an ES index that only
ever holds the latest state (readme.md's RATINGS_ENRICHED dashboards);
this log is the lakehouse superset — the latest version is that
table, and every prior version stays addressable.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_log"
_VERSION_DIGITS = 20


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency): re-read the table and retry the merge."""


def _log_path(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def _link_claim(table: str, version: int, tmp_manifest: str) -> None:
    """Default commit claim: atomic create-if-absent via ``os.link``
    (POSIX / HDFS / NFS semantics) — EEXIST means a concurrent writer
    already owns version N."""
    try:
        os.link(tmp_manifest, _manifest_file(table, version))
    except FileExistsError as exc:
        raise CommitConflict(f"version {version} already committed") from exc


#: The active commit-claim hook. Contract: atomically claim version N
#: for ``table`` and publish the manifest at ``_manifest_file(table,
#: version)``, or raise CommitConflict if another writer holds N —
#: "check then put" without atomicity violates the log's serialization
#: guarantee (an S3 PUT is last-writer-wins and silently DROPS the
#: losing commit).
_COMMIT_CLAIM = _link_claim


def set_commit_claim(fn=None):
    """Install the commit-coordination hook for stores without atomic
    create-if-absent (S3-style): ``fn(table, version, tmp_manifest)``
    must atomically reserve the version (conditional put on a lock
    table, a la Delta's S3 LogStore) then publish the manifest, or
    raise :class:`CommitConflict`. Returns the previous hook; pass
    ``None`` to restore the default ``os.link`` claim."""
    global _COMMIT_CLAIM
    prev = _COMMIT_CLAIM
    _COMMIT_CLAIM = fn or _link_claim
    return prev


def _manifest_file(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:0{_VERSION_DIGITS}d}.json")


def versions(table: str) -> list[int]:
    """All committed versions, ascending."""
    log = _log_path(table)
    if not os.path.isdir(log):
        return []
    out = []
    for f in os.listdir(log):
        stem, ext = os.path.splitext(f)
        if ext == ".json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


_HINT_FILE = "_latest.hint"


def latest_version(table: str) -> int | None:
    """Resolve the newest committed version WITHOUT listing the log
    when possible — Delta's ``_last_checkpoint`` pattern. Every commit
    leaves an advisory hint file naming its version; resolution reads
    the hint and probes FORWARD with existence checks until the next
    version is absent. The hint is non-atomic and may be stale (a
    crash between the manifest link and the hint write), never ahead
    (it is written only after a successful claim) — the forward probe
    absorbs staleness at one extra existence check per missed commit.
    Why it matters at scale: a directory listing is O(total commits)
    and paged on object stores, so the read path of a table with 10^5
    commits would pay ~100 LIST calls just to find "latest"; hint +
    probe is O(1 + gap) GET/HEAD calls. Falls back to the listing when
    no hint exists (pre-hint tables)."""
    hint_path = os.path.join(_log_path(table), _HINT_FILE)
    v: int | None = None
    try:
        with open(hint_path) as f:
            hinted = int(f.read().strip())
        if os.path.exists(_manifest_file(table, hinted)):
            v = hinted
    except (OSError, ValueError):
        v = None
    if v is None:
        vs = versions(table)
        if not vs:
            return None
        v = vs[-1]
    while os.path.exists(_manifest_file(table, v + 1)):
        v += 1
    return v


def _write_latest_hint(table: str, version: int) -> None:
    """Best-effort advisory hint (never load-bearing: latest_version
    probes forward past it, and correctness never depends on it)."""
    hint_path = os.path.join(_log_path(table), _HINT_FILE)
    tmp = hint_path + f".tmp-{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, hint_path)
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def read_manifest(table: str, version: int) -> dict:
    with open(_manifest_file(table, version)) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# Data skipping: per-file min/max column stats in the manifest
# ---------------------------------------------------------------------------
#
# The Delta/Iceberg "data skipping" pattern: each commit records, for a
# chosen set of columns, the [min, max] of every data FILE it writes.
# A reader with a comparison predicate prunes files whose range cannot
# match BEFORE Spark ever lists or schedules them — at 100 TB this is
# the difference between planning a scan over millions of files and
# over the handful that can contain the answer. Parquet row-group
# statistics still apply inside the surviving files; manifest stats act
# one level up, at file-listing time, where the driver cost lives.
#
# Representation: a per-file entry is ``{"n": row_count, "cols": {col:
# [min, max]}, "bloom": {col: {"m", "k", "b64"}}}``. Numbers
# (int/float) are stored natively in [min, max]; everything else
# (timestamp, date, string) is stored as ``str(value)`` — Spark's
# timestamp str() is '%Y-%m-%d %H:%M:%S[.ffffff]', which compares
# correctly as a string, so predicate values for non-numeric columns
# must be passed in the same lexicographically-ordered form. min/max
# cover non-null values only; because every supported predicate op is
# null-rejecting, a file whose non-null range cannot match is safely
# pruned even if it also holds nulls, and an all-null file ([None,
# None]) is always pruned.
#
# Bloom filters (``bloom_cols``) cover the case min/max cannot: a
# POINT LOOKUP on a high-cardinality, unclustered key (user_id, doc
# id), where every file's [min, max] spans the whole domain and range
# stats prune nothing. Each file stores a base64-packed ``m``-bit
# bitmap; a value sets ``k`` md5-derived bits, and an equality probe
# keeps the file only if ALL k bits are set. False positives cost a
# wasted scan (correct, just slower); false negatives are impossible —
# the same guarantee as Parquet/Delta bloom indexes. Size ``m`` to
# ~10 bits per expected distinct value per file (the default suits
# file row-groups up to a few hundred distinct keys; pass
# ``bloom_m``). The md5 bit derivation is computed identically
# JVM-side (at commit) and Python-side (at prune), which is why the
# hash is md5-over-string rather than an engine-private hash; bloom
# columns must therefore be int or string (their Spark string cast
# equals Python ``str()``).

_PRUNE_OPS = ("==", "<", "<=", ">", ">=", "in")

BLOOM_BITS = 4096
BLOOM_K = 4


def _stat_value(v):
    if v is None or isinstance(v, (int, float)):
        return v
    return str(v)


def _bloom_bits_py(value, m: int = BLOOM_BITS, k: int = BLOOM_K) -> list[int]:
    """The k bit positions of ``value`` — Python twin of the JVM
    expression in :func:`collect_file_stats` (md5 over the string form,
    first 60 bits, mod table size)."""
    import hashlib

    return [
        int(hashlib.md5(f"{value}#{j}".encode()).hexdigest()[:15], 16) % m
        for j in range(k)
    ]


def _pack_bloom(positions, m: int, k: int, kind: str) -> dict:
    import base64

    buf = bytearray(m // 8)
    for p in positions:
        buf[p >> 3] |= 1 << (p & 7)
    return {
        "m": m,
        "k": k,
        "kind": kind,  # "i" integral / "s" string — see _bloom_may_contain
        "b64": base64.b64encode(bytes(buf)).decode(),
    }


def _bloom_may_contain(bloom: dict, value) -> bool:
    """False only when the bitmap PROVES absence. The probe must hash
    the same string the JVM cast produced at commit time, so it only
    prunes when the probe value's Python kind matches the indexed
    column's recorded kind ("i": int probe vs integral column, "s":
    str probe vs string column) — Python str(1234.0) = '1234.0' is NOT
    the Spark string cast of bigint 1234, and guessing would turn a
    false positive into a silently wrong (empty) read."""
    import base64

    kind = bloom.get("kind")
    if kind == "i":
        if not isinstance(value, int) or isinstance(value, bool):
            return True
    elif kind == "s":
        if not isinstance(value, str):
            return True
    else:
        return True  # unknown kind: never prune
    buf = base64.b64decode(bloom["b64"])
    return all(
        buf[p >> 3] & (1 << (p & 7))
        for p in _bloom_bits_py(value, bloom["m"], bloom["k"])
    )


def collect_file_stats(
    spark: SparkSession,
    abs_dir: str,
    stat_cols: Sequence[str],
    bloom_cols: Sequence[str] = (),
    bloom_m: int = BLOOM_BITS,
    bloom_k: int = BLOOM_K,
) -> dict[str, dict]:
    """Per-file stats for one just-written data directory: row count,
    [min, max] per ``stat_cols``, bloom bitmaps per ``bloom_cols`` —
    ONE O(delta) aggregate job grouped on ``input_file_name()``; the
    table is never rescanned."""
    df = spark.read.parquet(abs_dir)
    bloom_kind: dict[str, str] = {}
    for c in bloom_cols:
        t = df.schema[c].dataType.simpleString()
        if t in ("tinyint", "smallint", "int", "bigint"):
            bloom_kind[c] = "i"
        elif t == "string":
            bloom_kind[c] = "s"
        else:
            raise ValueError(
                f"bloom_cols supports int/string columns; {c!r} is {t} "
                "(its Spark string cast has no stable Python twin)"
            )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"__mn_{c}"))
        aggs.append(F.max(c).alias(f"__mx_{c}"))
    for c in bloom_cols:
        for j in range(bloom_k):
            bit = F.conv(
                F.substring(
                    F.md5(F.concat(F.col(c).cast("string"), F.lit(f"#{j}"))), 1, 15
                ),
                16,
                10,
            ).cast("bigint") % bloom_m
            aggs.append(
                F.collect_set(F.when(F.col(c).isNotNull(), bit)).alias(
                    f"__bl_{j}_{c}"
                )
            )
    rows = (
        df.groupBy(F.input_file_name().alias("__file"))
        .agg(*aggs)
        .collect()  # bounded: one row per data file in ONE delta dir
    )
    out: dict[str, dict] = {}
    for r in rows:
        rel = os.path.basename(r["__file"])
        entry: dict = {"n": r["__n"]}
        if stat_cols:
            entry["cols"] = {
                c: [_stat_value(r[f"__mn_{c}"]), _stat_value(r[f"__mx_{c}"])]
                for c in stat_cols
            }
        if bloom_cols:
            entry["bloom"] = {
                c: _pack_bloom(
                    set().union(*(r[f"__bl_{j}_{c}"] for j in range(bloom_k))),
                    bloom_m,
                    bloom_k,
                    bloom_kind[c],
                )
                for c in bloom_cols
            }
        out[rel] = entry
    # Zero-row part files produce no aggregate group but still exist on
    # disk: record them as empty (prunable by everything, n = 0) so
    # metadata-only aggregation stays exact.
    for f in os.listdir(abs_dir):
        if f.endswith(".parquet") and f not in out:
            entry = {"n": 0}
            if stat_cols:
                entry["cols"] = {c: [None, None] for c in stat_cols}
            if bloom_cols:
                entry["bloom"] = {
                    c: _pack_bloom((), bloom_m, bloom_k, bloom_kind[c])
                    for c in bloom_cols
                }
            out[f] = entry
    return out


def _file_may_match(entry: dict, col: str, op: str, value) -> bool:
    """Conservative: True unless the file's stats PROVE no row can
    satisfy ``col op value``. Unknown column or type-mismatched bound
    keeps the file."""
    if op not in _PRUNE_OPS:
        raise ValueError(f"unsupported prune op {op!r}; use one of {_PRUNE_OPS}")
    if op == "in":
        # disjunction of equality probes: the file survives if ANY
        # value may match (each probe uses the bloom + range stats);
        # None members are null-rejecting, an empty list matches no row
        return any(
            _file_may_match(entry, col, "==", v)
            for v in value
            if v is not None
        )
    if value is None:
        # Every supported op is null-rejecting (SQL 3VL): no row can
        # satisfy `col op NULL`, so a None probe prunes every file
        # instead of crashing on `mn <= None` below.
        return False
    bloom = entry.get("bloom", {})
    if op == "==" and col in bloom:
        if not _bloom_may_contain(bloom[col], value):
            return False
    cols = entry.get("cols", {})
    if col not in cols:
        return True
    mn, mx = cols[col]
    if mn is None and mx is None:
        return False  # all-null file; every supported op is null-rejecting
    pv = _stat_value(value)
    # Never compare across kinds (a numeric bound vs string stats) —
    # keep the file rather than guess an ordering.
    if isinstance(pv, str) != isinstance(mn, str):
        return True
    if op == "==":
        return mn <= pv <= mx
    if op == ">=":
        return mx >= pv
    if op == ">":
        return mx > pv
    if op == "<=":
        return mn <= pv
    if op == "<":
        return mn < pv
    raise AssertionError("unreachable")


def metadata_stats(
    table: str, version: int | None = None, cols: Sequence[str] = ()
) -> dict:
    """Answer COUNT(*)/MIN/MAX from the manifest ALONE — zero data
    files opened (Delta's metadata-only query optimization). At 100 TB
    this turns "how many rows, what date range?" from a full scan into
    a driver-side JSON read: the numbers were already paid for, one
    O(delta) aggregate per commit.

    Returns ``{"n_rows": int, "cols": {c: [min, max]}}``. Raises
    ``ValueError`` if any file in the snapshot lacks the needed stats
    (older stat-less commits) — the caller must fall back to a scan
    rather than get a silently wrong answer."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table}")
    manifest = read_manifest(table, v)
    all_stats = manifest.get("file_stats", {})
    n_rows = 0
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for d in manifest["data_dirs"]:
        abs_dir = os.path.join(table, d)
        dir_stats = all_stats.get(d, {})
        files = [f for f in os.listdir(abs_dir) if f.endswith(".parquet")]
        for f in files:
            entry = dir_stats.get(f)
            if entry is None or "n" not in entry:
                raise ValueError(
                    f"{d}/{f} has no recorded stats; metadata-only "
                    "aggregation would be wrong — fall back to a scan"
                )
            n_rows += entry["n"]
            for c in cols:
                if c not in entry.get("cols", {}):
                    raise ValueError(
                        f"{d}/{f} has no [min, max] for {c!r}; fall back "
                        "to a scan"
                    )
                mn, mx = entry["cols"][c]
                if mn is not None and (c not in mins or mn < mins[c]):
                    mins[c] = mn
                if mx is not None and (c not in maxs or mx > maxs[c]):
                    maxs[c] = mx
    return {
        "n_rows": n_rows,
        "cols": {c: [mins.get(c), maxs.get(c)] for c in cols},
    }


def plan_scan(
    table: str,
    manifest: dict,
    where: Sequence[tuple[str, str, object]] | None,
) -> tuple[list[str], int]:
    """Resolve the manifest to concrete file paths, pruning files whose
    stats refute every conjunct of ``where``. Returns (files to read,
    number of files skipped). Directories without recorded stats (older
    commits, or stat-less columns) contribute all their files —
    skipping is an optimization and must never drop a possible match."""
    all_stats = manifest.get("file_stats", {})
    kept: list[str] = []
    skipped = 0
    for d in manifest["data_dirs"]:
        abs_dir = os.path.join(table, d)
        dir_stats = all_stats.get(d)
        files = sorted(
            f for f in os.listdir(abs_dir) if f.endswith(".parquet")
        )
        for f in files:
            st = dir_stats.get(f) if dir_stats else None
            if st is not None and where:
                if not all(_file_may_match(st, c, op, v) for c, op, v in where):
                    skipped += 1
                    continue
            kept.append(os.path.join(abs_dir, f))
    return kept, skipped


def _where_expr(where: Sequence[tuple[str, str, object]]) -> Column:
    expr = F.lit(True)
    for c, op, v in where:
        col = F.col(c)
        if op == "in":
            cond = col.isin([x for x in v if x is not None])
        else:
            cond = {
                "==": col == v,
                "<": col < v,
                "<=": col <= v,
                ">": col > v,
                ">=": col >= v,
            }[op]
        expr = expr & cond
    return expr


def read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    where: Sequence[tuple[str, str, object]] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read the snapshot at ``version`` (default: latest). Time travel
    is just picking an older manifest — the data files are immutable.

    ``where`` — a conjunction of ``(col, op, value)`` with op in
    ``("==", "<", "<=", ">", ">=", "in")`` — prunes data files via the
    manifest's per-file stats (see :func:`plan_scan`) and then applies
    the same predicate as a real Spark filter, so the result is exact
    whether or not any file could be skipped. ``"in"`` takes a list
    and keeps a file if ANY member may match (bloom + range probes
    per member) — the point-lookup index applied to a bounded key
    batch.

    ``merge_schema`` — SCHEMA EVOLUTION on read (Delta's mergeSchema):
    when later appends added columns, the union schema is resolved
    across all parquet footers and older files surface the new columns
    as NULL. Off by default because the footer sweep costs a per-file
    read at planning time; a production deployment caches the resolved
    schema in the manifest at commit instead."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table}")
    manifest = read_manifest(table, v)
    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    if where is None:
        paths = [os.path.join(table, d) for d in manifest["data_dirs"]]
        return reader.parquet(*paths)
    files, _ = plan_scan(table, manifest, where)
    if not files:
        # Every file pruned: preserve the schema via a zero-row read
        # (footers only) of the NEWEST data dir — under schema
        # evolution the oldest dir would be missing later-added columns.
        any_dir = os.path.join(table, manifest["data_dirs"][-1])
        return reader.parquet(any_dir).filter(F.lit(False))
    return reader.parquet(*files).filter(_where_expr(where))


def commit(
    table: str,
    df: DataFrame,
    operation: str,
    expect_parent: int | None = None,
    count_rows: bool = False,
    inherit_dirs: Sequence[str] | None = None,
    stat_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_m: int = BLOOM_BITS,
    txn: tuple[str, int] | None = None,
    change_dir: str | None = None,
    content_identical: bool = False,
) -> int:
    """Write ``df`` as a new immutable data directory and commit it as
    the next version. Returns the committed version.

    ``txn`` — ``(app_id, batch_id)`` — records an application
    transaction watermark in the manifest (Delta's txnAppId/txnVersion
    idempotence pattern; see :func:`txn_append_commit`). Watermarks
    from the parent manifest are ALWAYS carried forward, whatever the
    operation — compaction or a merge must never amnesia a sink's
    exactly-once state.

    Without ``inherit_dirs`` the new version is a FULL snapshot (one
    data dir). With ``inherit_dirs`` (the parent's data dirs) the new
    version REFERENCES them plus the new delta dir — the O(delta)
    append commit (see :func:`append_commit`).

    ``expect_parent`` (optimistic concurrency): if given and another
    writer has already advanced past it, raise :class:`CommitConflict`
    without writing a manifest — the caller re-reads and retries.

    ``count_rows``: record ``n_rows`` in the manifest. Off by default —
    it costs an extra scan job over the just-written snapshot, which at
    scale is per-commit overhead for a metadata nicety.

    ``stat_cols`` / ``bloom_cols``: record per-file row counts,
    [min, max] ranges and equality bloom bit-sets for the NEW data
    directory (one O(delta) aggregate — see :func:`collect_file_stats`);
    inherited directories carry their stats forward from the parent
    manifest unchanged. Readers use them for file skipping
    (:func:`plan_scan`) and metadata-only aggregates
    (:func:`metadata_stats`).

    ``change_dir``: a pre-staged row-level change-data-feed directory
    (see :func:`merge_apply_cdc`) recorded in the manifest so
    :func:`read_row_changes` can serve this commit's deltas without
    diffing snapshots. Like data dirs, it must be staged BEFORE the
    manifest links it — the commit stays atomic-at-the-manifest.

    ``content_identical``: the WRITER asserts this commit's snapshot
    holds exactly the parent's rows (a layout-only rewrite — compact /
    Z-order). Recorded in the manifest so change-feed readers can skip
    the version instead of refusing; trusted at the same level as
    ``data_dirs`` itself (both are writer claims the log records).
    """
    os.makedirs(_log_path(table), exist_ok=True)
    parent = latest_version(table)
    if expect_parent is not None and parent != expect_parent:
        raise CommitConflict(
            f"expected parent version {expect_parent}, found {parent}"
        )
    data_dir, stats_entry, n_rows = _stage_data_dir(
        table, df, stat_cols, bloom_cols, bloom_m, count_rows
    )
    return _link_version(
        table,
        parent=parent,
        operation=operation,
        data_dir=data_dir,
        inherit_dirs=inherit_dirs,
        stats_entry=stats_entry,
        txn=txn,
        n_rows=n_rows,
        change_dir=change_dir,
        content_identical=content_identical,
    )


def _stage_data_dir(
    table: str,
    df: DataFrame,
    stat_cols: Sequence[str] | None,
    bloom_cols: Sequence[str] | None,
    bloom_m: int,
    count_rows: bool = False,
) -> tuple[str, dict | None, int | None]:
    """Write ``df`` as an immutable (not-yet-referenced) data directory
    and compute its per-file stats. Staging is commit-independent: the
    dir's contents never depend on which version ends up referencing
    it, which is what makes append rebase possible without rewriting
    the batch. An orphaned stage (its link lost every retry) is
    unreferenced by any manifest and reclaimed by :func:`vacuum`."""
    data_dir = f"data-{uuid.uuid4().hex}"
    abs_dir = os.path.join(table, data_dir)
    df.write.mode("errorifexists").parquet(abs_dir)
    stats_entry = None
    if stat_cols or bloom_cols:
        stats_entry = collect_file_stats(
            df.sparkSession, abs_dir, stat_cols or (), bloom_cols or (),
            bloom_m=bloom_m,
        )
    n_rows = (
        df.sparkSession.read.parquet(abs_dir).count() if count_rows else None
    )
    return data_dir, stats_entry, n_rows


def _link_version(
    table: str,
    parent: int | None,
    operation: str,
    data_dir: str,
    inherit_dirs: Sequence[str] | None,
    stats_entry: dict | None,
    txn: tuple[str, int] | None,
    n_rows: int | None = None,
    change_dir: str | None = None,
    content_identical: bool = False,
    data_dir_first: bool = False,
) -> int:
    """Publish a staged data dir as version ``parent``+1 — the
    metadata-only half of a commit. Raises :class:`CommitConflict` if
    another writer claims the version first; the caller may re-read
    the new parent and re-link the SAME staged dir (append rebase).

    ``data_dirs`` ordering is a schema contract: readers treat the
    LAST entry as the newest-schema dir (:func:`read`'s all-files-
    pruned path, :func:`read_row_changes`). An append's new dir is the
    newest, so the default appends ``data_dir`` last; a REBASED compact
    links a staged dir whose content predates the inherited racer
    deltas — it must pass ``data_dir_first=True`` so a racer's
    schema-evolving append stays last."""
    version = (parent or 0) + 1
    parent_manifest = read_manifest(table, parent) if parent is not None else {}
    file_stats: dict[str, dict] = {}
    if inherit_dirs:
        parent_stats = parent_manifest.get("file_stats", {})
        file_stats.update(
            {d: parent_stats[d] for d in inherit_dirs if d in parent_stats}
        )
    if stats_entry is not None:
        file_stats[data_dir] = stats_entry
    txns: dict[str, int] = dict(parent_manifest.get("txns", {}))
    if txn is not None:
        txns[txn[0]] = txn[1]
    manifest = {
        "version": version,
        "parent": parent,
        "operation": operation,
        "data_dirs": (
            [data_dir] + list(inherit_dirs or [])
            if data_dir_first
            else list(inherit_dirs or []) + [data_dir]
        ),
    }
    if txns:
        manifest["txns"] = txns
    if file_stats:
        manifest["file_stats"] = file_stats
    if n_rows is not None:
        manifest["n_rows"] = n_rows
    if change_dir is not None:
        manifest["change_dir"] = change_dir
    if content_identical:
        manifest["content_identical"] = True
    tmp = _manifest_file(table, version) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        _COMMIT_CLAIM(table, version, tmp)
    finally:
        os.unlink(tmp)
    _write_latest_hint(table, version)
    return version


#: Row-level change types (Delta Change Data Feed vocabulary).
CHANGE_TYPES = ("insert", "update_preimage", "update_postimage", "delete")


def merge_apply_cdc(
    spark: SparkSession,
    table: str,
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    op_col: str = "_op",
    delete_ops: Sequence[str] = ("d",),
    tiebreak: str | None = None,
    max_retries: int = 3,
    stat_cols: Sequence[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """CDC MERGE as a versioned commit with a row-level CHANGE DATA
    FEED — the full Debezium op stream (c/u/r upsert, d delete)
    applied to a lake table the way the reference pipeline's connector
    applies it to its search index (a delete event removes the
    document; reference `ksqldb-statements.sql` models it as the
    tombstone flow). The winner per key is the latest of (current
    snapshot row ∪ batch rows) by ``(ts_col, tiebreak)``; a winner
    whose ``op_col`` ∈ ``delete_ops`` REMOVES the key, any other
    winner upserts it (``op_col`` itself never lands in the table).
    A batch WITHOUT ``op_col`` is upsert-only: every row upserts.
    Keys match null-safely — a NULL key is one key, as in
    ``latest_per_key``.

    Deletes are physical, so changes to one key must arrive in
    ``(ts, tiebreak)`` order ACROSS batches: a late change older than
    a delete would re-insert the key. A stream that can deliver such
    late changes keeps its deletes as ordinary tombstone rows (no
    ``op_col``) and reads through ``lake.active_rows``.

    The staged feed records what happened to the TABLE: ``insert`` /
    ``update_preimage``+``postimage`` / ``delete`` (the full old row,
    so downstream signed folds — IVM views, the BM25 index — subtract
    exactly what the table lost). A delete of an absent key, or any
    change that loses the (ts, tiebreak) race to the snapshot row,
    produces no feed row and no snapshot change; consumers read it
    with :func:`read_row_changes`.

    Scale shape: only keys present in the batch can change, so the
    snapshot meets the batch only through semi/anti joins against the
    broadcast batch keys, and ONE batch-sized per-key reduce yields
    both the table's new rows and the feed; never snapshot ×
    snapshot. The snapshot rewrite itself is the COW fallback path,
    not the ingest path. Prior versions stay readable (time travel).
    On a concurrent-writer conflict the merge re-reads the new head
    and retries — last-write-wins makes the retry convergent.

    ``txn`` — ``(app_id, batch_id)`` — is recorded in the manifest like
    :func:`commit`'s; a sink reads the watermark back to skip a
    redelivered batch BEFORE merging (see ``lake_sink.lake_ivm_sink``)
    instead of burning a version on a no-op merge."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.table import latest_per_key

    if op_col not in changes.columns:  # upsert-only batch
        changes = changes.select("*", F.lit(None).cast("string").alias(op_col))
    key_list = list(keys)
    # the batch side of every key join carries renamed keys, so the
    # null-safe conditions resolve by name without self-join ambiguity
    batch_key = [f"__key_{i}" for i in range(len(key_list))]
    on = [F.col(k).eqNullSafe(F.col(b)) for k, b in zip(key_list, batch_key)]
    op_type = changes.schema[op_col].dataType
    ord_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    is_del = F.col(op_col).isin(list(delete_ops))
    for _ in range(max_retries + 1):
        parent = latest_version(table)
        if parent is None:
            winners = latest_per_key(changes, key_list, ts_col, tiebreak=tiebreak)
            result = winners.filter(~F.coalesce(is_del, F.lit(False))).drop(
                op_col
            )
            feed = result.select("*", F.lit("insert").alias("_change_type"))
        else:
            snap = read(spark, table, parent)
            # broadcast: a batch's keys carry no size statistics, and a
            # shuffled join would move the whole snapshot; semi/anti
            # joins tolerate repeated keys, so no distinct shuffle
            batch_keys = F.broadcast(changes.select(
                *[F.col(k).alias(b) for k, b in zip(key_list, batch_key)]
            ))
            data_cols = [c for c in snap.columns if c not in key_list]
            # incumbents compete with op=NULL (never a delete); only
            # batch keys can change, so the per-key reduce is batch-sized
            incumbents = snap.join(batch_keys, on, "left_semi").select(
                "*",
                F.lit(None).cast(op_type).alias(op_col),
                F.lit(True).alias("__inc"),
            )
            # one reduce yields latest_per_key's winner AND the incumbent
            # rows it replaces, so the feed needs no join back
            per_key = (
                incumbents.unionByName(
                    changes.select("*", F.lit(False).alias("__inc"))
                )
                .groupBy(*key_list)
                .agg(
                    F.max_by(
                        F.struct(*snap.columns, op_col), F.struct(*ord_cols)
                    ).alias("__win"),
                    F.collect_list(
                        F.when(F.col("__inc"), F.struct(*data_cols))
                    ).alias("__olds"),
                )
                .select(
                    *key_list,
                    F.when(
                        ~F.coalesce(F.col("__win").getField(op_col).isin(
                            list(delete_ops)), F.lit(False)),
                        F.struct(*[F.col("__win").getField(c).alias(c)
                                   for c in data_cols]),
                    ).alias("__new"),
                    "__olds",
                )
            )
            result = snap.join(batch_keys, on, "left_anti").unionByName(
                per_key.filter(F.col("__new").isNotNull()).select(
                    *key_list, "__new.*"
                )
            )

            def row(side, change_type):
                return F.struct(
                    F.col(side).alias("__row"),
                    F.lit(change_type).alias("_change_type"),
                )

            old, new = F.col("__old"), F.col("__new")
            changes_of_pair = (
                F.when(old.isNull() & new.isNotNull(), F.array(row("__new", "insert")))
                .when(old.isNotNull() & new.isNull(), F.array(row("__old", "delete")))
                .when(
                    old.isNotNull() & new.isNotNull() & ~old.eqNullSafe(new),
                    F.array(
                        row("__old", "update_preimage"),
                        row("__new", "update_postimage"),
                    ),
                )
            )
            feed = (
                per_key.select(
                    *key_list, "__new", F.explode_outer("__olds").alias("__old")
                )
                .select(*key_list, F.explode(changes_of_pair).alias("__c"))
                .select(*key_list, "__c.__row.*", "__c._change_type")
            )
        change_dir = f"changes-{uuid.uuid4().hex}"
        feed.write.mode("errorifexists").parquet(os.path.join(table, change_dir))
        try:
            return commit(
                table,
                result,
                "merge_cdc",
                expect_parent=parent,
                stat_cols=stat_cols,
                change_dir=change_dir,
                txn=txn,
            )
        except CommitConflict:
            # staged data + change dirs are unreferenced debris;
            # vacuum reclaims them like any crashed commit's
            continue
    raise CommitConflict(f"merge into {table} lost {max_retries + 1} races")


def read_row_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed for versions ``(from_version, to_version]``
    — the CDF superset of :func:`read_changes`: every row carries
    ``_change_type`` (insert / update_preimage / update_postimage /
    delete) and ``_commit_version``. Commits made by :func:`merge_apply_cdc`
    serve their staged change dir; plain ``append``/``txn_append``
    commits synthesize ``insert`` rows from their delta dirs (an
    append IS its own change feed); any other commit without a change
    dir (a plain :func:`commit` rewrite, purge) raises — the feed refuses
    to guess, same contract as :func:`read_changes`. A range whose
    manifests or change dirs :func:`vacuum` has reclaimed raises the
    same re-read-snapshot ValueError rather than a raw path error."""
    head = latest_version(table)
    if head is None:
        raise FileNotFoundError(f"no committed version in {table}")
    to_v = head if to_version is None else to_version
    parts: list[DataFrame] = []
    for v in range(from_version + 1, to_v + 1):
        try:
            manifest = read_manifest(table, v)
        except (FileNotFoundError, OSError) as e:
            raise ValueError(
                f"version {v}'s manifest has been vacuumed — the change "
                "feed before the retention window is gone; re-read the "
                f"snapshot and resume from version {head}"
            ) from e
        if manifest.get("content_identical"):
            continue  # layout-only rewrite (compact/Z-order): no row changes
        if manifest.get("change_dir"):
            cd = os.path.join(table, manifest["change_dir"])
            if not os.path.isdir(cd):
                raise ValueError(
                    f"version {v}'s change feed has been vacuumed — "
                    "re-read the snapshot and resume from version "
                    f"{head}"
                )
            part = spark.read.parquet(cd)
        elif manifest["operation"] in ("append", "txn_append"):
            # the insert feed is the dirs ADDED over the parent — a
            # vacuumed parent manifest makes that diff uncomputable,
            # so it gets the same resume signal as a vacuumed change
            # dir, not a raw path error
            try:
                parent_dirs = (
                    set(read_manifest(table, manifest["parent"])["data_dirs"])
                    if manifest["parent"]
                    else set()
                )
            except (FileNotFoundError, OSError) as e:
                raise ValueError(
                    f"version {v}'s parent manifest has been vacuumed — "
                    "the change feed before the retention window is "
                    "gone; re-read the snapshot and resume from version "
                    f"{head}"
                ) from e
            added = [d for d in manifest["data_dirs"] if d not in parent_dirs]
            if not added:
                continue
            part = spark.read.parquet(
                *[os.path.join(table, d) for d in added]
            ).select("*", F.lit("insert").alias("_change_type"))
        else:
            raise ValueError(
                f"version {v} is a {manifest['operation']!r} commit without "
                "a change feed — re-read the snapshot and resume from "
                f"version {v}"
            )
        parts.append(part.select("*", F.lit(v).alias("_commit_version")))
    if not parts:
        if from_version >= to_v:
            raise ValueError(
                f"empty version range ({from_version}, {to_v}] for {table}"
            )
        # every version in range was a layout-only rewrite: a real,
        # zero-row feed (schema from the snapshot + the feed columns)
        return (
            read(spark, table, to_v)
            .filter(F.lit(False))
            .select(
                "*",
                F.lit("insert").alias("_change_type"),
                F.lit(to_v).alias("_commit_version"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def append_commit(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    max_retries: int = 3,
    stat_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_m: int = BLOOM_BITS,
) -> int:
    """APPEND as an O(delta) commit: version N+1 references the
    parent's data dirs unchanged plus one new delta dir holding only
    ``df``. This is the shape a 100 TB event log actually ingests
    with — each commit writes the micro-batch, never the table; the
    manifest rename is the only metadata operation. The cost shows up
    as accumulating small dirs, which :func:`compact` reclaims.

    Concurrency (round-6 verdict #8, retry-with-REBASE): the batch is
    STAGED exactly once; on a lost race — whether the stale-parent
    precheck or the commit claim itself fires CommitConflict — the
    retry only re-reads the new head and re-LINKS the same staged dir
    under the new parent's dir list. Appends commute, so the rebase is
    convergent, two interleaved appenders both land on consecutive
    versions with no caller intervention, and the losing writer never
    rewrites its data."""
    os.makedirs(_log_path(table), exist_ok=True)
    data_dir, stats_entry, _ = _stage_data_dir(
        table, df, stat_cols, bloom_cols, bloom_m
    )
    for _ in range(max_retries + 1):
        parent = latest_version(table)
        dirs = read_manifest(table, parent)["data_dirs"] if parent else []
        try:
            return _link_version(
                table,
                parent=parent,
                operation="append",
                data_dir=data_dir,
                inherit_dirs=dirs,
                stats_entry=stats_entry,
                txn=None,
            )
        except CommitConflict:
            continue
    raise CommitConflict(f"append into {table} lost {max_retries + 1} races")


def txn_append_commit(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    app_id: str,
    batch_id: int,
    max_retries: int = 3,
    stat_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_m: int = BLOOM_BITS,
) -> int | None:
    """IDEMPOTENT append — the exactly-once lake sink for an
    at-least-once stream (Delta's txnAppId/txnVersion pattern): the
    manifest tracks, per ``app_id``, the highest ``batch_id`` already
    committed; a redelivered batch (foreachBatch replay after a crash,
    a double-delivering upstream) is recognized BY THE TABLE and
    skipped, so the append lands exactly once no matter how many times
    the sink retries it. Returns the committed version, or None if the
    batch was already in (the skip is the success path, not an error).

    Why the watermark lives in the manifest and not the sink: the
    check and the append commit ATOMICALLY (same manifest link), so a
    crash between "did I write it?" and "did I record that I wrote
    it?" cannot exist — the two are one filesystem operation. Batch
    ids must be monotonically increasing per app (Structured
    Streaming's foreachBatch contract).

    Rebase discipline: the batch stages once and conflicts re-link
    (see :func:`append_commit`) — but every rebase RE-CHECKS the
    watermark against the NEW parent first: if the racer that beat us
    was ourselves-redelivered (same app, same batch), the staged dir
    is abandoned (unreferenced → vacuum reclaims it) and the replay
    stays a no-op."""
    staged: str | None = None
    stats_entry: dict | None = None
    for _ in range(max_retries + 1):
        parent = latest_version(table)
        if parent is not None:
            manifest = read_manifest(table, parent)
            if manifest.get("txns", {}).get(app_id, -1) >= batch_id:
                return None  # already committed: replay is a no-op
            dirs = manifest["data_dirs"]
        else:
            dirs = []
        if staged is None:
            os.makedirs(_log_path(table), exist_ok=True)
            staged, stats_entry, _ = _stage_data_dir(
                table, df, stat_cols, bloom_cols, bloom_m
            )
        try:
            return _link_version(
                table,
                parent=parent,
                operation="txn_append",
                data_dir=staged,
                inherit_dirs=dirs,
                stats_entry=stats_entry,
                txn=(app_id, batch_id),
            )
        except CommitConflict:
            continue
    raise CommitConflict(f"txn append into {table} lost {max_retries + 1} races")


def commit_record(table, build, max_retries: int = 3) -> int:
    """Commit a raw JSON record as ``table``'s next version — the
    METADATA-ONLY commit primitive behind auxiliary logs (e.g. the
    search-index serving pointer): no data dirs, no Spark job, but the
    same atomic version claim (including any ``set_commit_claim``
    coordination hook — an S3 deployment's lock table covers these
    commits too), the same retry-on-conflict discipline, and the same
    latest-version hint. ``build(next_version, prev_record)`` produces
    the dict to publish and is called INSIDE the retry loop, so a
    CAS-style check against the previous record re-runs against the
    new head after a lost race; raise from ``build`` (e.g.
    :class:`CommitConflict`) to abort the commit. Tables written this
    way are version logs of opaque records — don't point
    :func:`read`/:func:`history` at them (no ``data_dirs``)."""
    os.makedirs(_log_path(table), exist_ok=True)
    for _ in range(max_retries + 1):
        parent = latest_version(table)
        prev = read_manifest(table, parent) if parent is not None else None
        version = (parent or 0) + 1
        record = build(version, prev)
        tmp = _manifest_file(table, version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(record, f)
        try:
            _COMMIT_CLAIM(table, version, tmp)
        except CommitConflict:
            continue  # racer took this version: re-read and retry
        finally:
            os.unlink(tmp)
        _write_latest_hint(table, version)
        return version
    raise CommitConflict(
        f"record commit into {table} lost {max_retries + 1} races"
    )


def history(table: str) -> list[dict]:
    """DESCRIBE HISTORY twin: one row per committed version, newest
    first — version, operation, parent, number of data dirs, recorded
    txn watermarks. A driver-side JSON sweep of the log; no Spark job."""
    out = []
    for v in reversed(versions(table)):
        m = read_manifest(table, v)
        out.append(
            {
                "version": m["version"],
                "operation": m["operation"],
                "parent": m["parent"],
                "n_data_dirs": len(m["data_dirs"]),
                "txns": m.get("txns", {}),
            }
        )
    return out


def read_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental change feed over the append log (Delta's streaming
    source / Change Data Feed reduced to the append case): the rows
    ADDED by versions ``(from_version, to_version]``, i.e. exactly the
    delta directories those commits introduced — a consumer that
    checkpoints its last-seen version and calls this per poll gets
    every appended row exactly once, without ever rescanning the
    table. This closes the lake's stream/table duality in the other
    direction: CDC streams INTO the lake (merge/append commits), and
    downstream training jobs stream OUT of it by version.

    Only ``append``/``txn_append`` commits are incremental; an
    intervening rewrite commit (merge/purge) changes history
    non-additively, and this reader refuses to guess — ``ValueError``
    tells the consumer to re-read the snapshot and resume from there.
    Layout-only rewrites (compact / Z-order) record
    ``content_identical`` in their manifest at commit time, so the
    feed SKIPS them: zero rows changed, by the writer's own recorded
    claim."""
    head = latest_version(table)
    if head is None:
        raise FileNotFoundError(f"no committed version in {table}")
    to_v = head if to_version is None else to_version
    new_dirs: list[str] = []
    for v in range(from_version + 1, to_v + 1):
        manifest = read_manifest(table, v)
        if manifest.get("content_identical"):
            continue  # layout-only rewrite: zero row changes
        if manifest["operation"] not in ("append", "txn_append"):
            raise ValueError(
                f"version {v} is a {manifest['operation']!r} commit — "
                "non-additive; re-read the snapshot and resume from "
                f"version {v}"
            )
        parent_dirs = (
            read_manifest(table, manifest["parent"])["data_dirs"]
            if manifest["parent"]
            else []
        )
        added = [d for d in manifest["data_dirs"] if d not in set(parent_dirs)]
        new_dirs.extend(added)
    if not new_dirs:
        # newest dir for the schema (see read()'s empty-result note)
        any_dir = os.path.join(table, read_manifest(table, to_v)["data_dirs"][-1])
        return spark.read.parquet(any_dir).filter(F.lit(False))
    return spark.read.parquet(*[os.path.join(table, d) for d in new_dirs])


def purge_rows(
    spark: SparkSession,
    table: str,
    col: str,
    values: Sequence,
    max_retries: int = 3,
    stat_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_m: int = BLOOM_BITS,
) -> tuple[int, int, int]:
    """Targeted hard delete (the GDPR right-to-be-forgotten shape):
    commit a new version with every row where ``col`` ∈ ``values``
    REMOVED — but rewrite only the data directories whose stats/bloom
    CANNOT rule the keys out; provably-clean directories are inherited
    by reference, untouched. At 100 TB, a delete of one user touches
    the handful of micro-batch dirs that ever saw that user (the same
    per-file bloom index that serves point lookups proves absence for
    the rest) instead of rewriting the table.

    Returns ``(version, n_dirs_rewritten, n_dirs_inherited)``.
    Granularity is the data DIRECTORY — the manifest's unit of
    reference — which is a micro-batch under the append-commit ingest
    shape; directories without stats are conservatively rewritten.

    Deletion COMPLETES only at vacuum: prior versions still reference
    the old files (that is what time travel means), so the compliance
    workflow is purge → retention window → ``vacuum`` — identical to
    Delta's delete-then-VACUUM contract."""
    for _ in range(max_retries + 1):
        parent = latest_version(table)
        if parent is None:
            raise FileNotFoundError(f"no committed version in {table}")
        manifest = read_manifest(table, parent)
        all_stats = manifest.get("file_stats", {})
        touched, clean = [], []
        for d in manifest["data_dirs"]:
            dir_stats = all_stats.get(d)
            if dir_stats is None:
                touched.append(d)  # unstatted: cannot prove absence
                continue
            abs_dir = os.path.join(table, d)
            files = [f for f in os.listdir(abs_dir) if f.endswith(".parquet")]
            may = any(
                _file_may_match(dir_stats.get(f, {}), col, "==", v)
                for f in files
                for v in values
            )
            (touched if may else clean).append(d)
        if not touched:
            return parent, 0, len(clean)  # nothing can hold the keys
        # keep NULL keys: ~isin is NULL (not true) for them and a plain
        # filter would silently drop every null-keyed row
        survivors = spark.read.parquet(
            *[os.path.join(table, d) for d in touched]
        ).filter(F.col(col).isNull() | ~F.col(col).isin(list(values)))
        try:
            version = commit(
                table,
                survivors,
                "purge",
                expect_parent=parent,
                inherit_dirs=clean,
                stat_cols=stat_cols,
                bloom_cols=bloom_cols,
                bloom_m=bloom_m,
            )
            return version, len(touched), len(clean)
        except CommitConflict:
            continue
    raise CommitConflict(f"purge of {table} lost {max_retries + 1} races")


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 8) -> Column:
    """Z-order (Morton) key over numeric/timestamp columns, built
    entirely from JVM expressions (no UDF): each column is scaled into
    ``2**bits`` uniform buckets between its global min and max (one
    tiny aggregate job), and the bucket bits are interleaved
    most-significant-first. Sorting by this key clusters the data so
    per-file min/max stats are TIGHT ON EVERY clustered column at
    once — a linear sort gives perfect skipping on its leading column
    and none on the rest; the Z-curve trades a little of the first
    column's locality for skipping on all of them. Nulls map to bucket
    0. Uniform buckets are the simplest correct choice; heavily skewed
    columns would want quantile boundaries instead (same interleave,
    different bucketizer).
    """
    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder key needs {bits * len(cols)} bits; max 63 "
            "(lower bits or cluster_by fewer columns)"
        )
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    nb = 1 << bits
    buckets = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None or mx <= mn:
            buckets.append(F.lit(0))
            continue
        scaled = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn)
        b = F.floor(scaled * nb).cast("int")
        buckets.append(
            F.coalesce(F.least(F.greatest(b, F.lit(0)), F.lit(nb - 1)), F.lit(0))
        )
    # LongType accumulator: an int z wraps at 32 interleaved bits and
    # silently destroys the clustering for >=4 columns at 8 bits each
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for b in buckets:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)).cast("long")
            )
    return z


def compact(
    spark: SparkSession,
    table: str,
    max_retries: int = 3,
    cluster_by: Sequence[str] | None = None,
    n_files: int | None = None,
    stat_cols: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    zorder_bits: int = 8,
) -> int:
    """Rewrite the latest snapshot as ONE data directory and commit it
    (the Delta OPTIMIZE / Iceberg rewrite-data-files twin): contents
    identical, data-dir count back to 1, prior versions still readable
    until :func:`vacuum` reclaims them.

    Concurrency (round-7 verdict #7): the rewrite is STAGED once; when
    an append races it, the retry REBASES rather than recompacting —
    every version between the staged parent and the new head that is
    additive (``append`` / ``txn_append``) commutes with a layout-only
    rewrite, so the new commit links the already-staged compacted dir
    PLUS the racers' delta dirs (compact(parent) ∪ deltas ≡ head,
    still ``content_identical``). The appender is never blocked (its
    own rebase is independent), no version is lost, and the 100 TB
    rewrite job never runs twice because someone appended a micro-
    batch mid-flight. Only a NON-additive racer (merge / purge /
    another compact) forces a restage, because its commit rewrote rows
    the staged dir no longer represents.

    ``cluster_by`` turns the rewrite into Delta's ``OPTIMIZE ZORDER
    BY``: rows are range-partitioned and sorted by :func:`zorder_key`
    over those columns (a single column degenerates to a plain range
    sort), so the per-file stats recorded via ``stat_cols`` become
    tight on every clustered column and :func:`read`'s file skipping
    is effective on each of them. ``n_files`` caps the rewritten file
    count (default 8)."""
    def _additive_since(base: int, head: int) -> bool:
        try:
            return all(
                read_manifest(table, v)["operation"] in ("append", "txn_append")
                for v in range(base + 1, head + 1)
            )
        except (FileNotFoundError, OSError):
            # A concurrent vacuum reclaimed an intermediate manifest:
            # the (base, head] history is unreadable, so treat it as
            # non-additive and restage at the current head rather than
            # surfacing a raw error from inside the retry loop.
            return False

    staged_parent: int | None = None
    staged_dir: str | None = None
    stats_entry: dict | None = None
    for _ in range(max_retries + 1):
        head = latest_version(table)
        if head is None:
            raise FileNotFoundError(f"no committed version in {table}")
        if staged_parent is None or not _additive_since(staged_parent, head):
            # (re)compact the full snapshot at the current head. The
            # abandoned previous stage (non-additive race only) is
            # unreferenced debris; vacuum reclaims it.
            snapshot = read(spark, table, head)
            if cluster_by:
                key = zorder_key(snapshot, cluster_by, bits=zorder_bits)
                snapshot = (
                    snapshot.withColumn("__z", key)
                    .repartitionByRange(n_files or 8, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            elif n_files:
                snapshot = snapshot.repartition(n_files)
            staged_dir, stats_entry, _ = _stage_data_dir(
                table, snapshot, stat_cols, bloom_cols, BLOOM_BITS
            )
            staged_parent = head
            inherit: list[str] = []
        else:
            # rebase: the head advanced by appends only — inherit the
            # delta dirs committed since the stage, rewrite nothing.
            base_dirs = set(read_manifest(table, staged_parent)["data_dirs"])
            inherit = [
                d
                for d in read_manifest(table, head)["data_dirs"]
                if d not in base_dirs
            ]
        try:
            return _link_version(
                table,
                parent=head,
                operation="compact",
                data_dir=staged_dir,
                inherit_dirs=inherit,
                stats_entry=stats_entry,
                txn=None,
                content_identical=True,
                # the staged dir's content predates the inherited racer
                # deltas — keep a schema-evolving racer append LAST so
                # read()'s newest-schema-dir assumption holds
                data_dir_first=True,
            )
        except CommitConflict:
            continue
    raise CommitConflict(f"compact of {table} lost {max_retries + 1} races")


def vacuum(table: str, keep_last: int = 1, min_age_s: float = 3600.0) -> list[str]:
    """Delete data directories referenced only by manifests older than
    the last ``keep_last`` versions (and drop those manifests), plus
    crash debris (unreferenced data dirs, stale ``.tmp`` manifests).
    Returns the removed data dirs.

    ``min_age_s`` is the retention guard (Delta's
    ``deletedFileRetentionDuration`` twin): anything younger is left
    alone, because an UNREFERENCED young directory may be a concurrent
    commit that has written its data but not yet linked its manifest —
    deleting it would let that commit land pointing at nothing. Only
    set 0 in tests / single-writer maintenance windows.

    ``keep_last`` must be ≥ 1: version numbers are an external
    reproducibility contract ("trained on version 3"), and emptying the
    log would restart numbering and silently rebind old version ids to
    new content.
    """
    import shutil
    import time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (version ids are immutable)")
    now = time.time()

    def _old_enough(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) >= min_age_s
        except OSError:
            return False

    vs = versions(table)
    keep_vs = vs[-keep_last:]
    live: set[str] = set()
    for v in keep_vs:
        m = read_manifest(table, v)
        # record-only logs (commit_record — e.g. the search serving
        # pointer) carry no data_dirs; vacuuming them is pure
        # manifest-history truncation
        live.update(m.get("data_dirs", ()))
        if m.get("change_dir"):
            live.add(m["change_dir"])
    removed = []
    for entry in os.listdir(table):
        full = os.path.join(table, entry)
        if entry == _LOG_DIR:
            continue
        if entry not in live and os.path.isdir(full) and _old_enough(full):
            shutil.rmtree(full)
            removed.append(entry)
    for v in vs[:-keep_last]:
        os.unlink(_manifest_file(table, v))
    # stale temp manifests from crashed commits (never linked)
    log = _log_path(table)
    for f in os.listdir(log):
        full = os.path.join(log, f)
        if ".tmp-" in f and _old_enough(full):
            os.unlink(full)
    return removed
