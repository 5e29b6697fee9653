"""Elasticsearch sink (SURVEY §2.1 S6/S7/S12) via ``foreachBatch`` +
bulk REST — no es-hadoop jar needed, and the error-tolerance semantics
of the reference's connector are implemented explicitly.

Reference configs reproduced:
- sink #1 (ksqldb-statements.sql:1-11): doc id from the message key
  (``key.ignore=false``) -> pass ``id_col``.
- sink #2 (ksqldb-statements.sql:70-85): auto-generated ids
  (``key.ignore=true``) -> ``id_col=None``; malformed-doc tolerance
  ``behavior.on.malformed.documents=warn`` / ``errors.tolerance=all``
  (T8) -> failed docs are routed to a dead-letter parquet path instead
  of failing the query.
- index template (docker-compose.yml:295-300): ``*_TS`` fields typed
  ``date`` -> ``put_index_template``.

Scale notes: each executor partition posts its own bulk batches
(``mapInPandas``-free, pure iterator) — the driver never sees the
data; at 1000 executors this is 1000 concurrent bulk writers, which
is how es-hadoop scales too.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame

DEFAULT_BULK_SIZE = 1000

# Mirrors the reference connector's retry knobs (kafka-connect-
# elasticsearch max.retries=5 / retry.backoff.ms=100): transient
# rejections are retried with exponential backoff BEFORE
# errors.tolerance decides their fate.
DEFAULT_MAX_RETRIES = 5
DEFAULT_RETRY_BACKOFF_S = 0.1

#: Statuses that mean "back off and resend", not "the doc is bad":
#: 429 = rejected_execution (bulk queue full), 503 = node unavailable.
#: Critically these appear BOTH request-level AND as per-item statuses
#: inside an HTTP 200 bulk response — a full bulk queue rejects a
#: subset of items while the rest index fine.
RETRYABLE_STATUSES = frozenset({429, 503})

Transport = Callable[[str, str], tuple[int, str]]
"""(url, body) -> (status_code, response_body). Injectable for tests."""


class _PerPartitionCount(AccumulatorParam):
    """{partition_id: n} with last-write-wins merge: a retried or
    speculatively duplicated task OVERWRITES its partition's entry
    instead of adding, so the summed metric is exactly-once per
    partition even though Spark accumulators in transformations are
    at-least-once (ADVICE r03)."""

    def zero(self, value):  # noqa: D102 - AccumulatorParam API
        return {}

    def addInPlace(self, a, b):  # noqa: D102 - AccumulatorParam API
        a.update(b)
        return a


def _http_transport(url: str, body: str) -> tuple[int, str]:
    import urllib.request

    req = urllib.request.Request(
        url, data=body.encode(), headers={"Content-Type": "application/x-ndjson"}
    )
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return resp.status, resp.read().decode()


def bulk_payload(
    rows: list[dict],
    index: str,
    id_col: str | None,
    actions: list[str] | None = None,
) -> str:
    """Render one _bulk request body. ``actions[i]`` is ``"index"``
    (action + source line pair) or ``"delete"`` (action line only —
    the tombstone removal); defaults to all-index."""
    lines = []
    for i, row in enumerate(rows):
        act = actions[i] if actions is not None else "index"
        action: dict = {act: {"_index": index}}
        if id_col is not None:
            action[act]["_id"] = str(row[id_col])
        lines.append(json.dumps(action, default=str))
        if act == "index":
            lines.append(json.dumps(row, default=str))
    return "\n".join(lines) + "\n"


def index_exists_errors(response_body: str) -> list[int]:
    """Positions of failed items in a bulk response (errors.tolerance)."""
    try:
        resp = json.loads(response_body)
    except json.JSONDecodeError:
        return []
    if not resp.get("errors"):
        return []
    return [
        i
        for i, item in enumerate(resp.get("items", []))
        if _item_failed(item)
    ]


def _item_body(item: dict) -> tuple[str, dict]:
    """A bulk response item is ``{action: {...}}`` — unwrap it."""
    act = next(iter(item), "index")
    return act, item.get(act, {})


def _item_failed(item: dict) -> bool:
    act, body = _item_body(item)
    st = body.get("status", 200)
    # deleting an absent doc answers 404/result=not_found — the
    # connector treats that as success (the doc is gone either way)
    if act == "delete" and st == 404:
        return False
    return st >= 300


def classify_bulk_response(
    status: int, response_body: str, n_items: int
) -> tuple[list[tuple[int, int, str]], list[int]]:
    """One bulk attempt → (fatal, retryable_positions), where each
    fatal entry is (position, item_status, error_reason) — the
    provenance the DLQ records, like Kafka Connect's dead-letter
    headers.

    Request-level: a retryable status (429/503) marks every item
    retryable; any other non-2xx marks every item fatal. Item-level
    (HTTP 200 body with ``"errors": true`` — the shape a real ES
    returns when the bulk queue rejects a SUBSET): each item's own
    status decides — 429/503 retryable, other ≥300 fatal, 2xx acked.
    """
    if status >= 300:
        if status in RETRYABLE_STATUSES:
            return [], list(range(n_items))
        return [(i, status, f"http {status}") for i in range(n_items)], []
    try:
        resp = json.loads(response_body)
    except json.JSONDecodeError:
        # A 2xx with an unparseable body (an LB's HTML error page, a
        # truncated response) proves NOTHING was acknowledged — treat
        # every item as retryable, never as acked (round-4 review
        # finding: the old [],[] return silently counted them indexed).
        return [], list(range(n_items))
    if not resp.get("errors"):
        # errors:false still needs one item ack per doc sent — a
        # truncated-but-parseable body (or a proxy's synthetic
        # {"errors": false}) must not count missing positions as
        # indexed. Mirror the truncation guard on the errors:true path.
        n_acked = len(resp.get("items", []))
        if n_acked >= n_items:
            return [], []
        return [], list(range(n_acked, n_items))
    fatal: list[tuple[int, int, str]] = []
    retryable: list[int] = []
    items = resp.get("items", [])
    for i, item in enumerate(items):
        act, body = _item_body(item)
        st = body.get("status", 200)
        if st in RETRYABLE_STATUSES:
            retryable.append(i)
        elif act == "delete" and st == 404:
            continue  # delete of an absent doc = success (see _item_failed)
        elif st >= 300:
            err = body.get("error", {})
            reason = err.get("type", "") or err.get("reason", "") or f"status {st}"
            fatal.append((i, st, reason))
    # Positions past a truncated items array have no acknowledgement —
    # retry them rather than assuming success.
    retryable.extend(range(len(items), n_items))
    return fatal, retryable


def es_sink_foreach_batch(
    es_url: str,
    index: str,
    id_col: str | None = None,
    errors_tolerance: str = "none",
    dead_letter_path: str | None = None,
    bulk_size: int = DEFAULT_BULK_SIZE,
    transport: Transport = _http_transport,
    max_retries: int = DEFAULT_MAX_RETRIES,
    retry_backoff_s: float = DEFAULT_RETRY_BACKOFF_S,
    null_value_behavior: str = "ignore",
):
    """Build a ``foreachBatch`` function bulk-indexing into ES.

    Retry semantics (reference connector parity): transient rejections
    — request-level 429/503, network errors, AND per-item 429s inside
    an HTTP 200 response (a full bulk queue rejects a subset while the
    rest index) — are retried with exponential backoff, resending ONLY
    the rejected items; after ``max_retries`` they fall through to
    ``errors_tolerance`` (DLQ under ``all``, query failure otherwise).
    Permanently bad docs (mapping conflicts, 400s) skip the retry loop.

    ``null_value_behavior`` is the connector's ``behavior.on.null.
    values`` — what a TOMBSTONE (keyed row whose every value column is
    NULL, the Kafka shape of a CDC delete) means: ``ignore`` (default,
    drop it), ``delete`` (issue a bulk delete for the doc id — a
    Debezium delete removes the ES document; deleting an absent doc is
    success), ``fail`` (reject the batch). Requires ``id_col`` for
    ``delete`` — without a key there is nothing addressable to remove.

    Usage::

        df.writeStream.foreachBatch(
            es_sink_foreach_batch("http://es:9200", "ratings-enriched",
                                  errors_tolerance="all",
                                  dead_letter_path="/dlq/ratings")
        ).start()
    """

    if errors_tolerance not in ("none", "all"):
        raise ValueError(
            f"errors.tolerance must be none|all, got {errors_tolerance!r}"
        )
    if null_value_behavior not in ("ignore", "delete", "fail"):
        raise ValueError(
            f"behavior.on.null.values must be ignore|delete|fail,"
            f" got {null_value_behavior!r}"
        )
    if null_value_behavior == "delete" and id_col is None:
        raise ValueError(
            "behavior.on.null.values=delete requires id_col — without a"
            " key there is no document to address"
        )

    def _foreach_batch(batch_df: DataFrame, batch_id: int) -> int:
        # Acked-docs metric, accumulated inside the one side-effecting
        # job (a separate count() would re-execute the plan and re-send
        # docs). Keyed by partition id with last-write-wins merge, so a
        # retried/speculative task replaces rather than adds — the
        # summed value is exactly-once per partition. It can still
        # differ from ES truth only in the way at-least-once delivery
        # itself does: a retried task re-SENDS docs (idempotent
        # overwrites under id_col, possible duplicates without one).
        ok_acc = batch_df.sparkSession.sparkContext.accumulator(
            {}, _PerPartitionCount()
        )

        def _send_partition(iterator):
            from pyspark import TaskContext

            buf: list[tuple[dict, str]] = []  # (row, action)
            failed: list[dict] = []
            n_ok = 0

            def flush():
                nonlocal n_ok
                if not buf:
                    return
                pending = list(range(len(buf)))
                attempt = 0
                transport_error = False
                while pending:
                    body = bulk_payload(
                        [buf[i][0] for i in pending],
                        index,
                        id_col,
                        actions=[buf[i][1] for i in pending],
                    )
                    try:
                        status, resp = transport(f"{es_url}/_bulk", body)
                        fatal, retryable = classify_bulk_response(
                            status, resp, len(pending)
                        )
                        transport_error = False
                    except Exception:  # noqa: BLE001 — network-level, retryable
                        fatal, retryable = [], list(range(len(pending)))
                        transport_error = True
                    failed.extend(
                        (buf[pending[i]][0], st, reason) for i, st, reason in fatal
                    )
                    n_ok += len(pending) - len(fatal) - len(retryable)
                    retry_docs = [pending[i] for i in retryable]
                    if not retry_docs:
                        break
                    if attempt >= max_retries:
                        # DLQ provenance must distinguish a dead
                        # network path from ES bulk-queue rejection —
                        # they call for different operator responses.
                        st, why = (
                            (0, "network_retries_exhausted")
                            if transport_error
                            else (429, "retries_exhausted")
                        )
                        failed.extend((buf[i][0], st, why) for i in retry_docs)
                        break
                    attempt += 1
                    time.sleep(retry_backoff_s * (2 ** (attempt - 1)))
                    pending = retry_docs
                buf.clear()

            for row in iterator:
                d = row.asDict(recursive=True)
                tombstone = id_col is not None and all(
                    v is None for k, v in d.items() if k != id_col
                )
                if tombstone:
                    if null_value_behavior == "ignore":
                        continue
                    if null_value_behavior == "fail":
                        raise ValueError(
                            f"tombstone for id {d.get(id_col)} with"
                            " behavior.on.null.values=fail"
                        )
                    buf.append(({id_col: d[id_col]}, "delete"))
                else:
                    buf.append((d, "index"))
                if len(buf) >= bulk_size:
                    flush()
            flush()
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else -1
            ok_acc.add({pid: n_ok})
            for doc, st, reason in failed:
                yield json.dumps(doc, default=str), int(st), reason

        failed_rdd = batch_df.rdd.mapPartitions(_send_partition)
        if errors_tolerance == "all":
            # T8 — warn + dead-letter, never fail the query
            if dead_letter_path is not None:
                # Exactly ONE action on the side-effecting RDD: the bulk
                # POSTs run inside this write job. An isEmpty() pre-check
                # would be a second job that re-runs every partition and
                # re-sends already-indexed docs — duplicate documents
                # under id_col=None (the reference's key.ignore=true
                # sink #2). An all-success batch writes an empty parquet
                # append (a _SUCCESS marker), which is the cheap side of
                # that trade.
                # DLQ rows carry error provenance (status, reason,
                # batch id), the parquet twin of Kafka Connect's
                # errors.deadletterqueue.context.headers.enable=true.
                spark = batch_df.sparkSession
                from pyspark.sql import functions as F

                spark.createDataFrame(
                    failed_rdd, "doc string, status int, reason string"
                ).withColumn("batch_id", F.lit(int(batch_id))).write.mode(
                    "append"
                ).parquet(dead_letter_path)
            else:
                failed_rdd.count()  # drain; connector logs-and-drops
        else:
            n_failed = failed_rdd.count()
            if n_failed:
                raise RuntimeError(f"{n_failed} documents failed to index into {index}")
        return sum(ok_acc.value.values())

    return _foreach_batch


def put_index_template(
    es_url: str, name: str = "kafkaconnect", transport: Transport = _http_transport
) -> tuple[int, str]:
    """S12 — the reference's dynamic template: ``*_TS`` -> ``date``,
    1 shard / 0 replicas (docker-compose.yml:295-300)."""
    template = {
        "index_patterns": ["*"],
        "settings": {"number_of_shards": 1, "number_of_replicas": 0},
        "mappings": {
            "dynamic_templates": [
                {
                    "dates": {
                        "match": "*_TS",
                        "mapping": {"type": "date"},
                    }
                }
            ]
        },
    }
    return transport(f"{es_url}/_template/{name}", json.dumps(template))
