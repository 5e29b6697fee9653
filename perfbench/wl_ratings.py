"""Workload ``ratings_stream``: the reference DAG as Structured Streaming.

Generated ratings land as atomically renamed parquet files in a file
source directory. Three queries consume them, built from
``plans.pipeline.ratings_pipeline`` over the stream and a static
CUSTOMERS changelog: enriched → ES sink, unhappy-platinum → ES sink,
and the 15-minute tumbling count/collect in update mode (its updates
are appended to parquet per micro-batch). Two phases:

- catch-up: drain a staged backlog (``auto.offset.reset=earliest``);
  throughput is ratings/s until all three queries have committed it;
- live tail: one generator thread writes a file every TICK_S on a
  fixed schedule (open loop); lag runs from a rating's due time to the
  stub's ack of its enriched doc.
"""

from __future__ import annotations

import os
import threading
import time

import gen
import harness as H
import pyarrow.parquet as pq

N_CUSTOMERS = 100_000
N_CUSTOMER_UPDATES = 10_000
BACKLOG_FILES = 8
BACKLOG_FILE_ROWS = 5_000
LIVE_RATE = 1_000          # ratings/s in the live tail
TICK_S = 0.25              # one file per tick in the live tail
TRIGGER_S = 2.5            # micro-batch interval of the three queries
WARM_ROWS = 4_000
SETUP_REPEATS = 3
DRAIN_TIMEOUT_S = 60.0

ENRICHED = "ratings-enriched"
UNHAPPY = "unhappy_platinum_customers"

SIZES = {
    "customers": N_CUSTOMERS, "customer_updates": N_CUSTOMER_UPDATES,
    "backlog_ratings": BACKLOG_FILES * BACKLOG_FILE_ROWS,
    "rows_per_backlog_file": BACKLOG_FILE_ROWS,
    "live_rate_per_s": LIVE_RATE, "live_tick_s": TICK_S, "trigger_s": TRIGGER_S,
    "queries": 3,
}


class Progress:
    """A StreamingQueryListener's record of every progress event."""

    def __init__(self):
        self.events: list[tuple[float, str, object]] = []
        self.rows: dict[str, int] = {}
        self.cond = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer.cond:
                    outer.events.append((time.perf_counter(), p.name, p))
                    outer.rows[p.name] = outer.rows.get(p.name, 0) + p.numInputRows
                    outer.cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cond:
                    outer.cond.notify_all()

        return L()

    def wait_rows(self, names, total: int, timeout: float) -> float:
        """Block until every query in ``names`` has read ``total`` rows;
        returns the time the last one got there."""
        deadline = time.perf_counter() + timeout
        with self.cond:
            while any(self.rows.get(n, 0) < total for n in names):
                left = deadline - time.perf_counter()
                if left <= 0:
                    raise TimeoutError(
                        f"queries read {self.rows} of {total} rows in {timeout}s")
                self.cond.wait(min(left, 0.5))
            return time.perf_counter()


def _stage(work: str, seed: int) -> dict:
    """Write the CUSTOMERS changelog and the backlog files."""
    d = {k: os.path.join(work, k) for k in ("src", "tmp", "customers", "warm", "q3")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    pq.write_table(gen.customers_changelog(N_CUSTOMERS, N_CUSTOMER_UPDATES, seed),
                   os.path.join(d["customers"], "part-0.parquet"))
    # warm-up input: ids below 0 never mix with the measured ones
    gen.write_atomic(gen.ratings(-WARM_ROWS, WARM_ROWS, N_CUSTOMERS, seed),
                     d["warm"], d["tmp"])
    files = []
    for k in range(BACKLOG_FILES):
        t = gen.ratings(k * BACKLOG_FILE_ROWS, BACKLOG_FILE_ROWS, N_CUSTOMERS, seed)
        files.append((gen.write_atomic(t, d["src"], d["tmp"]), t.num_rows))
    d["backlog"] = files
    return d


class LiveGenerator(threading.Thread):
    """Open loop: file k is due at t0 + k·TICK_S and written then,
    however far behind the engine is. Records each file's due time and
    how late the write finished."""

    def __init__(self, d: dict, first_id: int, seconds: float, seed: int, t0: float):
        super().__init__(daemon=True)
        self.d, self.first_id, self.seed, self.t0 = d, first_id, seed, t0
        self.n_files = int(round(seconds / TICK_S))
        self.per_file = int(LIVE_RATE * TICK_S)
        # pre-generate so the schedule only pays for the write
        self.tables = [
            gen.ratings(first_id + k * self.per_file, self.per_file, N_CUSTOMERS, seed)
            for k in range(self.n_files)]
        self.due: list[float] = []
        self.late_ms: list[float] = []
        self.files: list[tuple[float, int]] = []   # (write time, rows)
        self.error: BaseException | None = None

    @property
    def total_rows(self) -> int:
        return self.n_files * self.per_file

    def run(self) -> None:
        try:
            for k, t in enumerate(self.tables):
                due = self.t0 + (k + 1) * TICK_S
                pause = due - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                gen.write_atomic(t, self.d["src"], self.d["tmp"])
                done = time.perf_counter()
                self.due.append(due)
                self.late_ms.append(max(done - due, 0.0) * 1000)
                self.files.append((done, t.num_rows))
        except BaseException as e:  # noqa: BLE001 - reported by the workload
            self.error = e


def _start_queries(spark, src: str, d: dict, es_url: str, tracer, sink_calls,
                   prefix: str = ""):
    """Start the three queries; with a ``prefix`` (the warm-up) they
    read what is there once and stop."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline
    from kafka_cdc_elasticsearch_pipeline_spark.sources.elasticsearch import (
        es_sink_foreach_batch,
    )

    stream = spark.readStream.schema(gen.RATINGS_DDL).parquet(src)
    customers = spark.read.parquet(d["customers"])
    dag = ratings_pipeline(stream, customers)

    def timed(name, fn, span="sources.elasticsearch.es_sink"):
        def call(df, batch_id):
            t = time.perf_counter()
            with tracer.span(span, trace=f"{name}:{batch_id}"):
                n = fn(df, batch_id)
            sink_calls.append((name, batch_id, t, time.perf_counter(), n))
        return call

    q3_out = d["q3"]

    def window_sink(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(q3_out)
        return 0

    specs = [
        ("enriched", dag["ratings_with_customer_data"], "append",
         timed("enriched", es_sink_foreach_batch(es_url, ENRICHED, id_col="rating_id"))),
        ("unhappy", dag["unhappy_platinum_customers"], "append",
         timed("unhappy", es_sink_foreach_batch(es_url, UNHAPPY, id_col="rating_id"))),
        ("per_15min", dag["ratings_per_customer_per_15minute"], "update",
         timed("per_15min", window_sink, "streaming.window_sink")),
    ]
    queries = []
    for name, df, mode, fn in specs:
        w = (df.writeStream.queryName(prefix + name).outputMode(mode).foreachBatch(fn)
             .option("checkpointLocation", os.path.join(d["ckpt"], name)))
        w = (w.trigger(availableNow=True) if prefix
             else w.trigger(processingTime=f"{TRIGGER_S} seconds"))
        queries.append(w.start())
    return queries


def _cpu_s(pid: int) -> float:
    """User+system CPU seconds of ``pid`` and its descendants."""
    total = 0
    for p in [pid] + H.descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


QUERIES = ("enriched", "unhappy", "per_15min")


def _warm_up(spark, work: str, d: dict, stub) -> float:
    """Run the same three queries once over a small input, so code
    generation and Python worker start-up happen before timing."""
    t = time.perf_counter()
    warm_d = dict(d, ckpt=os.path.join(work, "ckpt-warm"), q3=os.path.join(work, "q3-warm"))
    for q in _start_queries(spark, d["warm"], warm_d, stub.url, H.Tracer(False), [],
                            prefix="warm_"):
        q.awaitTermination(120)
    with stub._lock:
        stub.acks.clear()
    return time.perf_counter() - t


def _catch_up(spark, d: dict, stub, prog: Progress, tracer, sink_calls) -> tuple[list, float]:
    """Start the queries on the staged backlog; return them (still
    running) and the seconds until all three had read all of it."""
    backlog = sum(n for _, n in d["backlog"])
    t = time.perf_counter()
    queries = _start_queries(spark, d["src"], d, stub.url, tracer, sink_calls)
    try:
        return queries, prog.wait_rows(QUERIES, backlog, DRAIN_TIMEOUT_S) - t
    except BaseException:
        for q in queries:
            q.stop()
        raise


def run(spark, work: str, seed: int, seconds: float, tracer, traced: bool) -> dict:
    from esstub import EsBulkStub

    # set-up, repeated: stage inputs into fresh dirs, keep the last
    stage_s = []
    for r in range(SETUP_REPEATS):
        t = time.perf_counter()
        with tracer.span("gen.stage", trace=f"setup:{r}"):
            d = _stage(os.path.join(work, f"stage{r}"), seed)
        stage_s.append(time.perf_counter() - t)
    d["ckpt"] = os.path.join(work, "ckpt")

    prog = Progress()
    spark.streams.addListener(prog.listener())
    sink_calls: list = []
    out: dict = {"sizes": SIZES}
    with EsBulkStub() as stub:
        backlog = sum(n for _, n in d["backlog"])
        warm_s = _warm_up(spark, work, d, stub)
        queries, catchup_s = _catch_up(spark, d, stub, prog, tracer, sink_calls)
        cpu0 = _cpu_s(os.getpid())
        try:
            n_catchup_batches = sum(1 for _, n, _ in prog.events if n in QUERIES)
            live = LiveGenerator(d, backlog, seconds, seed, time.perf_counter())
            live.start()
            live.join(seconds + 30)
            if live.error is not None:
                raise live.error
            t_live_end = time.perf_counter()
            prog.wait_rows(QUERIES, backlog + live.total_rows, DRAIN_TIMEOUT_S)
            cpu1 = _cpu_s(os.getpid())
            t_drained = time.perf_counter()
        finally:
            for q in queries:
                q.stop()
        busy = stub.busy_share()
        acks = list(stub.acks)
        requests = stub.requests

    # --- lag of live ratings: due time → ack of the enriched doc
    lag_ms = []
    for index, doc_id, t_ack, _ in acks:
        if index != ENRICHED:
            continue
        rid = int(doc_id)
        if rid >= backlog:
            lag_ms.append((t_ack - live.due[(rid - backlog) // live.per_file]) * 1000)

    t = time.perf_counter()
    correct, failed, checks = _verify(spark, d, acks)
    verify_s = time.perf_counter() - t
    attempted = backlog + live.total_rows
    lag_tail, lag_pct, lag_n = H.tail(lag_ms)
    late_max = max(live.late_ms)
    valid = late_max < 1000 * TICK_S
    out.update({
        "attempted": attempted, "failed": failed, "correct": correct and valid,
        "checks": checks + [("generator on schedule (max late < one tick)", valid)],
        "setup": {"stage_s": stage_s, "warmup_s": warm_s},
        "e2e": {
            "throughput_per_s": (backlog / catchup_s, "1/s", "ingest_catchup_eps"),
            "latency_p50_ms": (H.p50(lag_ms), "ms", "ingest_lag_p50_ms"),
            "latency_tail_ms": (lag_tail, "ms", "ingest_lag_tail_ms"),
        },
        "notes": {
            "ingest_lag_tail_percentile": lag_pct, "ingest_lag_samples": lag_n,
            "catchup_s": catchup_s, "catchup_batches": n_catchup_batches,
            "live_rate_per_s": LIVE_RATE, "live_ratings": live.total_rows,
            "phase_s": {"stage": stage_s, "warmup": warm_s, "catchup": catchup_s,
                        "drain": t_drained - t_live_end, "verify": verify_s},
        },
    })
    if traced:
        out["layers"] = _layers(spark, d, prog, sink_calls, acks, requests, busy, live,
                                queries, cpu1 - cpu0, tracer)
    return out


def _verify(spark, d: dict, acks) -> tuple[bool, int, list]:
    """Stub acks and window updates against batch ``ratings_pipeline``
    truth over the same generated files."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline

    truth = ratings_pipeline(spark.read.schema(gen.RATINGS_DDL).parquet(d["src"]),
                             spark.read.parquet(d["customers"]))
    enriched = truth["ratings_with_customer_data"].select(
        "rating_id", "stars", "club_status").collect()
    wants = {
        ENRICHED: {r[0] for r in enriched},
        # the unhappy-platinum filter, applied in Python to the enriched truth
        UNHAPPY: {r[0] for r in enriched if r[1] < 3 and r[2] == "platinum"},
    }
    checks = []
    failed = 0
    for index, want in wants.items():
        seen: dict[str, int] = {}
        for ix, doc_id, _, _ in acks:
            if ix == index:
                seen[doc_id] = seen.get(doc_id, 0) + 1
        got = {int(k) for k in seen}
        dup = sum(1 for v in seen.values() if v != 1)
        ok = got == want and dup == 0
        failed += len(got ^ want) + dup
        checks.append((f"{index}: acked ids == batch truth ({len(want)}), each once", ok))
    # window table: each group's last update equals the batch answer
    upd = spark.read.parquet(d["q3"])
    w = Window.partitionBy("window_start", "full_name").orderBy(F.col("batch_id").desc())
    last = (upd.withColumn("_r", F.row_number().over(w)).filter("_r = 1")
            .drop("_r", "batch_id")).cache()
    want = truth["ratings_per_customer_per_15minute"].cache()
    extra, missing = last.exceptAll(want), want.exceptAll(last)
    diff = extra.count() + missing.count()
    failed += diff
    checks.append((f"per_15min: final window rows == batch truth", diff == 0))
    if diff:
        for r in extra.limit(3).collect():
            print(f"  streamed, not in truth: {r}")
        for r in missing.limit(3).collect():
            print(f"  in truth, not streamed: {r}")
    last.unpersist()
    want.unpersist()
    return all(ok for _, ok in checks), failed, checks


def _layers(spark, d, prog, sink_calls, acks, requests, busy, live, queries,
            cpu_s, tracer) -> dict:
    """Per-layer metrics of the traced run."""
    from kafka_cdc_elasticsearch_pipeline_spark.operators.table import latest_per_key
    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline

    measured = [e for e in prog.events if e[1] in QUERIES]
    events = [p for _, _, p in measured]
    dur = [p.durationMs for p in events if p.numInputRows > 0]
    sink_ms = {(n, b): (t1 - t0) * 1000 for n, b, t0, t1, _ in sink_calls}
    add_batch = [p.durationMs.get("addBatch", 0) for p in events if p.numInputRows > 0]
    dispatch = [p.durationMs.get("addBatch", 0) - sink_ms.get((p.name, p.batchId), 0)
                for p in events if p.numInputRows > 0]
    # file backlog seen at each progress event: files written minus
    # files the query has fully read (files are read oldest first)
    writes = [(0.0, n) for _, n in d["backlog"]] + live.files
    read_rows: dict[str, int] = {}
    backlog_files = 0
    for t_evt, name, p in measured:
        read_rows[name] = read_rows.get(name, 0) + p.numInputRows
        written = [n for t, n in writes if t <= t_evt]
        cum, done = 0, 0
        for n in written:
            cum += n
            if cum <= read_rows[name]:
                done += 1
        backlog_files = max(backlog_files, len(written) - done)
    state = [p.stateOperators[0] for p in events
             if p.name == "per_15min" and p.stateOperators]
    n_batches = len(dur)
    jobs = tasks = 0
    for q in queries:
        j, t = H.job_counts(spark, str(q.runId))
        jobs, tasks = jobs + j, tasks + t
    kevents = 3 * live.total_rows / 1000   # CPU is sampled over the live tail
    for t_evt, name, p in measured:
        d_ms = p.durationMs.get("triggerExecution", 0)
        tracer.add("streaming.micro_batch", t_evt - d_ms / 1000, t_evt,
                   trace=f"{name}:{p.batchId}")
    _nest_sinks(tracer)

    # pipeline / operators: one catch-up-sized batch (the whole backlog), forced
    ratings = spark.read.schema(gen.RATINGS_DDL).parquet(*[f for f, _ in d["backlog"]])
    customers = spark.read.parquet(d["customers"])
    n_rows = BACKLOG_FILES * BACKLOG_FILE_ROWS
    with tracer.span("plans.pipeline.ratings_pipeline", trace="pipeline"):
        t = time.perf_counter()
        ratings_pipeline(ratings, customers)["ratings_with_customer_data"] \
            .write.format("noop").mode("overwrite").save()
        pipe_ms = (time.perf_counter() - t) * 1000
    with tracer.span("operators.latest_per_key", trace="pipeline"):
        t = time.perf_counter()
        latest_per_key(customers, ["id"], "update_ts", tiebreak="op_seq",
                       method="max_by").write.format("noop").mode("overwrite").save()
        lpk_ms = (time.perf_counter() - t) * 1000
    es_calls = [(t1 - t0) * 1000 for n, _, t0, t1, _ in sink_calls if n != "per_15min"]
    n_docs = len(acks)
    seen = {}
    for ix, doc_id, _, _ in acks:
        seen[(ix, doc_id)] = seen.get((ix, doc_id), 0) + 1
    return {
        "streaming.batches": n_batches,
        "streaming.rows_per_batch_p50": H.p50(p.numInputRows for p in events if p.numInputRows > 0),
        "streaming.trigger_ms_p50": H.p50(x.get("triggerExecution", 0) for x in dur),
        "streaming.add_batch_ms_p50": H.p50(add_batch),
        "streaming.planning_ms_p50": H.p50(x.get("queryPlanning", 0) for x in dur),
        "streaming.offset_log_ms_p50": H.p50(
            x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in dur),
        "streaming.source_ms_p50": H.p50(
            x.get("latestOffset", 0) + x.get("getBatch", 0) for x in dur),
        "streaming.dispatch_ms_p50": H.p50(dispatch),
        "streaming.backlog_files_max": backlog_files,
        "streaming.state_rows": state[-1].numRowsTotal if state else 0,
        "streaming.state_bytes": state[-1].memoryUsedBytes if state else 0,
        "streaming.jobs_per_batch": jobs / max(n_batches, 1),
        "streaming.tasks_per_batch": tasks / max(n_batches, 1),
        "streaming.cpu_ms_per_kevent": cpu_s * 1000 / kevents,
        "pipeline.batch_ms_per_kevent": pipe_ms / (n_rows / 1000),
        "operators.latest_per_key_ms": lpk_ms,
        "es_sink.call_ms_p50": H.p50(es_calls),
        "es_sink.us_per_doc": sum(es_calls) * 1000 / max(n_docs, 1),
        "es_sink.bulk_requests": requests,
        "es_sink.docs_per_request": n_docs / max(requests, 1),
        "es_sink.bytes_per_doc": sum(a[3] for a in acks) / max(n_docs, 1),
        "es_sink.retries": sum(v - 1 for v in seen.values()),
        "es_sink.dlq_docs": 0,
        "es_stub.busy_share": busy,
        "gen.late_ms_p50": H.p50(live.late_ms),
        "gen.late_ms_max": max(live.late_ms),
    }


def _nest_sinks(tracer) -> None:
    """Parent each sink span under the micro-batch span of its trace."""
    batch = {s.trace: s.sid for s in tracer.spans if s.name == "streaming.micro_batch"}
    for s in tracer.spans:
        if s.name != "streaming.micro_batch" and s.trace in batch:
            s.parent = batch[s.trace]


def local1_catchup_eps(spark, work: str, seed: int) -> float:
    """Single-thread baseline: the catch-up rate of the same queries over
    the same backlog on ``local[1]`` (a diagnostic, not gated). Stops
    ``spark`` first: one JVM holds one SparkContext."""
    from esstub import EsBulkStub

    spark.stop()
    work1 = os.path.join(work, "local1")
    spark1, _, _ = H.start_session(work1, cpus=1)
    try:
        if spark1.sparkContext.defaultParallelism != 1:
            raise RuntimeError(f"baseline session is {spark1.sparkContext.master}")
        d = _stage(work1, seed)
        d["ckpt"] = os.path.join(work1, "ckpt")
        prog = Progress()
        spark1.streams.addListener(prog.listener())
        with EsBulkStub() as stub:
            _warm_up(spark1, work1, d, stub)
            queries, catchup_s = _catch_up(spark1, d, stub, prog, H.Tracer(False), [])
            for q in queries:
                q.stop()
        return sum(n for _, n in d["backlog"]) / catchup_s
    finally:
        spark1.stop()
