"""Workload ``kibana_dashboard``: the reference's Kibana dashboard and
its ksqlDB pull query, served over HTTP to closed-loop clients.

Set-up builds the enriched-doc table through the lakelog write path
(``plans.pipeline.ratings_pipeline`` → a load commit → CDC merge
commits that re-rate club status and delete docs) and mounts the latest
version with ``lakelog.read`` behind two ``SearchRestServer``s (the
enriched index and the unhappy-platinum index) and a
``KsqlRestServer`` running the reference statements. Each client sends
the next request only after the previous answer, cycling through the
six request kinds below.
"""

from __future__ import annotations

import datetime
import json
import os
import threading
import time
import urllib.request

import gen
import harness as H
import pyarrow.parquet as pq

N_CUSTOMERS = 20_000
N_RATINGS = 60_000         # → about 35k enriched docs
MERGES = 2
CLIENTS = 2
INTERVAL = "30m"           # the panels' date_histogram interval

#: ES-face field → doc table column (the reference's mapped fields)
FIELD_MAP = {f: f for f in ("EXTRACT_TS", "STARS", "CLUB_STATUS", "CHANNEL", "FULL_NAME")}

#: The reference dashboard's four saved visualizations, as the visState
#: ``aggs`` arrays Kibana stores (docker-compose.yml's saved objects).
VIS = {
    "count": {"title": "Unhappy Platinum Customers", "type": "metric", "aggs": [
        {"id": "1", "enabled": True, "type": "count", "schema": "metric", "params": {}}]},
    "median_by_status": {"title": "Median Rating, by Club Status", "type": "line", "aggs": [
        {"id": "1", "enabled": True, "type": "median", "schema": "metric",
         "params": {"field": "STARS", "percents": [50]}},
        {"id": "2", "enabled": True, "type": "date_histogram", "schema": "segment",
         "params": {"field": "EXTRACT_TS", "interval": "auto", "min_doc_count": 1}},
        {"id": "3", "enabled": True, "type": "terms", "schema": "group",
         "params": {"field": "CLUB_STATUS.keyword", "size": 5, "order": "desc",
                    "orderBy": "_term"}}]},
    "by_channel": {"title": "Ratings by Channel", "type": "histogram", "aggs": [
        {"id": "1", "enabled": True, "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "enabled": True, "type": "date_histogram", "schema": "segment",
         "params": {"field": "EXTRACT_TS", "interval": "auto", "min_doc_count": 1}},
        {"id": "3", "enabled": True, "type": "terms", "schema": "group",
         "params": {"field": "CHANNEL.keyword", "size": 5, "order": "desc",
                    "orderBy": "1"}}]},
    "by_person": {"title": "Ratings per Person", "type": "histogram", "aggs": [
        {"id": "1", "enabled": True, "type": "count", "schema": "metric", "params": {}},
        {"id": "2", "enabled": True, "type": "terms", "schema": "segment",
         "params": {"field": "FULL_NAME.keyword", "size": 5, "order": "desc",
                    "orderBy": "1"}}]},
}
#: the saved search: the unhappy index sorted EXTRACT_TS desc, first page
SAVED_SEARCH = {"sort": [{"field": "EXTRACT_TS", "order": "desc"}], "k": 10}

KSQL_SCRIPT = """
CREATE STREAM RATINGS WITH (KAFKA_TOPIC='ratings', VALUE_FORMAT='AVRO');
CREATE STREAM RATINGS_LIVE AS
  SELECT * FROM RATINGS WHERE LCASE(CHANNEL) NOT LIKE '%test%' EMIT CHANGES;
CREATE TABLE CUSTOMERS (CUSTOMER_ID VARCHAR PRIMARY KEY)
  WITH (KAFKA_TOPIC='asgard.demo.CUSTOMERS', VALUE_FORMAT='AVRO');
CREATE STREAM RATINGS_WITH_CUSTOMER_DATA WITH (KAFKA_TOPIC='ratings-enriched') AS
  SELECT R.RATING_ID, R.MESSAGE, R.STARS, R.CHANNEL,
         C.CUSTOMER_ID, C.FIRST_NAME + ' ' + C.LAST_NAME AS FULL_NAME,
         C.CLUB_STATUS, C.EMAIL
  FROM RATINGS_LIVE R
  LEFT JOIN CUSTOMERS C ON CAST(R.USER_ID AS STRING) = C.CUSTOMER_ID
  WHERE C.FIRST_NAME IS NOT NULL
  EMIT CHANGES;
CREATE TABLE RATINGS_PER_CUSTOMER_PER_15MINUTE AS
  SELECT FULL_NAME, COUNT(*) AS RATINGS_COUNT, COLLECT_LIST(STARS) AS RATINGS
  FROM RATINGS_WITH_CUSTOMER_DATA
  WINDOW TUMBLING (SIZE 15 MINUTE)
  GROUP BY FULL_NAME
  EMIT CHANGES;
"""

SIZES = {"customers": N_CUSTOMERS, "ratings": N_RATINGS, "cdc_merge_commits": MERGES,
         "clients": CLIENTS, "request_kinds": 6, "histogram_interval": INTERVAL}


def _post(url: str, payload: dict) -> tuple[int, bytes]:
    req = urllib.request.Request(url, data=json.dumps(payload).encode(),
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


#: the doc table's row image (the ES-face mapped fields)
DOC_DDL = ("doc_id bigint, EXTRACT_TS timestamp, STARS int, CLUB_STATUS string,"
           " CHANNEL string, FULL_NAME string")
DOC_COLS = [c.split()[0] for c in DOC_DDL.split(",")]
APP_ID = "perfbench-docs"


def _build(spark, work: str, seed: int, tracer) -> dict:
    """Stage inputs, run the batch pipeline and commit the doc table:
    one load, then MERGES change batches of Debezium envelopes through
    ``unwrap_envelope_cdc`` → ``merge_apply_cdc``. Each batch re-rates
    the club status of ~0.5% of the docs and deletes one in ten of them."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline
    from kafka_cdc_elasticsearch_pipeline_spark.sources import cdc, lakelog

    d = {k: os.path.join(work, k) for k in ("ratings", "customers")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    pq.write_table(gen.ratings(0, N_RATINGS, N_CUSTOMERS, seed),
                   os.path.join(d["ratings"], "part-0.parquet"))
    pq.write_table(gen.customers_changelog(N_CUSTOMERS, N_CUSTOMERS // 10, seed),
                   os.path.join(d["customers"], "part-0.parquet"))
    d["table"] = os.path.join(work, "docs")
    d["load"] = os.path.join(work, "load")
    ratings = spark.read.parquet(d["ratings"])
    customers = spark.read.parquet(d["customers"])
    enriched = ratings_pipeline(ratings, customers)["ratings_with_customer_data"]
    enriched.select(
        F.col("rating_id").alias("doc_id"),
        F.timestamp_millis("rating_time").alias("EXTRACT_TS"),
        F.col("stars").alias("STARS"),
        F.col("club_status").alias("CLUB_STATUS"),
        F.col("channel").alias("CHANNEL"),
        F.col("full_name").alias("FULL_NAME"),
        F.lit(0).cast("long").alias("_ts_ms"),
    ).write.parquet(d["load"])
    with tracer.span("sources.lakelog.commit", trace="build"):
        lakelog.commit(d["table"], spark.read.parquet(d["load"]), "load")
    statuses = F.array(*[F.lit(c) for c in gen.CLUB])
    schema = T._parse_datatype_string(DOC_DDL)
    d["changes"], d["merges"] = [], []
    for m in range(1, MERGES + 1):
        h = F.abs(F.xxhash64("doc_id", F.lit(seed), F.lit(m))) % 2000
        op = F.when(h == 0, "d").otherwise("u")
        new = F.struct(*[(F.element_at(statuses, (h % 4 + 1).cast("int"))
                          if c == "CLUB_STATUS" else F.col(c)).alias(c) for c in DOC_COLS])
        env = F.to_json(F.struct(
            F.struct(*DOC_COLS).alias("before"),
            F.when(op == "u", new).alias("after"),
            op.alias("op"),
            F.lit(m).cast("long").alias("ts_ms"),
            F.struct(F.lit("demo").alias("db"), F.lit("ratings_enriched").alias("table"))
            .alias("source")))
        path = os.path.join(work, f"changes-{m}")
        lakelog.read(spark, d["table"]).filter(h < 10).select(
            F.col("doc_id").cast("string").alias("key"), env.alias("value")).write.parquet(path)
        d["changes"].append(path)
        group = f"merge-{m}"
        t = time.perf_counter()
        with H.job_group(spark, group), tracer.span(
                "sources.lakelog.merge_apply_cdc", trace=f"build:{m}"):
            with tracer.span("sources.cdc.unwrap_envelope_cdc"):
                changes = cdc.unwrap_envelope_cdc(spark.read.parquet(path), schema, ["doc_id"])
            v = lakelog.merge_apply_cdc(spark, d["table"], changes, ["doc_id"], "_ts_ms",
                                        txn=(APP_ID, m))
        d["merges"].append((v, (time.perf_counter() - t) * 1000, *H.job_counts(spark, group)))
    return d


def _verify_table(spark, d: dict) -> tuple[str, bool]:
    """The doc table equals the load plus every change envelope, reduced
    to the latest per doc_id with deletes removed — computed with plain
    Spark SQL over the staged files."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    env = T.StructType([
        T.StructField("before", T._parse_datatype_string(DOC_DDL)),
        T.StructField("after", T._parse_datatype_string(DOC_DDL)),
        T.StructField("op", T.StringType()), T.StructField("ts_ms", T.LongType())])
    log = spark.read.parquet(d["load"]).withColumn("_op", F.lit("r"))
    for path in d["changes"]:
        e = spark.read.parquet(path).select(F.from_json("value", env).alias("e"))
        log = log.unionByName(e.select(
            F.coalesce("e.after.doc_id", "e.before.doc_id").alias("doc_id"),
            *[F.col(f"e.after.{c}").alias(c) for c in DOC_COLS[1:]],
            F.col("e.ts_ms").alias("_ts_ms"), F.col("e.op").alias("_op")))
    w = Window.partitionBy("doc_id").orderBy(F.col("_ts_ms").desc())
    want = (log.withColumn("_r", F.row_number().over(w)).filter("_r = 1 AND _op != 'd'")
            .drop("_r", "_op"))
    got = lakelog.read(spark, d["table"])
    diff = got.exceptAll(want.select(*got.columns)).count() + \
        want.select(*got.columns).exceptAll(got).count()
    return f"doc table == latest-per-key of load + {len(d['changes'])} change batches", diff == 0


def _requests(ksql_name: str, ksql_after: str) -> dict:
    """The six request kinds: (server, body)."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import search_serve as serve

    spec = {k: serve.kibana_vis_aggs(VIS[k], FIELD_MAP, fixed_interval=INTERVAL)
            for k in VIS}
    assert spec["count"] is None  # a bare count panel reads hits.total
    return {
        "count": ("unhappy", {"aggs": {"n": {"value_count": {"field": "doc_id"}}}}),
        "median_by_status": ("enriched", {"aggs": spec["median_by_status"]}),
        "by_channel": ("enriched", {"aggs": spec["by_channel"]}),
        "by_person": ("enriched", {"aggs": spec["by_person"]}),
        "saved_search": ("unhappy", SAVED_SEARCH),
        "ksql_pull": ("ksql", {"ksql": (
            "SELECT TIMESTAMPTOSTRING(WINDOWSTART, 'yyyy-MM-dd HH:mm:ss') AS WINDOW_START_TS,"
            " FULL_NAME, RATINGS_COUNT FROM RATINGS_PER_CUSTOMER_PER_15MINUTE"
            f" WHERE FULL_NAME='{ksql_name}' AND WINDOWSTART > '{ksql_after}'"
            " EMIT CHANGES;")}),
    }


KINDS = ("count", "median_by_status", "by_channel", "by_person", "saved_search", "ksql_pull")


def run(spark, work: str, seed: int, seconds: float, tracer, traced: bool) -> dict:
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.extensions.search_rest import (
        SearchRestServer,
    )
    from kafka_cdc_elasticsearch_pipeline_spark.ksql import KsqlEngine
    from kafka_cdc_elasticsearch_pipeline_spark.ksql.rest import KsqlRestServer
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    # built once: at ~15 s the build is most of the run's set-up
    t = time.perf_counter()
    with tracer.span("gen.stage", trace="setup"):
        d = _build(spark, os.path.join(work, "stage"), seed, tracer)
    stage_s = [time.perf_counter() - t]

    t_mount = time.perf_counter()
    docs = lakelog.read(spark, d["table"]).drop("_ts_ms")
    unhappy = docs.filter((F.col("STARS") < 3) & (F.col("CLUB_STATUS") == "platinum"))
    ratings = spark.read.parquet(d["ratings"]).withColumn(
        "rowtime", F.timestamp_millis("rating_time"))
    customers = (spark.read.parquet(d["customers"])
                 .withColumn("kafka_key", F.col("id").cast("string"))
                 .withColumn("kafka_offset", F.col("op_seq"))
                 .withColumn("rowtime", F.col("update_ts")))
    engine = KsqlEngine(spark, {"ratings": ratings, "asgard.demo.CUSTOMERS": customers})
    servers = {
        "enriched": SearchRestServer(spark, doc_source=docs).start(),
        "unhappy": SearchRestServer(spark, doc_source=unhappy).start(),
        "ksql": KsqlRestServer(engine).start(),
    }
    try:
        t = time.perf_counter()
        with tracer.span("ksql.rest.script", trace="setup"):
            status, body = _post(servers["ksql"].url + "/ksql", {"ksql": KSQL_SCRIPT})
        script_ms = (time.perf_counter() - t) * 1000
        if status != 200:
            raise RuntimeError(f"ksql script failed: {body[:300]!r}")
        hot = docs.groupBy("FULL_NAME").count().orderBy(F.desc("count"), "FULL_NAME").first()[0]
        # windows after the first half hour of event time
        after = datetime.datetime.fromtimestamp(
            gen.EVENT_T0_MS / 1000 + 1800, datetime.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%S.000")
        reqs = _requests(hot, after)
        urls = {k: servers[srv].url + ("/query" if srv == "ksql" else "/search")
                for k, (srv, _) in reqs.items()}

        # warm-up + first-response correctness, one of each kind
        t_answers = time.perf_counter()
        want = _direct_answers(spark, d, hot, after)
        t_first = time.perf_counter()
        checks = []
        for kind in KINDS:
            status, body = _post(urls[kind], reqs[kind][1])
            ok = status == 200 and _matches(kind, body, want[kind], reqs[kind][1])
            checks.append((f"{kind}: first response == direct Spark answer", ok))
        mount_s = time.perf_counter() - t_mount

        samples: list[tuple[str, float, float, int, int]] = []
        lock = threading.Lock()
        t0 = time.perf_counter()
        stop_at = t0 + seconds

        def client(c: int) -> None:
            n = c * len(KINDS) // CLIENTS
            while time.perf_counter() < stop_at:
                kind = KINDS[n % len(KINDS)]
                n += 1
                name = ("ksql.rest.pull" if kind == "ksql_pull"
                        else f"extensions.search_rest.{kind}")
                with tracer.span(name, trace=f"c{c}:{n}"):
                    a = time.perf_counter()
                    status, body = _post(urls[kind], reqs[kind][1])
                    b = time.perf_counter()
                with lock:
                    samples.append((kind, a, b, status, len(body)))

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(seconds + 300)
        t_end = max(b for _, _, b, _, _ in samples)
        layers = _layers(spark, servers, reqs, urls, engine, samples, d, tracer) \
            if traced else None
    finally:
        for s in servers.values():
            s.stop()
    t_verify = time.perf_counter()
    checks.append(_verify_table(spark, d))
    phase_s = {"build": stage_s, "mount": t_answers - t_mount,
               "direct_answers": t_first - t_answers, "first_requests": t0 - t_first,
               "measure": t_end - t0, "verify": time.perf_counter() - t_verify}

    ms = [(b - a) * 1000 for _, a, b, _, _ in samples]
    per_kind = {k: H.p50((b - a) * 1000 for kk, a, b, _, _ in samples if kk == k)
                for k in KINDS}
    bad = sum(1 for s in samples if s[3] != 200)
    n_fail_checks = sum(1 for _, ok in checks if not ok)
    try:
        tail_v, tail_p, tail_n = H.tail(ms)
    except ValueError:   # a slow run: too few requests for any tail
        tail_v, tail_p, tail_n = max(ms), 100.0, len(ms)
    out = {
        "sizes": {**SIZES, "docs": docs.count()},
        "attempted": len(samples) + len(checks), "failed": bad + n_fail_checks,
        "correct": bad == 0 and n_fail_checks == 0,
        "checks": checks + [(f"{len(samples)} requests answered 200", bad == 0)],
        "setup": {"stage_s": stage_s, "warmup_s": mount_s},
        "e2e": {
            # closed loop, no think time: Little's law gives the rate as
            # clients / mean response time (free of the count quantization
            # a short run has at its end); the mean is taken over the kinds'
            # medians, so one stalled request does not set it
            "throughput_per_s": (CLIENTS * len(KINDS) / sum(per_kind.values()) * 1000,
                                 "1/s", "dash_rps"),
            # the median of the six kinds' medians: with a mix of fast and
            # slow kinds, the median request sits on a gap between them
            "latency_p50_ms": (H.p50(per_kind.values()), "ms", "dash_p50_ms"),
            # ~20 requests a run leave no percentile above the median with
            # ten samples beyond it; the slowest kind's median stands in
            "latency_tail_ms": (max(per_kind.values()), "ms", "dash_tail_ms"),
        },
        "notes": {"requests": len(ms),
                  "request_tail_ms": {"value": tail_v, "percentile": tail_p, "samples": tail_n},
                  "ksql_script_ms": script_ms, "phase_s": phase_s,
                  "per_kind_p50_ms": {k: round(v, 1) for k, v in per_kind.items()}},
    }
    if traced:
        layers["ksql.script_ms"] = script_ms
        out["layers"] = layers
    return out


def _direct_answers(spark, d: dict, hot: str, after: str) -> dict:
    """Each request kind's answer computed directly with Spark, over a
    cached copy of the doc table (the servers' mount stays uncached)."""
    from pyspark.sql import functions as F

    from kafka_cdc_elasticsearch_pipeline_spark.plans.pipeline import ratings_pipeline
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    docs = lakelog.read(spark, d["table"]).drop("_ts_ms").cache()
    unhappy = docs.filter((F.col("STARS") < 3) & (F.col("CLUB_STATUS") == "platinum"))

    step = 30 * 60 * 1_000_000
    bucket = F.timestamp_micros(
        (F.floor(F.unix_micros("EXTRACT_TS") / F.lit(step)) * F.lit(step)).cast("bigint"))

    def key(ts) -> str:
        return ts.isoformat(timespec="milliseconds") + "Z"

    med = {(key(r["m"]), r["CLUB_STATUS"]): (r["n"], r["med"]) for r in docs.groupBy(
        bucket.alias("m"), "CLUB_STATUS").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("STARS", F.lit(0.5)).alias("med")).collect()}
    by_minute: dict = {}
    for r in docs.groupBy(bucket.alias("m"), "CHANNEL").count().collect():
        by_minute.setdefault(key(r["m"]), []).append((r["CHANNEL"], r["count"]))
    chan = {k: sorted(v, key=lambda kv: (-kv[1], kv[0]))[:5] for k, v in by_minute.items()}
    person = sorted(((r["FULL_NAME"], r["count"])
                     for r in docs.groupBy("FULL_NAME").count().collect()),
                    key=lambda kv: (-kv[1], kv[0]))[:5]
    listing = [r["doc_id"] for r in unhappy.orderBy(
        F.col("EXTRACT_TS").desc(), F.col("doc_id").asc()).limit(10).collect()]
    per_15 = ratings_pipeline(spark.read.parquet(d["ratings"]),
                              spark.read.parquet(d["customers"]))[
        "ratings_per_customer_per_15minute"]
    pull = sorted(
        (r["window_start"].strftime("%Y-%m-%d %H:%M:%S"), r["full_name"], r["ratings_count"])
        for r in per_15.filter((F.col("full_name") == hot)
                               & (F.col("window_start") > F.lit(after).cast("timestamp")))
        .collect())
    out = {"count": unhappy.count(), "median_by_status": med, "by_channel": chan,
           "by_person": person, "saved_search": listing, "ksql_pull": pull}
    docs.unpersist()
    return out


def _matches(kind: str, body: bytes, want, req: dict) -> bool:
    if kind == "ksql_pull":
        lines = [json.loads(x) for x in body.decode().strip().splitlines()]
        got = sorted(tuple(x["row"]["columns"]) for x in lines[1:])
        return got == [tuple(w) for w in want] and len(got) > 0
    out = json.loads(body)
    if kind == "count":
        return out["hits"]["total"] == want and out["aggregations"]["n"]["value"] == want
    if kind == "saved_search":
        return [h["_id"] for h in out["hits"]["hits"]] == want
    aggs = out["aggregations"]
    (outer,) = req["aggs"].keys()
    if kind == "by_person":
        return [(b["key"], b["doc_count"]) for b in aggs[outer]["buckets"]] == want
    (inner,) = req["aggs"][outer]["aggs"].keys()
    if kind == "by_channel":
        got = {dd["key_as_string"]: [(b["key"], b["doc_count"]) for b in dd[inner]["buckets"]]
               for dd in aggs[outer]["buckets"]}
        return got == want
    (med,) = req["aggs"][outer]["aggs"][inner]["aggs"].keys()
    got = {(dd["key_as_string"], b["key"]): (b["doc_count"], b[med]["values"]["50.0"])
           for dd in aggs[outer]["buckets"] for b in dd[inner]["buckets"]}
    return got == want


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _lakelog_layers(spark, d: dict, tracer) -> dict:
    """The write path's cost over the set-up's CDC merge commits, and one
    full read of the latest snapshot."""
    from kafka_cdc_elasticsearch_pipeline_spark.sources import lakelog

    table = d["table"]
    n_changes = sum(spark.read.parquet(p).count() for p in d["changes"])
    written_files = written_bytes = feed_rows = 0
    for v, _, _, _ in d["merges"]:
        m = lakelog.read_manifest(table, v)
        for rel in (m["data_dirs"][-1], m.get("change_dir")):
            if rel:
                f, b = _dir_stats(os.path.join(table, rel))
                written_files, written_bytes = written_files + f, written_bytes + b
        feed_rows += spark.read.parquet(os.path.join(table, m["change_dir"])).count()
    head = lakelog.read_manifest(table, lakelog.latest_version(table))
    snap_bytes = sum(_dir_stats(os.path.join(table, x))[1] for x in head["data_dirs"])
    with tracer.span("sources.lakelog.read", trace="read"):
        t = time.perf_counter()
        n_rows = lakelog.read(spark, table).count()
        read_ms = (time.perf_counter() - t) * 1000
    merge_ms = [ms for _, ms, _, _ in d["merges"]]
    n_commits = len(d["merges"])
    return {
        "lakelog.merge_ms_p50": H.p50(merge_ms),
        "lakelog.merge_ms_max": max(merge_ms),
        "lakelog.jobs_per_merge": H.p50(j for _, _, j, _ in d["merges"]),
        "lakelog.bytes_written_per_change": written_bytes / n_changes,
        # data files + change-feed files + the manifest
        "lakelog.files_written_per_commit": (written_files + n_commits) / n_commits,
        "lakelog.table_bytes_per_row": snap_bytes / max(n_rows, 1),
        "lakelog.dirs_per_snapshot": len(head["data_dirs"]),
        "lakelog.read_ms": read_ms,
        "lakelog.commit_conflicts": 0,
        "cdc.changes": n_changes,
        "cdc.effective_ratio": feed_rows / n_changes,
    }


def _layers(spark, servers, reqs, urls, engine, samples, d, tracer) -> dict:
    """In-process calls beside HTTP ones, one kind at a time."""
    out: dict = _lakelog_layers(spark, d, tracer)
    for kind in KINDS:
        out[f"dash.{kind}.ms_p50"] = H.p50(
            (b - a) * 1000 for k, a, b, _, _ in samples if k == kind)
    call_ms, overhead, jobs, tasks, sizes = [], [], [], [], []
    for kind in KINDS[:-1]:
        srv, body = reqs[kind]
        for rep in range(2):
            a = time.perf_counter()
            status, resp = _post(urls[kind], body)
            http_ms = (time.perf_counter() - a) * 1000
            group = f"search-{kind}-{rep}"
            with H.job_group(spark, group), tracer.span(
                    "extensions.search_serve.search", trace=group):
                a = time.perf_counter()
                servers[srv].search(body)
                ms = (time.perf_counter() - a) * 1000
            j, t = H.job_counts(spark, group)
            call_ms.append(ms)
            overhead.append(http_ms - ms)
            jobs.append(j)
            tasks.append(t)
            sizes.append(len(resp))
    pulls = []
    for rep in range(2):
        group = f"pull-{rep}"
        with H.job_group(spark, group), tracer.span("ksql.translate.pull", trace=group):
            engine.execute(reqs["ksql_pull"][1]["ksql"].rstrip().rstrip(";")).collect()
        pulls.append(H.job_counts(spark, group)[0])
    out.update({
        "search_serve.call_ms_p50": H.p50(call_ms),
        "search_rest.overhead_ms_p50": H.p50(overhead),
        "search_serve.jobs_per_request": H.p50(jobs),
        "search_serve.tasks_per_request": H.p50(tasks),
        "search_serve.response_bytes_p50": H.p50(sizes),
        "ksql.pull_ms_p50": out["dash.ksql_pull.ms_p50"],
        "ksql.jobs_per_pull": H.p50(pulls),
    })
    return out
