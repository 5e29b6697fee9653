"""ksqlDB TABLEs hold state: a TABLE's plan runs once at CREATE, and a
pull query is a filter over the stored result — no source scan, one
Spark job per stored partition through the REST ``/query`` path. Also
the REST status rule: the caller's fault is a 400, the server's a 500."""

from __future__ import annotations

import datetime
import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import Row

from kafka_cdc_elasticsearch_pipeline_spark.ksql import KsqlEngine
from kafka_cdc_elasticsearch_pipeline_spark.ksql.rest import KsqlRestServer

SCRIPT = """
CREATE STREAM REVIEWS WITH (KAFKA_TOPIC='reviews', VALUE_FORMAT='JSON');
CREATE TABLE MEMBERS (MEMBER_ID INT PRIMARY KEY)
  WITH (KAFKA_TOPIC='members', VALUE_FORMAT='JSON');
CREATE TABLE SCORES_15M AS SELECT MEMBER_ID, COUNT(*) AS N
  FROM REVIEWS WINDOW TUMBLING (SIZE 15 MINUTE)
  GROUP BY MEMBER_ID EMIT CHANGES;
"""

PULL = (
    "SELECT TIMESTAMPTOSTRING(WINDOWSTART, 'yyyy-MM-dd HH:mm:ss') AS WS,"
    " MEMBER_ID, N FROM SCORES_15M"
    " WHERE MEMBER_ID = 1 AND WINDOWSTART > '2021-03-01 09:30:00'"
)


def _post(url: str, payload: dict) -> tuple[int, bytes]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    """Parquet-backed topics, so a pull that recomputes shows a scan."""
    root = tmp_path_factory.mktemp("ksql_topics")
    spark.createDataFrame(
        [
            Row(
                review_id=i,
                member_id=i % 3,
                score=i % 5 + 1,
                rowtime=datetime.datetime(2021, 3, 1, 9, 0)
                + datetime.timedelta(minutes=7 * i),
            )
            for i in range(40)
        ]
    ).write.parquet(str(root / "reviews"))
    spark.createDataFrame(
        [
            Row(name=f"m{k}", kafka_key=str(k % 3), kafka_offset=k,
                rowtime=datetime.datetime(2021, 3, 1, 8, k))
            for k in range(6)
        ]
    ).write.parquet(str(root / "members"))
    engine = KsqlEngine(
        spark,
        {t: spark.read.parquet(str(root / t)) for t in ("reviews", "members")},
    )
    srv = KsqlRestServer(engine).start()
    status, body = _post(srv.url + "/ksql", {"ksql": SCRIPT})
    assert status == 200, body
    yield srv
    srv.stop()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pull_over_tables_scans_no_file(server):
    """The pull's executed plan reads the stored TABLE state: no
    parquet FileScan, neither for the CTAS aggregate nor for the
    latest-per-key reduce of a PRIMARY KEY table."""
    engine = server.engine
    for stmt in (PULL, "SELECT NAME FROM MEMBERS WHERE MEMBER_ID = 2"):
        plan = _executed(engine.execute(stmt))
        assert "FileScan" not in plan and "parquet" not in plan.lower(), plan
    assert engine.execute("SELECT NAME FROM MEMBERS WHERE MEMBER_ID = 2") \
        .collect()[0].NAME == "m5"  # the last write per key


def test_rest_pull_runs_one_job(server, spark, monkeypatch):
    """A /query pull against a small windowed TABLE runs exactly one
    Spark job (its stored state is one partition), counted under a job
    group set in the handler thread that serves the pull."""
    engine, group = server.engine, "ksql-pull-one-job"
    execute = engine.execute

    def grouped(stmt):
        spark.sparkContext.setJobGroup(group, group)
        return execute(stmt)

    monkeypatch.setattr(engine, "execute", grouped)
    status, body = _post(server.url + "/query", {"ksql": PULL + ";"})
    assert status == 200
    rows = [json.loads(x)["row"]["columns"]
            for x in body.decode().strip().splitlines()[1:]]
    assert rows and all(r[1] == 1 for r in rows)
    tracker = spark.sparkContext.statusTracker()
    assert len(tracker.getJobIdsForGroup(group)) == 1


def test_rest_status_rule(server, monkeypatch):
    """The caller's fault answers 400 (translator ValueError, Spark
    AnalysisException); any other failure answers 500 — both with the
    statement_error body."""
    status, body = _post(server.url + "/query",
                         {"ksql": "SELECT NO_SUCH_COLUMN FROM SCORES_15M"})
    assert status == 400
    assert json.loads(body)["@type"] == "statement_error"

    def boom(stmt):
        raise RuntimeError("state store unavailable")

    monkeypatch.setattr(server.engine, "execute", boom)
    for path, stmt in (("/query", PULL), ("/ksql", "DROP TABLE SCORES_15M;")):
        status, body = _post(server.url + path, {"ksql": stmt})
        assert status == 500, path
        err = json.loads(body)
        assert err == {"@type": "statement_error",
                       "message": "state store unavailable"}


def test_drop_refuses_a_relation_others_read(server):
    """As in ksqlDB, a relation another one reads from cannot be
    dropped: SCORES_15M reads REVIEWS."""
    status, body = _post(server.url + "/ksql", {"ksql": "DROP STREAM REVIEWS;"})
    assert status == 400
    assert "SCORES_15M" in json.loads(body)["message"]
    assert "reviews" in server.engine.relations


def test_insert_into_does_not_reach_an_earlier_table(spark):
    """INSERT INTO a stream leaves a TABLE created from it earlier at
    its CREATE answer (the table bound the stream's old plan before it
    held state, and holds it now)."""
    engine = KsqlEngine(spark, {"s": spark.createDataFrame(
        [("a", datetime.datetime(2021, 3, 1, 9, 0)),
         ("b", datetime.datetime(2021, 3, 1, 9, 1))],
        "k string, rowtime timestamp",
    )})
    engine.execute_script(
        "CREATE STREAM S WITH (KAFKA_TOPIC='s', VALUE_FORMAT='JSON');"
        "CREATE TABLE T AS SELECT K, COUNT(*) AS N FROM S GROUP BY K;"
        "INSERT INTO S SELECT * FROM S;"
    )
    assert engine.df("S").count() == 4
    assert {r.K: r.N for r in engine.df("T").collect()} == {"a": 1, "b": 1}
