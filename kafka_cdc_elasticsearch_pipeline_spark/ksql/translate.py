"""ksqlDB-dialect statement translator: run reference-style ``.sql``
scripts (the grammar of ksqldb-statements.sql) against the engine.

A user of the reference pipeline writes ksqlDB statements; this module
lets them bring that script to Spark unchanged. Scope is the statement
grammar the reference exercises (SURVEY §2) — a deliberate subset, not
a full SQL frontend:

- ``SET '<prop>' = '<value>';`` (R2 — recorded, applied to sources)
- ``CREATE STREAM name [(coldefs)] WITH (KAFKA_TOPIC='t', ...);``
- ``CREATE TABLE name (key TYPE PRIMARY KEY, ...) WITH (...);``
  (→ latest-per-key reduce, S2/A3)
- ``CREATE STREAM|TABLE name [WITH (...)] AS SELECT ...
  [LEFT JOIN ... ON ...] [WHERE ...]
  [WINDOW TUMBLING (SIZE n MINUTE)] [GROUP BY ...]
  [PARTITION BY col] [EMIT CHANGES];``
- transient ``SELECT ... [EMIT CHANGES] [LIMIT n];`` (push/pull)

Dialect translation applied to every SELECT:
- ``LCASE(x)`` → ``lower(x)``; ``UCASE`` → ``upper``
- string ``+`` concatenation → ``||`` (detected via adjacent string
  literals — the ksqlDB idiom ``A + ' ' + B``)
- ``CAST(x AS VARCHAR)`` → ``CAST(x AS STRING)``
- ``TIMESTAMPTOSTRING(e, 'fmt')`` → ``date_format(to_timestamp(e /
  1000.0), 'fmt')`` (epoch-millis → formatted, F5)
- ``WINDOW TUMBLING (SIZE n M)`` → ``window(ROWTIME, 'n minutes')``
  group key; ``WINDOWSTART`` exposed as the window start (T3/T4)
- ``EMIT CHANGES`` stripped (batch mode evaluates the current state;
  the streaming twins live in ``streaming/``)

Execution model: BATCH over caller-provided source DataFrames (one per
Kafka topic, decoded, carrying an event-time ``ROWTIME`` column and
optionally ``KAFKA_KEY``/``KAFKA_OFFSET`` metadata). Every derived
relation registers as a temp view, so statements compose exactly like
ksqlDB's catalog. ``SELECT *`` expands to data columns (metadata
columns stay hidden, matching ksqlDB). A TABLE holds state: its plan
(the latest-per-key reduce of ``CREATE TABLE … PRIMARY KEY``, or the
query of ``CREATE TABLE … AS SELECT``) runs once at CREATE and the
relation reads the stored result (``operators.caching.materialize``),
the way ksqlDB's pull queries read a state store — a pull is a filter
over that state and reads no source. STREAMs stay lazy plans.
``DROP`` and a re-CREATE of the same name free a TABLE's state; like
ksqlDB, neither applies to a relation that another one reads from.

Deviations (documented, deliberate): WINDOWSTART is a TIMESTAMP (not
epoch-ms BIGINT) — string predicates like ``WINDOWSTART > '2020-07-06
T15:30:00'`` still work via Spark's literal coercion; ``EMIT CHANGES``
semantics are the batch fixpoint; ``INSERT INTO`` a stream does not
reach a TABLE created from it earlier — the TABLE keeps the answer of
its CREATE, where ksqlDB's persistent query would fold the new rows in.
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_cdc_elasticsearch_pipeline_spark.operators import caching

META_COLS = ("rowtime", "kafka_key", "kafka_offset")

_TYPE_MAP = {
    "VARCHAR": "string",
    "STRING": "string",
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "BOOLEAN": "boolean",
}


def strip_comments(script: str) -> str:
    """Remove ``--`` line comments, quote-aware: a ``--`` inside a
    single-quoted literal (e.g. a connector ``connection.url`` value)
    is data, not a comment."""
    out, in_q, i, n = [], False, 0, len(script)
    while i < n:
        ch = script[i]
        if ch == "'":
            in_q = not in_q
            out.append(ch)
            i += 1
        elif not in_q and ch == "-" and script[i : i + 2] == "--":
            while i < n and script[i] != "\n":
                i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def split_statements(script: str) -> list[str]:
    """Split on ';' outside quotes."""
    out, buf, in_q = [], [], False
    for ch in strip_comments(script):
        if ch == "'":
            in_q = not in_q
            buf.append(ch)
        elif ch == ";" and not in_q:
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def parse_with_props(stmt: str) -> dict[str, str]:
    """Parse a WITH (...) property map. Keys may be bare identifiers
    (``KAFKA_TOPIC='x'``) or quoted (connector syntax:
    ``'connector.class' = 'x'``)."""
    m = re.search(r"WITH\s*\(", stmt, re.IGNORECASE)
    if not m:
        return {}
    # quote-aware bracket matching: a ')' inside a quoted property
    # value (e.g. a URL with parens) must not terminate the body
    body_chars, depth, in_q = [], 1, False
    for ch in stmt[m.end():]:
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
        body_chars.append(ch)
    props = {}
    body = "".join(body_chars)
    for kv in re.finditer(r"'([^']+)'\s*=\s*'([^']*)'", body):
        props[kv.group(1).upper()] = kv.group(2)
    for kv in re.finditer(r"(?<!')\b(\w[\w.]*)\s*=\s*'([^']*)'", body):
        props.setdefault(kv.group(1).upper(), kv.group(2))
    for kv in re.finditer(r"(?<!')\b(\w[\w.]*)\s*=\s*(\d+)", body):
        props.setdefault(kv.group(1).upper(), kv.group(2))
    return props


def translate_expressions(sql: str) -> str:
    """Apply the ksqlDB→Spark dialect rewrites to a SELECT body."""
    out = re.sub(r"\bLCASE\s*\(", "lower(", sql, flags=re.IGNORECASE)
    out = re.sub(r"\bUCASE\s*\(", "upper(", out, flags=re.IGNORECASE)
    out = re.sub(r"\bAS\s+VARCHAR\b", "AS STRING", out, flags=re.IGNORECASE)
    # WINDOWSTART/ROWTIME are TIMESTAMP in this engine (ksql models them
    # as epoch-ms BIGINT): format directly, no epoch division
    out = re.sub(
        r"\bTIMESTAMPTOSTRING\s*\(\s*((?:\w+\.)?(?:WINDOWSTART|ROWTIME))\s*,\s*('[^']*')\s*\)",
        r"date_format(\1, \2)",
        out,
        flags=re.IGNORECASE,
    )
    out = re.sub(
        r"\bTIMESTAMPTOSTRING\s*\(\s*([^,]+?)\s*,\s*('[^']*')\s*\)",
        r"date_format(to_timestamp(\1 / 1000.0), \2)",
        out,
        flags=re.IGNORECASE,
    )
    # ksqlDB pull queries compare WINDOWSTART/ROWTIME against epoch-ms
    # BIGINT literals (reference readme.md:589-597); our engine models
    # them as TIMESTAMP, so bare 12+-digit literals become
    # timestamp_millis()
    out = re.sub(
        r"\b((?:\w+\.)?(?:WINDOWSTART|WINDOWEND|ROWTIME))\s*(>=|<=|<>|!=|>|<|=)\s*(\d{12,})\b",
        r"\1 \2 timestamp_millis(\3)",
        out,
        flags=re.IGNORECASE,
    )
    # string '+' concat: any '+' adjacent to a string literal becomes ||
    for _ in range(8):  # chains: A + ' ' + B + ...
        new = re.sub(r"\+(\s*'[^']*')", r"||\1", out)
        new = re.sub(r"('[^']*'\s*)\+", r"\1||", new)
        if new == out:
            break
        out = new
    return out


@dataclass
class Relation:
    name: str
    df: DataFrame
    kind: str  # "stream" | "table"
    key_col: str | None = None
    sink_topic: str | None = None
    data_cols: list[str] = field(default_factory=list)
    #: registered relations its plan reads (lower-case names)
    sources: tuple[str, ...] = ()


@dataclass
class Connector:
    name: str
    kind: str  # "source" | "sink"
    props: dict[str, str]


class KsqlEngine:
    """Execute a ksqlDB-dialect script against topic DataFrames.

    ``topics`` maps KAFKA_TOPIC name → decoded source DataFrame. Each
    source must carry ``rowtime`` (event time); ``kafka_key`` /
    ``kafka_offset`` are optional metadata (the offset is the
    last-write tiebreak for TABLE reduces, ≙ log position).
    """

    def __init__(self, spark: SparkSession, topics: dict[str, DataFrame]):
        self.spark = spark
        self.topics = topics
        self.relations: dict[str, Relation] = {}
        self.properties: dict[str, str] = {}
        self.connectors: dict[str, Connector] = {}
        # serializes catalog changes (the REST server is threaded)
        self._catalog_lock = threading.Lock()

    # -- public ----------------------------------------------------------

    def execute_script(self, script: str) -> list[DataFrame | None]:
        return [self.execute(s) for s in split_statements(script)]

    def execute(self, stmt: str) -> DataFrame | None:
        s = stmt.strip()
        u = s.upper()
        if u.startswith("SET "):
            m = re.match(r"SET\s+'([^']+)'\s*=\s*'([^']*)'", s, re.IGNORECASE)
            if m:
                self.properties[m.group(1)] = m.group(2)
            return None
        cm = re.match(r"CREATE\s+(SOURCE|SINK)\s+CONNECTOR\s+(\w+)", s, re.IGNORECASE)
        if cm:
            self.connectors[cm.group(2).lower()] = Connector(
                cm.group(2), cm.group(1).lower(), parse_with_props(s)
            )
            return None
        if re.match(r"CREATE\s+(STREAM|TABLE)\s+\w+\s+.*\bAS\s+SELECT\b", u, re.DOTALL):
            return self._create_as_select(s)
        if u.startswith(("CREATE STREAM", "CREATE TABLE")):
            return self._create_source(s)
        if u.startswith(("SHOW ", "DESCRIBE ")):
            return self._catalog(s)
        im = re.match(r"INSERT\s+INTO\s+(\w+)\s+(SELECT\b.*)$", s, re.IGNORECASE | re.DOTALL)
        if im:
            target = self.relations[im.group(1).lower()]
            if target.kind == "table":
                # ksqlDB only permits INSERT INTO streams; appending raw
                # rows to a table would break its latest-per-key invariant
                raise ValueError(
                    f"INSERT INTO a TABLE ({target.name}) is not allowed; "
                    "ksqlDB permits INSERT INTO streams only"
                )
            extra, _ = self._run_select(im.group(2), propagate_rowtime=True)
            merged = target.df.unionByName(
                extra.select(*target.df.columns), allowMissingColumns=False
            )
            with self._catalog_lock:
                self._register(
                    replace(
                        target, df=merged,
                        sources=target.sources + self._reads(im.group(2)),
                    )
                )
            return None
        dm = re.match(r"DROP\s+(STREAM|TABLE)\s+(?:IF\s+EXISTS\s+)?(\w+)", s, re.IGNORECASE)
        if dm:
            with self._catalog_lock:
                old = self._droppable(dm.group(2))
                if old is not None:
                    del self.relations[old.name.lower()]
                    self.spark.catalog.dropTempView(old.name)
                    self._free(old)
            return None
        if u.startswith("TERMINATE"):
            return None  # batch mode has no continuous queries to stop
        em = re.match(r"EXPLAIN\s+(.*)$", s, re.IGNORECASE | re.DOTALL)
        if em:
            df, _ = self._run_select(em.group(1))
            plan = df._jdf.queryExecution().toString()
            return self.spark.createDataFrame(
                [(line,) for line in plan.splitlines()], "plan string"
            )
        if u.startswith("SELECT"):
            return self._select(s)
        raise ValueError(f"unsupported statement: {s[:80]}...")

    def df(self, name: str) -> DataFrame:
        return self.relations[name.lower()].df

    def run_sink_connectors(self, transport=None) -> dict[str, int]:
        """Execute every registered Elasticsearch SINK connector in
        batch mode: each configured topic's relation bulk-indexes into
        ``connection.url`` through the engine's ES sink (S6/S7/S12
        semantics — doc ids from the relation key unless
        ``key.ignore=true``, DLQ-free 'none' tolerance raises).
        ``transport`` is injectable for tests. Returns the number of
        docs the ES bulk API acknowledged per topic (counted inside the
        sink job — not a separate count() re-execution, which would
        disagree under SMT current_timestamp or tolerance-dropped
        docs)."""
        from kafka_cdc_elasticsearch_pipeline_spark.sources.elasticsearch import (
            _http_transport,
            es_sink_foreach_batch,
        )

        indexed: dict[str, int] = {}
        for conn in self.connectors.values():
            cls = conn.props.get("CONNECTOR.CLASS", "")
            if conn.kind != "sink" or "Elasticsearch" not in cls:
                continue
            es_url = conn.props["CONNECTION.URL"].rstrip("/")
            key_ignore = conn.props.get("KEY.IGNORE", "false").lower() == "true"
            tolerance = conn.props.get("ERRORS.TOLERANCE", "none")
            for topic in conn.props.get("TOPICS", "").split(","):
                topic = topic.strip()
                if not topic:
                    continue
                rel = self._relation_for_topic(topic)
                if rel is None:
                    raise KeyError(f"sink connector {conn.name}: no relation "
                                   f"writes topic '{topic}'")
                df = self._apply_smts(rel.df, conn.props)
                # key.ignore=false -> doc id from the relation key, or
                # the raw Kafka message key when none is declared
                id_col = None
                if not key_ignore:
                    id_col = rel.key_col or (
                        "kafka_key" if "kafka_key" in rel.df.columns else None
                    )
                null_behavior = conn.props.get(
                    "BEHAVIOR.ON.NULL.VALUES", "ignore"
                ).lower()
                sink = es_sink_foreach_batch(
                    es_url,
                    topic.lower(),
                    id_col=id_col,
                    errors_tolerance=tolerance,
                    transport=transport or _http_transport,
                    null_value_behavior=null_behavior if id_col else "ignore",
                )
                indexed[topic] = sink(df, 0)
        return indexed

    @staticmethod
    def _apply_smts(df: DataFrame, props: dict[str, str]) -> DataFrame:
        """Connector SMT chain — the one the reference uses:
        InsertField$Value with a timestamp.field adds the wall-clock
        ingest time (S9, ksqldb-statements.sql:8-10,82-84)."""
        for t in props.get("TRANSFORMS", "").split(","):
            t = t.strip().upper()
            if not t:
                continue
            smt_type = props.get(f"TRANSFORMS.{t}.TYPE", "")
            if smt_type.endswith("InsertField$Value"):
                field = props.get(f"TRANSFORMS.{t}.TIMESTAMP.FIELD")
                if field:
                    df = df.withColumn(field, F.current_timestamp())
        return df

    def _relation_for_topic(self, topic: str) -> Relation | None:
        for rel in self.relations.values():
            if rel.sink_topic == topic or rel.name.lower() == topic.lower():
                return rel
        return None

    def _catalog(self, s: str) -> DataFrame:
        u = s.strip().upper()
        mk = self.spark.createDataFrame
        if u.startswith("SHOW STREAMS"):
            rows = [(r.name, r.sink_topic or "-") for r in self.relations.values()
                    if r.kind == "stream"]
            return mk(rows or [("", "")], "name string, topic string").filter("name <> ''")
        if u.startswith("SHOW TABLES"):
            rows = [(r.name, r.key_col or "-") for r in self.relations.values()
                    if r.kind == "table"]
            return mk(rows or [("", "")], "name string, key string").filter("name <> ''")
        if u.startswith("SHOW TOPICS"):
            return mk([(t,) for t in self.topics], "name string")
        if u.startswith("SHOW CONNECTORS"):
            rows = [(c.name, c.kind, c.props.get("CONNECTOR.CLASS", ""))
                    for c in self.connectors.values()]
            return mk(rows or [("", "", "")], "name string, type string, class string").filter("name <> ''")
        if u.startswith("SHOW PROPERTIES"):
            return mk(list(self.properties.items()) or [("", "")],
                      "property string, value string").filter("property <> ''")
        dm = re.match(r"DESCRIBE\s+(?:EXTENDED\s+)?(\w+)", s, re.IGNORECASE)
        if dm:
            rel = self.relations[dm.group(1).lower()]
            rows = [(f.name, f.dataType.simpleString(),
                     "KEY" if f.name == rel.key_col else "")
                    for f in rel.df.schema.fields]
            return mk(rows, "column string, type string, role string")
        raise ValueError(f"unsupported catalog statement: {s[:60]}")

    # -- statement handlers ---------------------------------------------

    def _register(self, rel: Relation) -> None:
        self.relations[rel.name.lower()] = rel
        rel.df.createOrReplaceTempView(rel.name)

    def _create(self, rel: Relation) -> None:
        """Register a CREATEd relation in place of any of the same name;
        a TABLE's plan runs here, once, and the relation reads its
        stored result."""
        with self._catalog_lock:
            old = self._droppable(rel.name, rel)
            if rel.kind == "table":
                rel.df = caching.materialize(rel.df)
            self._register(rel)
            if old is not None:
                self._free(old)

    def _droppable(self, name: str, new: Relation | None = None) -> Relation | None:
        """The relation registered as ``name``, if any, once checked free
        to go. As in ksqlDB, a relation that another one (or ``new``, the
        one replacing it) reads from stays: its readers would fail on
        freed state."""
        key = name.lower()
        rel = self.relations.get(key)
        readers = [r.name for r in (*self.relations.values(), new)
                   if r is not None and r is not rel and key in r.sources]
        if rel is not None and readers:
            raise ValueError(
                f"cannot drop {rel.name}: {', '.join(readers)} read from it"
            )
        return rel

    @staticmethod
    def _free(rel: Relation) -> None:
        """Free the stored state of an unregistered TABLE."""
        if rel.kind == "table":
            caching.release(rel.df)

    def _reads(self, select: str) -> tuple[str, ...]:
        """The registered relations a SELECT names after FROM or JOIN."""
        names = re.findall(r"\b(?:FROM|JOIN)\s+(\w+)", select, re.IGNORECASE)
        return tuple(n.lower() for n in names if n.lower() in self.relations)

    def _create_source(self, s: str) -> None:
        m = re.match(
            r"CREATE\s+(STREAM|TABLE)\s+(\w+)\s*(\(([^)]*)\))?\s*WITH",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE: {s[:80]}")
        kind, name, _, coldefs = m.group(1).lower(), m.group(2), m.group(3), m.group(4)
        props = parse_with_props(s)
        topic = props.get("KAFKA_TOPIC", name)
        if topic not in self.topics:
            raise KeyError(f"no source registered for topic '{topic}'")
        df = self.topics[topic]

        key_col = None
        if coldefs:
            for cd in coldefs.split(","):
                km = re.match(
                    r"\s*(\w+)\s+(\w+)\s+(PRIMARY\s+KEY|KEY)\s*$", cd, re.IGNORECASE
                )
                if km:
                    key_col, ktype = km.group(1), _TYPE_MAP.get(km.group(2).upper(), "string")
                    if key_col.lower() not in [c.lower() for c in df.columns]:
                        if "kafka_key" not in df.columns:
                            raise ValueError(
                                f"declared key {key_col} needs a kafka_key column"
                            )
                        df = df.withColumn(key_col, F.col("kafka_key").cast(ktype))

        if kind == "table":
            if key_col is None:
                raise ValueError("CREATE TABLE requires a PRIMARY KEY column")
            from kafka_cdc_elasticsearch_pipeline_spark.operators.table import (
                latest_per_key,
            )

            tiebreak = "kafka_offset" if "kafka_offset" in df.columns else None
            df = latest_per_key(df, [key_col], "rowtime", tiebreak=tiebreak)

        data_cols = [c for c in df.columns if c.lower() not in META_COLS]
        self._create(Relation(name, df, kind, key_col, None, data_cols))

    def _data_cols(self, name: str) -> list[str] | None:
        rel = self.relations.get(name.lower())
        return rel.data_cols if rel else None

    def _expand_star(self, select_body: str, from_name: str) -> str:
        body = select_body.strip()
        if body == "*":
            cols = self._data_cols(from_name)
            if cols:
                return ", ".join(cols)
        return body

    def _create_as_select(self, s: str) -> DataFrame:
        m = re.match(
            r"CREATE\s+(STREAM|TABLE)\s+(\w+)\s*(WITH\s*\([^)]*\))?\s*AS\s+(SELECT\b.*)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        kind, name, _, select = m.group(1).lower(), m.group(2), m.group(3), m.group(4)
        props = parse_with_props(s[: m.start(4)])
        # ksqlDB propagates ROWTIME implicitly through every CSAS; a
        # derived stream must keep its event time for downstream
        # windowed aggregations (the FROM side's ROWTIME, like ksqlDB).
        df, part_col = self._run_select(select, propagate_rowtime=(kind == "stream"))
        if part_col:
            df = df.repartition(F.col(part_col))
        rel = Relation(
            name,
            df,
            kind,
            key_col=part_col,
            sink_topic=props.get("KAFKA_TOPIC", name),
            data_cols=list(df.columns),
            sources=self._reads(select),
        )
        self._create(rel)
        return rel.df

    def _select(self, s: str) -> DataFrame:
        df, _ = self._run_select(s)
        return df

    # -- the SELECT core -------------------------------------------------

    def _run_select(
        self, select: str, propagate_rowtime: bool = False
    ) -> tuple[DataFrame, str | None]:
        text = select.strip()
        # strip EMIT CHANGES (batch mode = current state)
        text = re.sub(r"\bEMIT\s+CHANGES\b", "", text, flags=re.IGNORECASE)

        # PARTITION BY <col> (ksql re-key; becomes repartition + key)
        part_col = None
        pm = re.search(r"\bPARTITION\s+BY\s+(\w+)", text, re.IGNORECASE)
        if pm:
            part_col = pm.group(1)
            text = text[: pm.start()] + text[pm.end():]

        # stream-stream JOIN ... WITHIN n UNIT (symmetric time band, the
        # ksql event-correlation join): becomes an extra ROWTIME band on
        # the join condition (batch form of streaming/join.interval_join)
        jm = re.search(
            r"\bFROM\s+\w+\s+(\w+)\s+(?:INNER\s+|LEFT\s+(?:OUTER\s+)?)?JOIN\s+\w+\s+(\w+)"
            r"\s+WITHIN\s+(\d+)\s+(SECOND|MINUTE|HOUR)S?\s+ON\s+",
            text,
            re.IGNORECASE,
        )
        if jm:
            la, ra, n, unit = jm.group(1), jm.group(2), jm.group(3), jm.group(4)
            text = re.sub(
                r"\bWITHIN\s+\d+\s+(?:SECOND|MINUTE|HOUR)S?\s+ON\s+",
                "ON (",
                text,
                count=1,
                flags=re.IGNORECASE,
            )
            tail = re.search(
                r"\b(WHERE|GROUP\s+BY|EMIT|LIMIT|PARTITION)\b",
                text[jm.start():],
                re.IGNORECASE,
            )
            cut = jm.start() + tail.start() if tail else len(text)
            band = (
                f") AND {ra}.ROWTIME BETWEEN {la}.ROWTIME - INTERVAL {n} {unit}"
                f" AND {la}.ROWTIME + INTERVAL {n} {unit} "
            )
            text = text[:cut].rstrip() + band + text[cut:]

        # WINDOW TUMBLING / HOPPING / SESSION
        window_expr = None
        session = False
        wm = re.search(
            r"\bWINDOW\s+TUMBLING\s*\(\s*SIZE\s+(\d+)\s+(SECOND|MINUTE|HOUR)S?\s*\)",
            text,
            re.IGNORECASE,
        )
        if wm:
            n, unit = wm.group(1), wm.group(2).lower()
            window_expr = f"window(ROWTIME, '{n} {unit}s')"
            text = text[: wm.start()] + text[wm.end():]
        else:
            hm = re.search(
                r"\bWINDOW\s+HOPPING\s*\(\s*SIZE\s+(\d+)\s+(SECOND|MINUTE|HOUR)S?\s*,"
                r"\s*ADVANCE\s+BY\s+(\d+)\s+(SECOND|MINUTE|HOUR)S?\s*\)",
                text,
                re.IGNORECASE,
            )
            if hm:
                n, u1, a, u2 = hm.groups()
                window_expr = f"window(ROWTIME, '{n} {u1.lower()}s', '{a} {u2.lower()}s')"
                text = text[: hm.start()] + text[hm.end():]
            else:
                sm2 = re.search(
                    r"\bWINDOW\s+SESSION\s*\(\s*(\d+)\s+(SECOND|MINUTE|HOUR)S?\s*\)",
                    text,
                    re.IGNORECASE,
                )
                if sm2:
                    n, unit = sm2.group(1), sm2.group(2).lower()
                    window_expr = f"session_window(ROWTIME, '{n} {unit}s')"
                    session = True
                    text = text[: sm2.start()] + text[sm2.end():]

        # SELECT * expansion (hide metadata cols like ksqlDB does)
        sm = re.match(
            r"SELECT\s+(.*?)(\s+FROM\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?\b.*)$",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if sm:
            body = self._expand_star(sm.group(1), sm.group(3))
            has_group_by = re.search(r"\bGROUP\s+BY\b", text, re.IGNORECASE)
            if (
                propagate_rowtime
                and not has_group_by
                and not re.search(r"\browtime\b", body, re.IGNORECASE)
            ):
                alias = sm.group(4)
                # the optional FROM alias must not be a keyword match
                if alias and alias.upper() in ("LEFT", "JOIN", "WHERE", "GROUP", "LIMIT"):
                    alias = None
                src = alias or sm.group(3)
                body = f"{body}, {src}.ROWTIME AS rowtime"
            text = f"SELECT {body}{sm.group(2)}"

        if window_expr:
            # windowed aggregate: window key joins the GROUP BY; expose
            # WINDOWSTART (and WINDOWEND for sessions) like ksqlDB's
            # windowed-table schema
            gm = re.search(r"\bGROUP\s+BY\s+(.+)$", text, re.IGNORECASE | re.DOTALL)
            if not gm:
                raise ValueError("WINDOW clauses require GROUP BY")
            group_keys = gm.group(1).strip()
            text = (
                text[: gm.start()]
                + f"GROUP BY {window_expr}, {group_keys}"
            )
            wcol = "session_window" if session else "window"
            exposed = f"SELECT {wcol}.start AS WINDOWSTART, "
            if session:
                exposed += f"{wcol}.end AS WINDOWEND, "
            text = re.sub(
                r"^SELECT\s+",
                exposed,
                text,
                count=1,
                flags=re.IGNORECASE,
            )

        return self.spark.sql(translate_expressions(text)), part_col
