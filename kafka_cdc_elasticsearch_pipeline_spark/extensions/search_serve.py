"""ES-style aggregations and sort-by-field for the ``/search`` face.

The reference pipeline's steady-state consumers are Kibana DASHBOARDS,
and a Kibana visualization is an Elasticsearch ``aggs`` body — count
metrics, ``median(STARS)`` by ``date_histogram`` × ``CLUB_STATUS``
terms, counts by ``date_histogram`` × ``CHANNEL`` terms, counts by
``FULL_NAME`` terms (the reference's saved objects,
docker-compose.yml:346-349) — and its saved search sorts hits by
``EXTRACT_TS`` desc (docker-compose.yml:344). This module gives the
REST face (``search_rest.py``) those two missing consumer surfaces:

- :func:`aggs_flat` compiles an ES ``aggs`` tree (one bucket chain —
  ``terms`` / ``date_histogram`` (plus ``auto_date_histogram``,
  resolved to a ladder rung by one min/max pass) / ``histogram`` /
  disjoint ``range``
  / ``date_range`` — with metrics at any level: avg/sum/min/max/value_count/
  percentiles/percentile_ranks/cardinality/stats/extended_stats;
  date_histogram/histogram take
  ``min_doc_count`` (0 = dense-timeline gap fill, the Kibana axis
  contract) and ``extended_bounds``) into ONE distributed plan: a single ``rollup`` pass over the
  matched documents (grouping sets = every prefix level in one
  shuffle, partial aggregation map-side), ``grouping_id`` to tell a
  rolled-up level from a genuinely-NULL key, and per-level ``terms``
  truncation as bucket-frame windows — never a per-level re-scan of
  the match set. The flat (depth, keys…, doc_count, metrics…) frame
  is the gate-row surface: a DuckDB ``GROUP BY ROLLUP`` rebuilds it
  exactly.
- :func:`aggs_nested` folds the flat frame into ES's ``aggregations``
  response envelope (``buckets``/``key``/``key_as_string``/
  ``doc_count``/``sum_other_doc_count``) driver-side — bucket-count
  work, capped at ES's own ``search.max_buckets`` default.
- :func:`sort_rank` ranks a serve by document metadata fields (ES
  ``sort``), composing with the absolute-rank ``from`` pagination:
  the rank window simply orders by the sort keys instead of the
  score; :func:`sorted_rank` joins the keys onto a scored serve first.
- ``top_hits`` (envelope-only): example documents per bucket — the
  Kibana data-table primitive — as ONE window pass over the matched
  docs, semi-joined to the post-truncation kept buckets first so
  truncated buckets cost nothing.
- :func:`composite_flat` / :func:`composite_nested` implement ES's
  ``composite`` agg — the SCALE path for bucket enumeration: pages of
  the bucket space in key order with an ``after_key`` cursor,
  compiled to groupBy → sargable lexicographic seek → ORDER BY +
  LIMIT (TakeOrderedAndProject), so a million-bucket space serves in
  ``size``-bounded pages instead of hitting the MAX_BUCKETS cap.

The REST face enters through two functions and nothing else:
:func:`validate_aggs` is the job-free door check of an ``aggs`` body
(single-bucket filter/missing layers unwrapped, ``auto_date_histogram``
in stub mode), and :func:`aggregate` picks the family — composite,
filters or the rollup tree — and returns the ``aggregations`` envelope
plus the tree's free match-set size.

Scale notes: the heavy lifting is the one ``rollup`` over the matched
set — shuffle on the bucket keys with map-side combine, exactly the
plan the green ``a4_*`` dashboard-agg rows run; everything after it
operates on the BUCKET frame (cardinality = Σ per-level buckets, not
documents). ``percentiles`` uses Spark's exact ``percentile``
(linear-interpolation, DuckDB ``quantile_cont``-identical) so the
oracle can hash it; at 100 TB swap in the sketch family
(``operators/sketches.py``'s GK quantiles, the ES-faithful
approximation) — the compiler keeps that a one-line substitution.

ES behavior references (all public): ``terms`` buckets order by
doc_count desc then key asc (or an explicit ``"order"`` —
``_key`` / ``_count`` / a metric sub-agg's name, which changes WHICH
top-N buckets survive truncation, not just display order) and
truncate to ``size`` PER PARENT with ``sum_other_doc_count`` for the
remainder; ``date_histogram`` keys are
bucket-start epoch millis plus ``key_as_string``; docs whose bucket
field is NULL land in no bucket (and therefore in no child bucket) but
still count in their parent's ``doc_count``; aggregations run over ALL
matching documents, never the paginated hit page.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: ES's search.max_buckets default — the bound on the driver-side
#: bucket collect (the flat frame is bucket-count-sized; a hostile
#: high-cardinality terms field must 400, not OOM the driver).
MAX_BUCKETS = 65_536

_BUCKET_TYPES = ("terms", "multi_terms", "date_histogram", "histogram",
                 "range", "date_range")
_METRIC_TYPES = (
    "avg", "sum", "min", "max", "value_count", "percentiles", "cardinality",
    "stats", "extended_stats", "percentile_ranks",
)

#: extended_stats flat-frame components, in column order. The
#: population/sampling variance split and the sigma bounds are
#: DERIVED driver-side in the envelope from these (variance is ES's
#: population variance: sum_of_squares/count − mean²).
_EXT_STATS_PARTS = (
    "count", "min", "max", "avg", "sum", "sum_of_squares",
    "variance", "std_deviation",
)
#: sibling pipeline aggs — computed driver-side over the RETURNED
#: bucket frame (ES's own semantics: pipelines run at reduce time
#: over the buckets the response carries), so they add zero
#: distributed work
_PIPELINE_TYPES = (
    "avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
    "stats_bucket", "extended_stats_bucket",
)

#: PARENT pipeline aggs — inside a bucket's ``aggs``, computed along
#: that bucket LIST (what TSVB/time-series panels send); the sibling
#: family above reduces over it instead. derivative/cumulative_sum/
#: moving_fn need an ORDERED (histogram) parent; bucket_script/
#: bucket_selector are per-bucket arithmetic and run under terms too.
_PARENT_PIPELINE_TYPES = (
    "derivative", "cumulative_sum", "moving_fn", "serial_diff",
    "bucket_script", "bucket_selector", "bucket_sort",
)
_ORDERED_PARENT_TYPES = (
    "derivative", "cumulative_sum", "moving_fn", "serial_diff",
)

#: the MovingFunctions builtins moving_fn scripts may call — each a
#: fold over the window's non-null values (ES's gap_policy skip).
#: Zero-arg fns take ``(values)``; the weighted family is parsed by
#: :func:`_parse_moving_script` (ewma takes an alpha literal, stdDev
#: the canonical nested-unweightedAvg spelling from ES's own docs).
#: linearWeightedAvg weights oldest→newest 1..n (ES: "points closer
#: to the end of the window are weighted more heavily"); ewma seeds
#: with the window's first value then folds
#: ``avg = v*alpha + avg*(1-alpha)`` (ES's documented recurrence).
#: holt/holtWinters are refused by name: their seeding/damping
#: details live in Lucene internals this engine does not pin —
#: refusing beats silently serving a near-miss series.
_MOVING_FNS = {
    "unweightedAvg": lambda vs: sum(vs) / len(vs),
    "sum": lambda vs: float(sum(vs)),
    "min": lambda vs: float(min(vs)),
    "max": lambda vs: float(max(vs)),
    "linearWeightedAvg": lambda vs: (
        sum((i + 1) * v for i, v in enumerate(vs))
        / (len(vs) * (len(vs) + 1) / 2)
    ),
}


def _moving_std_dev(vs: list) -> float:
    """ES ``MovingFunctions.stdDev(values, avg)`` with the canonical
    ``avg = unweightedAvg(values)``: population deviation around the
    window mean."""
    import math

    mean = sum(vs) / len(vs)
    return math.sqrt(sum((v - mean) ** 2 for v in vs) / len(vs))


def _parse_moving_script(name: str, script):
    """``moving_fn`` script → window fold. The served grammar is the
    MovingFunctions call shapes ES's own docs show:
    ``MovingFunctions.<fn>(values)`` for the zero-arg family,
    ``MovingFunctions.ewma(values, <alpha>)``, and
    ``MovingFunctions.stdDev(values,
    MovingFunctions.unweightedAvg(values))``. Anything else —
    arbitrary Painless, holt/holtWinters — is an explicit 400 naming
    what is served."""
    import re

    s = script.strip() if isinstance(script, str) else ""
    m = re.fullmatch(r"MovingFunctions\.(\w+)\(\s*values\s*\)", s)
    if m and m.group(1) in _MOVING_FNS:
        return _MOVING_FNS[m.group(1)]
    m = re.fullmatch(r"MovingFunctions\.(\w+)\(\s*values\s*,(.+)\)", s)
    fn = m.group(1) if m else None
    args = m.group(2) if m else None
    if fn == "ewma" and args is not None:
        try:
            alpha = float(args.strip())
        except ValueError:
            alpha = None
        if alpha is None or not (0.0 <= alpha <= 1.0):
            raise ValueError(
                f"pipeline agg {name!r}: ewma takes a numeric alpha "
                "in [0, 1] — MovingFunctions.ewma(values, 0.3)"
            )

        def ewma(vs: list, _a=alpha) -> float:
            avg = vs[0]
            for v in vs[1:]:
                avg = v * _a + avg * (1 - _a)
            return float(avg)

        return ewma
    if fn == "stdDev" and args is not None and re.fullmatch(
        r"\s*MovingFunctions\.unweightedAvg\(\s*values\s*\)\s*",
        args,
    ):
        return _moving_std_dev
    raise ValueError(
        f"pipeline agg {name!r}: moving_fn 'script' must be "
        "MovingFunctions.<fn>(values) with fn in "
        f"{sorted(_MOVING_FNS)}, MovingFunctions.ewma(values, "
        "<alpha>), or MovingFunctions.stdDev(values, "
        "MovingFunctions.unweightedAvg(values)) — holt/holtWinters "
        "seeding lives in Lucene internals this engine does not pin"
    )

#: calendar_interval → Spark/ISO date_trunc unit (the units a
#: dashboard uses). Weeks are ISO Monday-start in ES, Spark
#: date_trunc('week'), AND DuckDB date_trunc('week') — one shared
#: convention, pinned by the ext_search_aggs_dh_week_tz gate row
#: whose oracle crosses a year boundary (the ISO week-1 edge). Kibana's
#: auto-interval picks '1w' for any 1–3-month zoom, so this is a
#: day-one unit, not a corner.
_CALENDAR_UNITS = {
    "minute": "minute", "1m": "minute",
    "hour": "hour", "1h": "hour",
    "day": "day", "1d": "day",
    "week": "week", "1w": "week",
    "month": "month", "1M": "month",
    "quarter": "quarter", "1q": "quarter",
    "year": "year", "1y": "year",
}

_FIXED_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400}


def _fixed_interval_seconds(spec: str) -> int:
    """``"15m"`` / ``"4h"`` / ``"1d"`` → seconds (ES fixed_interval
    grammar, the units a dashboard uses)."""
    s = str(spec).strip()
    unit = s[-1:]
    if unit not in _FIXED_UNIT_SECONDS or not s[:-1].isdigit():
        raise ValueError(
            f"fixed_interval must look like '15m'/'4h'/'1d', got {spec!r}"
        )
    n = int(s[:-1])
    if n < 1:
        raise ValueError(f"fixed_interval must be positive, got {spec!r}")
    return n * _FIXED_UNIT_SECONDS[unit]


def _parse_time_zone(name: str, tz) -> str:
    """ES ``time_zone``: an IANA zone name (``America/New_York``) or a
    fixed ``±HH:MM`` offset — the two forms a live Kibana attaches to
    every browser-built date_histogram. Validated HERE (Python
    zoneinfo shares the JVM's IANA tzdata) so a bad zone is the
    caller's 400, not an AnalysisException 500 mid-plan; the returned
    string goes verbatim into from_utc_timestamp/to_utc_timestamp,
    which accept both forms."""
    import re

    if not isinstance(tz, str) or not tz:
        raise ValueError(
            f"date_histogram agg {name!r}: 'time_zone' must be an "
            "IANA zone name or a ±HH:MM offset string"
        )
    if re.fullmatch(r"[+-]\d{2}:\d{2}", tz):
        hh, mm = int(tz[1:3]), int(tz[4:6])
        # Java ZoneOffset caps at ±18:00 EXACTLY — +18:30 would sail
        # through an hh-only check and DateTimeException into the 500
        # taxonomy at plan time (review finding)
        if hh > 18 or mm > 59 or (hh == 18 and mm > 0):
            raise ValueError(
                f"date_histogram agg {name!r}: offset {tz!r} is out "
                "of range (±18:00 max)"
            )
        return tz
    import zoneinfo

    try:
        zoneinfo.ZoneInfo(tz)
    except (zoneinfo.ZoneInfoNotFoundError, ValueError, KeyError):
        raise ValueError(
            f"date_histogram agg {name!r}: unknown time_zone {tz!r} "
            "(IANA zone name or ±HH:MM offset)"
        ) from None
    return tz


import functools


@functools.lru_cache(maxsize=None)
def _zone_offsets(tz: str) -> frozenset:
    """The DISTINCT UTC offsets (seconds) an IANA zone uses over the
    1970–2038 era, probed every 3 days — cheap (≈8k datetime
    conversions, cached per zone) and sound for real tzdata: every
    DST regime and historical offset change persists for weeks, far
    wider than the probe step. Two soundness facts derive from it:

    - ``len == 1`` → the zone is TRANSITION-FREE (Asia/Kolkata and
      other constant-offset zones, all fixed-offset aliases):
      wall-space key arithmetic can never collapse or double a grid
      key, exactly like a literal ``±HH:MM`` offset — so it is
      wall-sound at ANY grid, fractional offset included.
    - all offsets CONGRUENT mod the grid → local grid boundaries sit
      on one fixed UTC shift r at every instant, so ≤1 h buckets
      serve as the UTC grid shifted by r (whole-hour zones → r = 0:
      America/*, Europe/*; Australia/Adelaide hourly → r = 30 min,
      ES's own :30-aligned set, DST steps included).

    Only a zone whose offsets have DIFFERING remainders mod the grid
    (Asia/Singapore's 1982 +07:30→+08:00, Asia/Kathmandu's 1986
    +05:30→+05:45) fails both — its alignment genuinely changed at a
    historical instant, and the caller must refuse (naming the
    modern fixed-offset remediation) rather than silently serve one
    alignment where ES serves two."""
    import datetime

    zi = _tzinfo(tz)
    utc = datetime.timezone.utc
    t = datetime.datetime(1970, 1, 1, tzinfo=utc)
    end = datetime.datetime(2038, 1, 1, tzinfo=utc)
    step = datetime.timedelta(days=3)
    offs = set()
    while t < end:
        offs.add(int(t.astimezone(zi).utcoffset().total_seconds()))
        t += step
    return frozenset(offs)


_OFFSET_UNIT_MS = {
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000,
}


def _parse_dh_offset(name: str, off) -> int:
    """ES date_histogram ``offset``: a signed duration (``"+6h"``,
    ``"-30m"``) that shifts every bucket's start — Kibana sends it
    for week-start preferences and "day starting at 06:00" panels.
    Returns the shift in MICROSECONDS; grammar is the ES
    date-histogram offset subset (±, integer, ms/s/m/h/d)."""
    import re

    if not isinstance(off, str):
        raise ValueError(
            f"date_histogram agg {name!r}: 'offset' must be a signed "
            "duration string like '+6h' or '-30m'"
        )
    m = re.fullmatch(r"([+-])(\d+)(ms|s|m|h|d)", off.strip())
    if m is None:
        raise ValueError(
            f"date_histogram agg {name!r}: offset {off!r} is not "
            "±<integer><ms|s|m|h|d>"
        )
    sign = 1 if m.group(1) == "+" else -1
    us = int(m.group(2)) * _OFFSET_UNIT_MS[m.group(3)] * 1000
    # magnitude cap (review finding): a well-formed but absurd offset
    # ('+200000000d') overflows int64 epoch-micros deep in plan
    # construction (or the spine's timedelta) — a 500, not the
    # caller-fixable 400 this module contracts. ES's own offsets are
    # sub-interval shifts; ±366d bounds every real panel (same
    # discipline as the ±18:00 time_zone cap).
    if us > 366 * 86_400_000_000:
        raise ValueError(
            f"date_histogram agg {name!r}: offset {off!r} exceeds "
            "±366d — ES offsets shift bucket starts by less than "
            "the interval, not by eras"
        )
    return sign * us


def _tzinfo(tz: str):
    """The validated time_zone string as a Python tzinfo — the
    driver-side twin of what from_utc_timestamp does JVM-side (same
    IANA tzdata; gap/overlap local times resolve to the pre-
    transition offset in both, so fabricated spine keys stay
    bit-identical to Spark-computed bucket keys)."""
    import datetime
    import re

    if re.fullmatch(r"[+-]\d{2}:\d{2}", tz):
        sign = 1 if tz[0] == "+" else -1
        return datetime.timezone(
            sign * datetime.timedelta(
                hours=int(tz[1:3]), minutes=int(tz[4:6])
            )
        )
    import zoneinfo

    return zoneinfo.ZoneInfo(tz)


def _utc_to_wall(dt, tz: str):
    """Naive-UTC instant → naive local wall-clock reading."""
    import datetime

    return dt.replace(tzinfo=datetime.timezone.utc).astimezone(
        _tzinfo(tz)
    ).replace(tzinfo=None)


def _wall_to_utc(dt, tz: str):
    """Naive local wall-clock reading → naive-UTC instant (fold=0:
    ambiguous readings take the earlier offset, skipped readings
    resolve past the gap — Java's ZonedDateTime rules, which
    to_utc_timestamp applies JVM-side)."""
    import datetime

    return dt.replace(tzinfo=_tzinfo(tz)).astimezone(
        datetime.timezone.utc
    ).replace(tzinfo=None)


#: java date-pattern token runs → strftime (the subset a dashboard's
#: ``format`` uses; anything else is a 400, not a silent mis-format)
_JAVA_FMT = {
    "yyyy": "%Y", "MM": "%m", "dd": "%d",
    "HH": "%H", "mm": "%M", "ss": "%S",
}


def _java_date_format(name: str, fmt) -> str:
    """ES ``format`` (a java DateTimeFormatter pattern like
    ``yyyy-MM-dd``) → the equivalent strftime string for the
    driver-side ``key_as_string`` rendering. Token runs must match
    the supported table exactly — a half-supported pattern silently
    serving a DIFFERENT string than ES would be worse than the
    400."""
    import re

    if not isinstance(fmt, str) or not fmt:
        raise ValueError(
            f"date_histogram agg {name!r}: 'format' must be a "
            "non-empty java date-pattern string"
        )
    out: list[str] = []
    for run in re.findall(r"[A-Za-z]+|[^A-Za-z]+", fmt):
        if run[0].isalpha():
            got = _JAVA_FMT.get(run)
            if got is None:
                raise ValueError(
                    f"date_histogram agg {name!r}: unsupported "
                    f"'format' token {run!r} (supported: "
                    f"{sorted(_JAVA_FMT)})"
                )
            out.append(got)
        else:
            if "%" in run:
                raise ValueError(
                    f"date_histogram agg {name!r}: literal '%' is "
                    "not supported in 'format'"
                )
            out.append(run)
    return "".join(out)


#: the body keys each bucket type serves — anything else is a 400, not
#: a silent ignore: a key this compiler does not implement (ES's
#: shard_size, missing, script, ...) swallowed quietly would serve
#: DIFFERENT results than ES for the same request (the same honesty
#: rule kibana_vis_aggs applies to unknown schemas)
_BUCKET_KEYS = {
    "terms": {
        "field", "size", "order", "missing", "min_doc_count",
        "other_bucket",
    },
    "date_histogram": {
        "field", "fixed_interval", "calendar_interval",
        "min_doc_count", "extended_bounds", "time_zone", "format",
        "offset",
    },
    "histogram": {"field", "interval", "min_doc_count", "extended_bounds",
                  "offset"},
    "multi_terms": {"terms", "size", "min_doc_count", "order"},
    "range": {"field", "ranges"},
    "date_range": {"field", "ranges"},
}


def _date_bound(name: str, v):
    """A date_range bound: epoch millis (what a Kibana request
    carries) or an ISO-8601 string → NAIVE UTC datetime (the session
    timezone is pinned UTC; a tz-suffixed bound — ES's 'Z' form —
    converts instead of crashing naive-vs-aware comparisons, and an
    out-of-range epoch is the caller's 400, not an OverflowError
    500)."""
    import datetime

    if isinstance(v, (int, float)) and not isinstance(v, bool):
        try:
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(
                milliseconds=int(v)
            )
        except (OverflowError, OSError) as exc:
            raise ValueError(
                f"date_range agg {name!r}: epoch-millis bound {v!r} "
                f"is out of range ({exc})"
            ) from None
    if isinstance(v, str):
        try:
            dt = datetime.datetime.fromisoformat(v)
        except ValueError:
            dt = None
        if dt is not None:
            if dt.tzinfo is not None:
                dt = dt.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            return dt
    raise ValueError(
        f"date_range agg {name!r}: bound {v!r} is neither epoch "
        "millis nor an ISO-8601 date string"
    )


def _lo_sort_key(r):
    """Sort ranges by their lower bound with an open bound first —
    without comparing None/−inf against datetimes (at most one open
    lower bound survives the disjointness check)."""
    return (r[0] is not None, r[0] if r[0] is not None else 0)


def _strict_keys(
    name: str, typ: str, body: dict, allowed: set[str]
) -> None:
    unknown = sorted(set(body) - allowed)
    if unknown:
        raise ValueError(
            f"agg {name!r} ({typ}): unsupported body keys {unknown} "
            f"(supported: {sorted(allowed)})"
        )


class _Bucket:
    """One parsed bucket level of the agg chain."""

    def __init__(self, name: str, typ: str, body: dict):
        if not isinstance(body, dict):
            raise ValueError(f"agg {name!r}: {typ} body must be an object")
        _strict_keys(name, typ, body, _BUCKET_KEYS[typ])
        self.name = name
        self.typ = typ
        # terms bucket order: WHICH top-N buckets survive `size`
        # truncation, not just display order. ES default: doc_count
        # desc, key asc. "order": {"_key"|"_count"|<metric>: dir}
        # switches it; a metric order key is resolved to its flat-
        # frame column by parse_aggs once the metrics are known.
        self.order_key = "_count"
        self.order_asc = False
        self.order_col: str | None = None
        # what the envelope serves for that metric on a bucket with no
        # values for its field (0 for a sum): the bucket orders on it
        self.order_empty: float | None = None
        # composite-only (parse_composite overrides): null keys form
        # an explicit first-ordered bucket instead of being dropped
        self.missing_bucket = False
        # terms-only ES 'missing' substitution value (None = ES
        # default: null-field docs land in no bucket)
        self.missing = None
        # terms-only Kibana other-bucket flag (parsed below)
        self.other_bucket = False
        # range/date_range bucket keys (custom 'key' or from-to label)
        self.labels: list[str] = []
        #: multi_terms-only: the compound key's source fields (ES's
        #: Lens multi-field split); ``field`` aliases the first so
        #: single-field plumbing stays uniform
        self.multi_fields: list[str] = []
        if typ == "multi_terms":
            terms = body.get("terms")
            if not isinstance(terms, list) or len(terms) < 2 or not all(
                isinstance(t, dict) for t in terms
            ):
                raise ValueError(
                    f"multi_terms agg {name!r}: 'terms' takes a list "
                    "of two or more {'field': ...} objects"
                )
            for t in terms:
                _strict_keys(name, "multi_terms term", t, {"field"})
                if not isinstance(t.get("field"), str):
                    raise ValueError(
                        f"multi_terms agg {name!r}: each term needs a "
                        "'field' string"
                    )
            self.multi_fields = [t["field"] for t in terms]
            self.field = self.multi_fields[0]
        else:
            self.field = body.get("field")
            if not isinstance(self.field, str):
                raise ValueError(f"agg {name!r} needs a 'field' string")
        self.size: int | None = None
        self.interval = None
        self.seconds: int | None = None
        self.calendar: str | None = None
        # date_histogram-only: ES time_zone (bucket at the caller's
        # LOCAL day/hour boundaries — membership changes, not just
        # labels) and format (key_as_string rendering). tz_wall =
        # whether the KEY arithmetic shifts into wall space (see the
        # parse below for the DST soundness rule); key_as_string
        # localizes whenever time_zone is set, either way.
        self.time_zone: str | None = None
        self.tz_wall = False
        self.fmt: str | None = None
        # date_histogram-only: ES 'offset' — every bucket start
        # shifted by a fixed signed duration (microseconds here);
        # applied in the SAME space the flooring runs in (wall space
        # under a wall-sound time_zone), ES's documented order
        self.offset_us = 0
        self.num_offset = 0.0
        #: set post-parse when the level was an auto_date_histogram —
        #: the envelope serves ES's chosen-``interval`` field
        self.auto_label: str | None = None
        self.ranges: list[tuple[float | None, float | None]] | None = None
        # dense-timeline knobs (date_histogram / histogram only):
        # min_doc_count=0 emits EMPTY buckets for interior gaps (the
        # Kibana timeline contract — a missing day must render as 0,
        # not vanish), extended_bounds stretches the filled range
        # beyond the data (epoch ms for dates)
        self.min_doc_count = 1
        self.bounds: tuple | None = None
        if typ in ("date_histogram", "histogram"):
            mdc = body.get("min_doc_count", 1)
            if isinstance(mdc, bool) or not isinstance(mdc, int) or mdc < 0:
                raise ValueError(
                    f"agg {name!r}: 'min_doc_count' must be an integer ≥ 0"
                )
            self.min_doc_count = mdc
            eb = body.get("extended_bounds")
            if eb is not None:
                if not isinstance(eb, dict) or not {"min", "max"} <= set(
                    eb
                ) or any(
                    isinstance(eb[k], bool)
                    or not isinstance(eb[k], (int, float))
                    for k in ("min", "max")
                ) or eb["min"] > eb["max"]:
                    raise ValueError(
                        f"agg {name!r}: 'extended_bounds' needs numeric "
                        "min ≤ max (epoch millis for date_histogram)"
                    )
                self.bounds = (eb["min"], eb["max"])
        if typ in ("range", "date_range"):
            ranges = body.get("ranges")
            if not isinstance(ranges, list) or not ranges:
                raise ValueError(
                    f"range agg {name!r}: 'ranges' must be a non-empty "
                    'list of {"from": ..., "to": ...} objects'
                )
            parsed = []
            labels: list[str] = []
            for r in ranges:
                if not isinstance(r, dict) or not (
                    "from" in r or "to" in r
                ):
                    raise ValueError(
                        f"range agg {name!r}: each range needs 'from' "
                        f"and/or 'to', got {r!r}"
                    )
                extra = sorted(set(r) - {"from", "to", "key"})
                if extra:
                    # same strict-keys honesty as the agg bodies: a
                    # swallowed per-range key would serve a different
                    # bucket key than ES
                    raise ValueError(
                        f"range agg {name!r}: unsupported range keys "
                        f"{extra} (supported: from, to, key)"
                    )
                custom = r.get("key")
                if custom is not None and not isinstance(custom, str):
                    raise ValueError(
                        f"range agg {name!r}: 'key' must be a string, "
                        f"got {custom!r}"
                    )
                lo, hi = r.get("from"), r.get("to")
                if typ == "date_range":
                    lo = None if lo is None else _date_bound(name, lo)
                    hi = None if hi is None else _date_bound(name, hi)
                else:
                    for v in (lo, hi):
                        if v is not None and (
                            isinstance(v, bool)
                            or not isinstance(v, (int, float))
                        ):
                            raise ValueError(
                                f"range agg {name!r}: bounds must be "
                                f"numbers, got {v!r}"
                            )
                    lo = None if lo is None else float(lo)
                    hi = None if hi is None else float(hi)
                if lo is not None and hi is not None and not lo < hi:
                    raise ValueError(
                        f"range agg {name!r}: 'from' must be < 'to' "
                        f"in {r!r}"
                    )
                parsed.append((lo, hi))
                # ES per-range 'key': a custom bucket key replacing
                # the from-to label
                labels.append(
                    custom if custom is not None
                    else self.range_label(lo, hi)
                )
            if len(set(labels)) != len(labels):
                raise ValueError(
                    f"range agg {name!r}: duplicate bucket keys "
                    f"{sorted(labels)} — give overlapping labels "
                    "distinct 'key' names"
                )
            # ES allows OVERLAPPING ranges (a doc lands in every
            # matching bucket) — that multiplies rows and would
            # corrupt the shared-rollup parent counts, so this
            # compiler requires disjoint ranges (the dashboard shape)
            # and says so instead of silently double-counting.
            by_lo = sorted(parsed, key=_lo_sort_key)
            for (lo1, hi1), (lo2, _hi2) in zip(by_lo, by_lo[1:]):
                if hi1 is None or lo2 is None or lo2 < hi1:
                    raise ValueError(
                        f"range agg {name!r}: ranges must be disjoint "
                        "(ES's overlapping-ranges semantics would "
                        "double-count docs in the shared rollup; send "
                        "overlapping ranges as separate requests)"
                    )
            self.ranges = parsed
            self.labels = labels
        elif typ in ("terms", "multi_terms"):
            size = body.get("size", 10)
            if isinstance(size, bool) or not isinstance(size, int) or size < 1:
                raise ValueError(
                    f"terms agg {name!r}: 'size' must be a positive integer"
                )
            self.size = size
            # Kibana's "group remaining as Other", served in ONE
            # request: truncated-away buckets merge into an explicit
            # '__other__' bucket (Kibana's own sentinel discipline —
            # the client relabels) carrying doc_count AND merged
            # metrics. ES itself has no terms other-bucket (Kibana
            # fires a second filters-agg request); serving it here
            # saves that second corpus pass.
            ob = body.get("other_bucket", False)
            if not isinstance(ob, bool):
                raise ValueError(
                    f"terms agg {name!r}: 'other_bucket' must be a "
                    "boolean"
                )
            self.other_bucket = ob
            # ES terms 'missing': docs with a null field take this
            # value as their key — they form/join that bucket (and its
            # children) instead of landing nowhere. The value must be
            # type-compatible with the field (ES rejects the mismatch
            # at mapping level; here Spark's coalesce coercion rules
            # apply).
            missing = body.get("missing")
            if missing is not None and not isinstance(
                missing, (str, int, float)
            ):
                raise ValueError(
                    f"terms agg {name!r}: 'missing' must be a scalar "
                    f"(string or number), got {missing!r}"
                )
            self.missing = missing
            # ES terms min_doc_count (≥ 1): buckets under the
            # threshold are pruned BEFORE size selection, exactly
            # ES's reduce order. 0 would need the index dictionary
            # (terms with zero matching docs) — rejected.
            mdc = body.get("min_doc_count", 1)
            if isinstance(mdc, bool) or not isinstance(mdc, int) or mdc < 1:
                raise ValueError(
                    f"terms agg {name!r}: 'min_doc_count' must be an "
                    "integer ≥ 1 (0 would need the full term "
                    "dictionary, which the match set does not carry)"
                )
            self.min_doc_count = mdc
            order = body.get("order")
            if order is not None:
                if not isinstance(order, dict) or len(order) != 1:
                    raise ValueError(
                        f"terms agg {name!r}: 'order' is one "
                        '{"_key"|"_count"|<metric name>: "asc"|"desc"} '
                        "object"
                    )
                (okey, odir), = order.items()
                if not isinstance(okey, str) or odir not in ("asc", "desc"):
                    raise ValueError(
                        f"terms agg {name!r}: 'order' direction must be "
                        f"'asc' or 'desc', got {{{okey!r}: {odir!r}}}"
                    )
                self.order_key = okey
                self.order_asc = odir == "asc"
        elif typ == "histogram":
            iv = body.get("interval")
            if not isinstance(iv, (int, float)) or isinstance(iv, bool) or iv <= 0:
                raise ValueError(
                    f"histogram agg {name!r}: 'interval' must be a positive number"
                )
            self.interval = float(iv)
            off = body.get("offset", 0)
            # ES numeric histogram 'offset': bucket start =
            # floor((v − off) / interval) · interval + off — ES's
            # own bound is 0 ≤ offset < interval
            if isinstance(off, bool) or not isinstance(
                off, (int, float)
            ) or not 0 <= off < self.interval:
                raise ValueError(
                    f"histogram agg {name!r}: 'offset' must be a "
                    "number in [0, interval)"
                )
            self.num_offset = float(off)
        else:  # date_histogram
            fixed = body.get("fixed_interval")
            cal = body.get("calendar_interval")
            if (fixed is None) == (cal is None):
                raise ValueError(
                    f"date_histogram agg {name!r}: exactly one of "
                    "'fixed_interval' / 'calendar_interval'"
                )
            if fixed is not None:
                self.seconds = _fixed_interval_seconds(fixed)
            else:
                if cal not in _CALENDAR_UNITS:
                    raise ValueError(
                        f"date_histogram agg {name!r}: unsupported "
                        f"calendar_interval {cal!r} "
                        f"(supported: {sorted(set(_CALENDAR_UNITS))})"
                    )
                self.calendar = _CALENDAR_UNITS[cal]
            tz = body.get("time_zone")
            tz_align_us = 0
            if tz is not None:
                import re

                # "UTC" (what some Kibana locales send) is the
                # engine's native frame — normalize to the no-shift
                # plan instead of wrapping every key in a pair of
                # identity timestamp conversions
                parsed = _parse_time_zone(name, tz)
                if parsed not in ("UTC", "+00:00", "-00:00"):
                    self.time_zone = parsed
                    # WALL-space key arithmetic is sound only when no
                    # two grid keys can collapse (or one data reading
                    # merge) across a DST transition: a fixed ±HH:MM
                    # offset never transitions, a TRANSITION-FREE
                    # IANA zone (constant utcoffset over the probed
                    # era — Asia/Kolkata, Asia/Kathmandu) behaves
                    # identically, and a grid coarser than the 1 h
                    # transition step keeps wall keys > 1 h apart
                    # (review finding: hourly NY buckets merged the
                    # repeated fall-back hour, and the spring-forward
                    # spine emitted one key twice). For ≤1 h grids
                    # under a TRANSITIONING zone the keys stay PLAIN
                    # UTC when every offset the zone uses is
                    # whole-hour — which IS ES's bucket set there
                    # (local hours start on UTC hours; key_as_string
                    # still localizes, the offset suffix keeping the
                    # repeated local hour's two buckets distinct). A
                    # transitioning zone needs the CONGRUENCE rule at
                    # ≤1 h grids (review finding: the r15 draft only
                    # recognized whole-hour offsets, misclassifying
                    # Asia/Kathmandu as transition-free and 400ing
                    # Australia/Adelaide — which IS servable): if
                    # every offset the zone ever uses is congruent
                    # mod the grid, local grid boundaries sit on ONE
                    # fixed UTC shift r at every instant, DST steps
                    # included (Adelaide +09:30/+10:30 hourly →
                    # r = 30 min, buckets at :30 — ES's own set; all
                    # whole-hour zones → r = 0, the plain-UTC rule as
                    # a special case) — served through the same grid-
                    # shift arithmetic as 'offset', injective, no
                    # collapse possible. Only when the remainders
                    # DIFFER (Asia/Singapore's 1982 +07:30→+08:00,
                    # Kathmandu's 1986 +05:30→+05:45) would sound
                    # serving need the per-instant offset across a
                    # historical step — refuse, naming the fixed-
                    # offset remediation a modern-data caller wants
                    # (the repo's refuse-rather-than-silently-diverge
                    # rule).
                    fixed = bool(re.fullmatch(r"[+-]\d{2}:\d{2}", parsed))
                    offs = None if fixed else _zone_offsets(parsed)
                    self.tz_wall = fixed or (
                        offs is not None and len(offs) == 1
                    ) or (
                        self.calendar is not None
                        and self.calendar not in ("minute", "hour")
                    ) or (
                        self.seconds is not None and self.seconds > 3600
                    )
                    if not self.tz_wall and offs is not None:
                        g = self.seconds or {
                            "minute": 60, "hour": 3600,
                        }[self.calendar]
                        rems = {o % g for o in offs}
                        if len(rems) > 1:
                            raise ValueError(
                                f"date_histogram agg {name!r}: "
                                f"time_zone {parsed!r} has used "
                                "differently-aligned UTC offsets over "
                                "1970–2038, so hourly/sub-hour "
                                "buckets would need per-instant wall "
                                "alignment across a historical "
                                "offset change this serve cannot "
                                "express soundly; pass the zone's "
                                "modern fixed offset (e.g. '+08:00' "
                                "for Asia/Singapore) or a grid "
                                "above 1h"
                            )
                        # applied after the user offset parses below
                        tz_align_us = rems.pop() * 1_000_000
            if "offset" in body:
                self.offset_us = _parse_dh_offset(name, body["offset"])
            # the congruent-zone alignment r composes with the user
            # offset as one grid shift: ES's bucket start is the
            # local floor plus the offset duration, and for a
            # non-wall zone a local shift IS the same UTC shift
            self.offset_us += tz_align_us
            if "format" in body:
                self.fmt = _java_date_format(name, body["format"])

    @staticmethod
    def range_label(lo, hi) -> str:
        """ES's range bucket key: ``"from-to"`` with ``*`` for an
        open bound (e.g. ``"10.0-20.0"``, ``"*-10.0"``; date_range
        bounds render in ES's default strict_date_optional_time form
        — explicit millis + 'Z', same as ``_key_json``)."""
        import datetime

        def s(v):
            if isinstance(v, datetime.datetime):
                return v.isoformat(sep="T", timespec="milliseconds") + "Z"
            return str(v)

        return (
            ("*" if lo is None else s(lo))
            + "-"
            + ("*" if hi is None else s(hi))
        )

    def key_col(self) -> Column:
        c = F.col(self.field)
        if self.typ == "multi_terms":
            # ES multi_terms: a doc missing ANY of the fields lands in
            # no bucket — the conditional struct goes NULL exactly
            # then, riding the same genuinely-NULL-key discipline
            # terms uses (no bucket, no children, still counted in the
            # parent's doc_count)
            cols = [F.col(f) for f in self.multi_fields]
            notnull = cols[0].isNotNull()
            for mc in cols[1:]:
                notnull = notnull & mc.isNotNull()
            return F.when(notnull, F.struct(*cols))
        if self.typ == "terms":
            if self.missing is not None:
                # ES 'missing': the substituted key is never null, so
                # the rollup's genuinely-null drop never fires for
                # this level — the doc behaves exactly as if it
                # carried the value (children included), like ES
                return F.coalesce(c, F.lit(self.missing))
            return c
        if self.typ in ("range", "date_range"):
            # [from, to) membership as a when-chain: ranges are
            # disjoint (validated), so each doc lands in ≤ 1 bucket;
            # docs outside every range get NULL = no bucket (ES);
            # date_range bounds are datetime literals on a timestamp
            # column; per-range custom 'key' labels ride along
            expr = F.lit(None).cast("string")
            for (lo, hi), label in reversed(
                list(zip(self.ranges, self.labels))
            ):
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (c >= F.lit(lo))
                if hi is not None:
                    cond = cond & (c < F.lit(hi))
                expr = F.when(cond, F.lit(label)).otherwise(expr)
            return expr
        if self.typ == "histogram":
            key = (
                F.floor((c - F.lit(self.num_offset)) / F.lit(self.interval))
                * F.lit(self.interval)
            )
            if self.num_offset:
                key = key + F.lit(self.num_offset)
            return key
        # ES time_zone: bucket at the caller's LOCAL boundaries —
        # render the instant as local wall time (from_utc_timestamp),
        # floor the wall reading, convert the local boundary back to
        # the UTC instant (to_utc_timestamp). This changes bucket
        # MEMBERSHIP (a 23:30 EST doc belongs to the local day, not
        # the UTC one), and the double shift keeps day/week/month
        # boundaries DST-correct: the key for a post-transition day
        # is its local midnight's actual UTC instant, not a fixed
        # offset. Same one-rollup plan — the shifts are expressions
        # inside the key column.
        if self.time_zone is not None and self.tz_wall:
            c = F.from_utc_timestamp(c, self.time_zone)
        if self.offset_us:
            # ES 'offset': shift the grid, not the data — bucket
            # start = floor(t − offset) + offset, evaluated in the
            # same (wall or UTC) space as the flooring. Still a key
            # EXPRESSION inside the one rollup.
            c = F.timestamp_micros(
                F.unix_micros(c) - F.lit(self.offset_us).cast("bigint")
            )
        if self.calendar is not None:
            key = F.date_trunc(self.calendar, c)
        else:
            # fixed_interval: epoch-anchored tumbling bucket start —
            # the same arithmetic as F.window(...).start / DuckDB
            # time_bucket (under a wall-sound time_zone: floored in
            # wall space, ES's local rounding; sub-hour/hourly grids
            # under an IANA zone stay plain UTC — tz_wall)
            us = F.lit(int(self.seconds) * 1_000_000).cast("bigint")
            key = F.timestamp_micros(
                F.floor(F.unix_micros(c) / us).cast("bigint") * us
            )
        if self.offset_us:
            key = F.timestamp_micros(
                F.unix_micros(key) + F.lit(self.offset_us).cast("bigint")
            )
        if self.time_zone is not None and self.tz_wall:
            key = F.to_utc_timestamp(key, self.time_zone)
        return key


class _Metric:
    """One parsed metric agg; ``columns`` lists its output columns
    (percentiles emit one per requested percent)."""

    def __init__(self, name: str, typ: str, body: dict):
        if not isinstance(body, dict):
            raise ValueError(f"agg {name!r}: {typ} body must be an object")
        _strict_keys(
            name, typ, body,
            {
                "percentiles": {"field", "percents"},
                "percentile_ranks": {"field", "values"},
                "extended_stats": {"field", "sigma"},
            }.get(typ, {"field"}),
        )
        self.name = name
        self.typ = typ
        self.field = body.get("field")
        self.sigma = 2.0
        self.values: list[float] = []
        if not isinstance(self.field, str):
            raise ValueError(f"agg {name!r} needs a 'field' string")
        if typ == "percentile_ranks":
            # exact empirical CDF — the percent of non-null field
            # values ≤ each requested value (Kibana's "Percentile
            # Rank" metric). ES interpolates through its TDigest
            # sketch; the same exact-vs-approximate divergence as
            # 'percentiles'/'cardinality', and the same 100 TB
            # substitution (operators/sketches.py).
            vals = body.get("values")
            if not isinstance(vals, list) or not vals or not all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in vals
            ):
                raise ValueError(
                    f"percentile_ranks agg {name!r}: 'values' must be "
                    "a non-empty list of numbers"
                )
            self.values = [float(v) for v in vals]
            if len(set(self.values)) != len(self.values):
                # [100, 100.0] coerces to one float — duplicate flat
                # columns would make the frame's by-name reads
                # ambiguous (review finding; percentiles shares the
                # guard)
                raise ValueError(
                    f"percentile_ranks agg {name!r}: 'values' must be "
                    "distinct"
                )
            self.percents = []
            self.columns = [
                f"{name}_{str(v).replace('.', '_')}" for v in self.values
            ]
        elif typ == "percentiles":
            pcts = body.get("percents", [50.0])
            if not isinstance(pcts, list) or not pcts or not all(
                isinstance(p, (int, float)) and not isinstance(p, bool)
                and 0 <= p <= 100 for p in pcts
            ):
                raise ValueError(
                    f"percentiles agg {name!r}: 'percents' must be a "
                    "non-empty list of numbers in [0, 100]"
                )
            self.percents = [float(p) for p in pcts]
            if len(set(self.percents)) != len(self.percents):
                raise ValueError(
                    f"percentiles agg {name!r}: 'percents' must be "
                    "distinct"
                )
            self.columns = [
                f"{name}_{str(p).replace('.', '_')}" for p in self.percents
            ]
        elif typ == "stats":
            # ES stats: count/min/max/avg/sum in one envelope — one
            # column per component in the flat frame
            self.percents = []
            self.columns = [f"{name}_{c}" for c in
                            ("count", "min", "max", "avg", "sum")]
        elif typ == "extended_stats":
            # ES extended_stats (Kibana's "Standard Deviation"
            # metric): the stats envelope plus sum_of_squares /
            # variance / std_deviation and the sigma bounds. The flat
            # frame carries the eight mergeable-or-derivable
            # components; population/sampling variants and the bounds
            # derive from them at envelope time. 'sigma' (default 2)
            # only shapes the bounds rendering.
            sg = body.get("sigma", 2.0)
            if isinstance(sg, bool) or not isinstance(
                sg, (int, float)
            ) or sg < 0:
                raise ValueError(
                    f"extended_stats agg {name!r}: 'sigma' must be a "
                    "non-negative number"
                )
            self.sigma = float(sg)
            self.percents = []
            self.columns = [f"{name}_{c}" for c in _EXT_STATS_PARTS]
        else:
            self.percents = []
            self.columns = [name]
        # hidden metrics ride the rollup for the __other__ bucket
        # merge (an avg's sum/count companions) but never reach the
        # envelope or the flat gate surface
        self.hidden = False

    def merge_exprs(self) -> dict[str, Column]:
        """Re-aggregate this metric ACROSS flat bucket rows — the
        ``__other__`` bucket merge, which must stay bucket-frame-
        sized (never a corpus re-scan): each flat column → its merge
        expression. Only metric states whose flat columns are
        mergeable qualify: sum/min/max/value_count directly, stats
        componentwise (avg = sum/count), avg via its hidden sum+count
        companions; parse_aggs 400s percentiles/cardinality under an
        other_bucket level."""
        if self.typ == "value_count":
            return {self.name: F.sum(self.name).cast("bigint")}
        if self.typ == "stats":
            cnt, mn, mx, avg, sm = self.columns
            return {
                cnt: F.sum(cnt).cast("bigint"),
                mn: F.min(mn),
                mx: F.max(mx),
                avg: F.sum(sm) / F.sum(cnt),
                sm: F.sum(sm),
            }
        if self.typ == "extended_stats":
            # count/sum/sum_of_squares merge additively; avg/variance/
            # std recompute from the merged sums — the same exact-
            # component arithmetic as exprs(), so a merged __other__
            # bucket serves the TRUE statistics, never stat-of-stats
            cnt, mn, mx, avg, sm, sos, var, std = self.columns
            mcnt, msm, msos = F.sum(cnt), F.sum(sm), F.sum(sos)
            mvar = F.when(
                mcnt > 0,
                F.greatest(
                    msos / mcnt - (msm / mcnt) * (msm / mcnt),
                    F.lit(0.0),
                ),
            )
            return {
                cnt: mcnt.cast("bigint"),
                mn: F.min(mn),
                mx: F.max(mx),
                avg: msm / mcnt,
                sm: msm,
                sos: msos,
                var: mvar,
                std: F.sqrt(mvar),
            }
        if self.typ == "avg":
            return {
                self.name: F.sum(f"{self.name}__obs")
                / F.sum(f"{self.name}__obn")
            }
        fn = {"sum": F.sum, "min": F.min, "max": F.max}[self.typ]
        return {self.name: fn(self.name)}

    def exprs(
        self, c: Column | None = None, prefix: str = ""
    ) -> list[Column]:
        """Aggregate expressions over ``c`` (default: the metric's
        field). The filters agg passes ``F.when(pred, field)`` so one
        pass computes every filter's metrics conditionally; ``prefix``
        namespaces the aliases per filter."""
        if c is None:
            c = F.col(self.field)
        if prefix:
            return [
                e.alias(prefix + col)
                for e, col in zip(self.exprs(c), self.columns)
            ]
        if self.typ == "percentiles":
            # exact linear-interpolation percentile — hash-identical to
            # DuckDB quantile_cont (ES's TDigest is approximate; the
            # sketch family is the 100 TB substitute, see module doc)
            return [
                F.percentile(c, F.lit(p / 100.0)).alias(col)
                for p, col in zip(self.percents, self.columns)
            ]
        if self.typ == "percentile_ranks":
            # exact empirical CDF: 100 · |{x ≤ v}| / |{x non-null}|.
            # Both counts are exact integers, so the one division is
            # the only float op — deterministic across partition
            # merge orders (unlike a double running sum); an empty
            # bucket divides by zero → null, rendered NaN-free.
            # the count guard doubles as the ANSI divide-by-zero
            # guard: an empty bucket serves null, never a 500
            n = F.count(c)
            return [
                F.when(
                    n > 0,
                    F.count(F.when(c <= F.lit(v), True)) * 100.0 / n,
                ).alias(col)
                for v, col in zip(self.values, self.columns)
            ]
        if self.typ == "value_count":
            return [F.count(c).cast("bigint").alias(self.name)]
        if self.typ == "stats":
            return [
                F.count(c).cast("bigint").alias(self.columns[0]),
                F.min(c).alias(self.columns[1]),
                F.max(c).alias(self.columns[2]),
                F.avg(c).alias(self.columns[3]),
                F.sum(c).alias(self.columns[4]),
            ]
        if self.typ == "extended_stats":
            # variance from the exact component sums (ES's own
            # accumulation: sum_of_squares/count − mean²), not
            # var_pop — var_pop's central-moment merge is partition-
            # order-sensitive in the last float bits, which would
            # break the oracle's repr-exact hash; greatest(·, 0)
            # guards the tiny negative cancellation residue so
            # sqrt never NaNs
            cnt, sm = F.count(c), F.sum(c)
            sos = F.sum(c * c)
            # the count guard matters: F.greatest SKIPS nulls, so an
            # empty bucket's null variance would silently become 0.0
            var = F.when(
                cnt > 0,
                F.greatest(
                    sos / cnt - (sm / cnt) * (sm / cnt), F.lit(0.0)
                ),
            )
            return [
                cnt.cast("bigint").alias(self.columns[0]),
                F.min(c).alias(self.columns[1]),
                F.max(c).alias(self.columns[2]),
                F.avg(c).alias(self.columns[3]),
                sm.alias(self.columns[4]),
                sos.alias(self.columns[5]),
                var.alias(self.columns[6]),
                F.sqrt(var).alias(self.columns[7]),
            ]
        if self.typ == "cardinality":
            # EXACT distinct (Kibana's "Unique Count"); ES
            # approximates with HLL — the sketch family
            # (operators/sketches.py HLL, error-bound-contracted) is
            # the 100 TB substitution when exactness stops paying
            return [F.countDistinct(c).cast("bigint").alias(self.name)]
        fn = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}[self.typ]
        return [fn(c).alias(self.name)]


def _compile_bucket_script(
    name: str, script, variables: set[str], boolean: bool
):
    """A bucket_script/bucket_selector ``script`` compiled to a safe
    evaluator over ``{var: float}`` — the arithmetic subset of ES's
    Painless a TSVB/table panel actually emits: numbers, the declared
    ``buckets_path`` variables (bare or ``params.``-prefixed, both
    Painless spellings), ``+ - * /`` and parentheses; selectors add
    comparisons and ``and``/``or``. Compiled by whitelisting the
    Python AST — never ``eval`` — so an unsupported construct is the
    caller's 400 naming it, not an execution of arbitrary text."""
    import ast

    if not isinstance(script, str) or not script.strip():
        raise ValueError(
            f"pipeline agg {name!r}: 'script' must be a non-empty "
            "arithmetic expression string"
        )
    try:
        tree = ast.parse(script.strip(), mode="eval")
    except SyntaxError as exc:
        raise ValueError(
            f"pipeline agg {name!r}: 'script' does not parse ({exc.msg})"
        ) from None

    _BIN = {ast.Add: lambda a, b: a + b, ast.Sub: lambda a, b: a - b,
            ast.Mult: lambda a, b: a * b, ast.Div: lambda a, b: a / b}
    _CMP = {ast.Lt: lambda a, b: a < b, ast.LtE: lambda a, b: a <= b,
            ast.Gt: lambda a, b: a > b, ast.GtE: lambda a, b: a >= b,
            ast.Eq: lambda a, b: a == b, ast.NotEq: lambda a, b: a != b}

    def refuse(node) -> ValueError:
        return ValueError(
            f"pipeline agg {name!r}: unsupported 'script' construct "
            f"{type(node).__name__} (served: numbers, buckets_path "
            "variables, + - * /"
            + (", comparisons, and/or" if boolean else "")
            + ")"
        )

    def var_of(node) -> str | None:
        if isinstance(node, ast.Name):
            return node.id
        if isinstance(node, ast.Attribute) and isinstance(
            node.value, ast.Name
        ) and node.value.id == "params":
            return node.attr
        return None

    def build(node):
        if isinstance(node, ast.Expression):
            return build(node.body)
        v = var_of(node)
        if v is not None:
            if v not in variables:
                raise ValueError(
                    f"pipeline agg {name!r}: script variable {v!r} is "
                    f"not in buckets_path (declared: {sorted(variables)})"
                )
            return lambda vals: vals[v]
        if isinstance(node, ast.Constant) and isinstance(
            node.value, (int, float)
        ) and not isinstance(node.value, bool):
            c = float(node.value)
            return lambda vals: c
        if isinstance(node, ast.UnaryOp) and isinstance(
            node.op, (ast.USub, ast.UAdd)
        ):
            inner = build(node.operand)
            neg = isinstance(node.op, ast.USub)
            return (lambda vals: -inner(vals)) if neg else inner
        if isinstance(node, ast.BinOp) and type(node.op) in _BIN:
            left, right = build(node.left), build(node.right)
            op = _BIN[type(node.op)]
            return lambda vals: op(left(vals), right(vals))
        if boolean and isinstance(node, ast.Compare) and len(
            node.ops
        ) == 1 and type(node.ops[0]) in _CMP:
            left, right = build(node.left), build(node.comparators[0])
            op = _CMP[type(node.ops[0])]
            return lambda vals: op(left(vals), right(vals))
        if boolean and isinstance(node, ast.BoolOp) and isinstance(
            node.op, (ast.And, ast.Or)
        ):
            parts = [build(x) for x in node.values]
            if isinstance(node.op, ast.And):
                return lambda vals: all(p(vals) for p in parts)
            return lambda vals: any(p(vals) for p in parts)
        raise refuse(node)

    return build(tree)


class _PipelineAgg:
    """A parsed pipeline agg. SIBLING family (``avg_bucket`` etc.):
    ``buckets_path`` names a sibling multi-bucket agg chain ending in
    a metric (``"by_day>med"``, dotted components for multi-valued
    metrics, ``_count`` for doc_count), reduced to ONE value. PARENT
    family (what TSVB/time-series panels send): declared INSIDE a
    bucket's ``aggs`` and computed ALONG that bucket list in its
    returned order — ``derivative`` / ``cumulative_sum`` /
    ``moving_fn`` walk a histogram/date_histogram series via a
    single-segment ``buckets_path`` (a same-level metric or
    ``_count``); ``bucket_script`` / ``bucket_selector`` evaluate a
    whitelisted-AST arithmetic ``script`` over a ``{var: path}``
    map per bucket (order-free, so terms parents qualify too), the
    selector dropping non-matching buckets from the RESPONSE after
    the series walkers saw the full list. ES computes all of these at
    reduce time over the RETURNED buckets — here: driver-side over
    the collected bucket frame, zero distributed work. ``gap_policy``
    skip (the default) is the only policy: null metric values (empty
    buckets) are skipped."""

    def __init__(self, name: str, typ: str, body: dict):
        if not isinstance(body, dict):
            raise ValueError(f"agg {name!r}: {typ} body must be an object")
        self.parent = typ in _PARENT_PIPELINE_TYPES
        self.name = name
        self.typ = typ
        #: script-family state (bucket_script / bucket_selector /
        #: moving_fn); unused by the single-path types
        self.script = None
        self.window: int | None = None
        self.shift = 0
        self.lag = 1
        self.fn = None
        self.var_paths: dict[str, str] = {}
        self.terminals: dict[str, tuple] = {}
        self.unit_ms: int | None = None
        path = body.get("buckets_path")
        if typ in ("bucket_script", "bucket_selector"):
            _strict_keys(
                name, typ, body, {"buckets_path", "script", "gap_policy"}
            )
            if not isinstance(path, dict) or not path or not all(
                isinstance(k, str) and k and isinstance(v, str) and v
                and ">" not in v
                for k, v in path.items()
            ):
                raise ValueError(
                    f"pipeline agg {name!r} ({typ}): 'buckets_path' is "
                    "a {var: same-level metric path} object (paths "
                    "like 'the_sum', 'st.avg', '_count')"
                )
            self.var_paths = dict(path)
            self.script = _compile_bucket_script(
                name, body.get("script"), set(path),
                boolean=typ == "bucket_selector",
            )
            self.segments = []
        elif typ == "bucket_sort":
            # ES bucket_sort: re-sort and/or page the PARENT's bucket
            # list at reduce time (the Kibana data-table primitive —
            # sorted, paged bucket tables in ONE request). Runs after
            # the series walkers and selectors saw the full list;
            # gap_policy skip drops buckets whose sort path is null
            # (ES's documented gap rule for this agg).
            _strict_keys(
                name, typ, body, {"sort", "from", "size", "gap_policy"}
            )
            frm = body.get("from", 0)
            if isinstance(frm, bool) or not isinstance(frm, int) \
                    or frm < 0:
                raise ValueError(
                    f"pipeline agg {name!r}: 'from' must be a "
                    "non-negative integer"
                )
            size = body.get("size")
            if size is not None and (
                isinstance(size, bool) or not isinstance(size, int)
                or size < 1
            ):
                raise ValueError(
                    f"pipeline agg {name!r}: 'size' must be a "
                    "positive integer"
                )
            self.sort_from, self.sort_size = frm, size
            sort = body.get("sort", [])
            if not isinstance(sort, list):
                raise ValueError(
                    f"pipeline agg {name!r}: 'sort' must be a list"
                )
            specs: list[tuple[str, bool]] = []
            for ent in sort:
                if isinstance(ent, str):
                    specs.append((ent, False))  # ES default: desc
                    continue
                if isinstance(ent, dict) and len(ent) == 1:
                    (pth, od), = ent.items()
                    if isinstance(od, dict):
                        _strict_keys(name, typ, od, {"order"})
                        od = od.get("order", "desc")
                    if od in ("asc", "desc") and isinstance(pth, str):
                        specs.append((pth, od == "asc"))
                        continue
                raise ValueError(
                    f"pipeline agg {name!r}: each sort entry is a "
                    "path string or {path: 'asc'|'desc'} / "
                    "{path: {'order': ...}}, got {ent!r}"
                )
            if not specs and size is None and frm == 0:
                raise ValueError(
                    f"pipeline agg {name!r}: bucket_sort needs "
                    "'sort' and/or 'from'/'size' — an empty body "
                    "would be a no-op"
                )
            self.sort_specs = specs
            self.sort_terminals: list[tuple[tuple, bool]] = []
            self.segments = []
        elif typ == "moving_fn":
            _strict_keys(
                name, typ, body,
                {"buckets_path", "script", "window", "shift", "gap_policy"},
            )
            if not isinstance(path, str) or not path or ">" in path:
                raise ValueError(
                    f"pipeline agg {name!r} (moving_fn): 'buckets_path' "
                    "names a sibling metric at the same level"
                )
            w = body.get("window")
            if isinstance(w, bool) or not isinstance(w, int) or w < 1:
                raise ValueError(
                    f"pipeline agg {name!r}: 'window' must be a "
                    "positive integer"
                )
            self.window = w
            shift = body.get("shift", 0)
            if isinstance(shift, bool) or not isinstance(shift, int):
                raise ValueError(
                    f"pipeline agg {name!r}: 'shift' must be an "
                    "integer (ES: 0 = the window ends BEFORE the "
                    "current bucket; +1 includes it)"
                )
            self.shift = shift
            self.fn = _parse_moving_script(name, body.get("script"))
            self.segments = [path]
        elif self.parent:
            _strict_keys(
                name, typ, body,
                {
                    "derivative": {"buckets_path", "gap_policy", "unit"},
                    "serial_diff": {"buckets_path", "gap_policy", "lag"},
                }.get(typ, {"buckets_path", "gap_policy"}),
            )
            if not isinstance(path, str) or not path or ">" in path:
                raise ValueError(
                    f"pipeline agg {name!r} ({typ}): 'buckets_path' "
                    "names a sibling metric at the same level "
                    "('the_sum', 'st.avg', or '_count') — parent "
                    "pipelines walk their OWN bucket list, not a "
                    "deeper chain"
                )
            self.segments = path.split(">")
            if typ == "serial_diff":
                # ES serial_diff 'lag': the distance back along the
                # VALUED series (gap_policy skip — null buckets never
                # enter the lag window, mirroring ES's EvictingQueue
                # of non-null values)
                lag = body.get("lag", 1)
                if isinstance(lag, bool) or not isinstance(
                    lag, int
                ) or lag < 1:
                    raise ValueError(
                        f"pipeline agg {name!r}: 'lag' must be a "
                        "positive integer"
                    )
                self.lag = lag
            if typ == "derivative" and "unit" in body:
                # ES derivative 'unit': serve normalized_value =
                # diff / (key spacing / unit) — the per-unit rate a
                # TSVB "per second/minute/hour" panel asks for. Only
                # meaningful over date keys; the fixed_interval
                # grammar is the unit grammar.
                self.unit_ms = (
                    _fixed_interval_seconds(body["unit"]) * 1000
                )
        else:
            _strict_keys(
                name, typ, body,
                {"buckets_path", "gap_policy", "sigma"}
                if typ == "extended_stats_bucket"
                else {"buckets_path", "gap_policy"},
            )
            self.sigma = 2.0
            if typ == "extended_stats_bucket":
                sg = body.get("sigma", 2.0)
                if isinstance(sg, bool) or not isinstance(
                    sg, (int, float)
                ) or sg < 0:
                    raise ValueError(
                        f"pipeline agg {name!r}: 'sigma' must be a "
                        "non-negative number"
                    )
                self.sigma = float(sg)
            if not isinstance(path, str) or ">" not in path:
                raise ValueError(
                    f"pipeline agg {name!r} needs a 'buckets_path' like "
                    "'bucket_agg>metric' (or '...>_count')"
                )
            self.segments = path.split(">")
        gap = body.get("gap_policy", "skip")
        if gap != "skip":
            raise ValueError(
                f"pipeline agg {name!r}: only gap_policy 'skip' is "
                f"served, got {gap!r}"
            )
        #: how to read the terminal value OFF THE ENVELOPE bucket —
        #: ("_count"|"value"|"stats"|"percentiles", agg name, part
        #: key); resolved by parse_aggs once chain and metrics are
        #: known. Envelope (not flat-frame) extraction is load-bearing:
        #: the response buckets are the flat rows MINUS min_doc_count
        #: pruning PLUS gap fill, and ES reduces pipelines over the
        #: final list (review finding).
        self.terminal: tuple[str, str | None, str | None] | None = None

    def extract(self, bucket: dict, terminal: tuple | None = None):
        kind, nm, part = terminal if terminal is not None else self.terminal
        if kind == "_count":
            return bucket.get("doc_count")
        node = bucket.get(nm)
        if node is None:
            return None
        if kind == "stats":
            return node.get(part)
        if kind == "percentiles":
            return node.get("values", {}).get(part)
        return node.get("value")

    def reduce(self, values: list) -> object:
        import decimal

        vals = [v for v in values if v is not None]  # gap_policy skip
        if not vals:
            # ES over zero buckets: sum_bucket 0.0, the rest null
            return 0.0 if self.typ == "sum_bucket" else None
        if self.typ in ("avg_bucket", "sum_bucket"):
            bad = next(
                (
                    v for v in vals
                    if isinstance(v, bool)
                    or not isinstance(v, (int, float, decimal.Decimal))
                ),
                None,
            )
            if bad is not None:
                # a date-typed metric under avg/sum would TypeError
                # mid-fold (500); name the fix instead
                raise ValueError(
                    f"pipeline agg {self.name!r}: {self.typ} needs "
                    "numeric bucket values, got "
                    f"{type(bad).__name__} — use min_bucket/"
                    "max_bucket for date metrics"
                )
            total = sum(vals)
            return total / len(vals) if self.typ == "avg_bucket" else total
        return min(vals) if self.typ == "min_bucket" else max(vals)

    def reduce_env(self, values: list) -> dict:
        """stats_bucket / extended_stats_bucket: the multi-component
        sibling reduces — exact arithmetic over the RETURNED bucket
        values (gap_policy skip), the same component-sum variance
        convention as the extended_stats metric, ES's empty contract
        (count 0 / sum 0.0 / the rest null)."""
        import math

        vals = [_pipe_num(self, v) for v in values if v is not None]
        n = len(vals)
        out: dict = {
            "count": n,
            "min": min(vals) if vals else None,
            "max": max(vals) if vals else None,
            "avg": sum(vals) / n if vals else None,
            "sum": float(sum(vals)),
        }
        if self.typ == "stats_bucket":
            return out
        sos = float(sum(v * v for v in vals))
        var = max(sos / n - (out["avg"]) ** 2, 0.0) if vals else None
        sd = math.sqrt(var) if var is not None else None
        var_samp = var * n / (n - 1) if var is not None and n > 1 else None
        sd_samp = math.sqrt(var_samp) if var_samp is not None else None
        avg, sg = out["avg"], self.sigma
        out.update({
            "sum_of_squares": sos if vals else 0.0,
            "variance": var,
            "variance_population": var,
            "variance_sampling": var_samp,
            "std_deviation": sd,
            "std_deviation_population": sd,
            "std_deviation_sampling": sd_samp,
            "std_deviation_bounds": {
                "upper": None if sd is None else avg + sg * sd,
                "lower": None if sd is None else avg - sg * sd,
                "upper_population": None if sd is None else avg + sg * sd,
                "lower_population": None if sd is None else avg - sg * sd,
                "upper_sampling": None if sd_samp is None
                else avg + sg * sd_samp,
                "lower_sampling": None if sd_samp is None
                else avg - sg * sd_samp,
            },
        })
        return out


def _pipe_num(p: _PipelineAgg, v) -> float:
    """A parent pipeline's bucket value as a float — the same
    numeric guard as the sibling reduce: a date-typed metric under
    derivative/cumulative_sum must 400 naming the fix, not TypeError
    mid-walk into the 500 taxonomy."""
    import decimal

    if isinstance(v, bool) or not isinstance(
        v, (int, float, decimal.Decimal)
    ):
        raise ValueError(
            f"pipeline agg {p.name!r}: {p.typ} needs numeric bucket "
            f"values, got {type(v).__name__}"
        )
    return float(v)


def _metric_column(
    level_metrics: list[_Metric], key: str, who: str
) -> str:
    """A metric reference (terms ``order`` key, pipeline
    ``buckets_path`` terminal) resolved to its flat-frame column. A
    multi-valued metric (stats / percentiles) is addressed by a
    dotted component path — ``"st.avg"``, ``"pct.50"`` — exactly the
    path ES accepts."""
    name, _, part = key.partition(".")
    m = next((m for m in level_metrics if m.name == name), None)
    if m is None:
        raise ValueError(
            f"{who}: {key!r} names no metric agg at that level"
        )
    if m.typ == "stats":
        if part not in ("count", "min", "max", "avg", "sum"):
            raise ValueError(
                f"{who}: stats {name!r} needs a component path like "
                f"'{name}.avg' (count/min/max/avg/sum)"
            )
        return f"{name}_{part}"
    if m.typ == "extended_stats":
        if part not in _EXT_STATS_PARTS:
            raise ValueError(
                f"{who}: extended_stats {name!r} needs a component "
                f"path like '{name}.std_deviation' "
                f"({'/'.join(_EXT_STATS_PARTS)})"
            )
        return f"{name}_{part}"
    if m.typ == "percentile_ranks":
        try:
            want = float(part)
        except ValueError:
            want = None
        for v, col in zip(m.values, m.columns):
            if want is not None and v == want:
                return col
        raise ValueError(
            f"{who}: percentile_ranks {name!r} needs a computed "
            f"value path like '{name}.{m.values[0]}' "
            f"(computed: {m.values})"
        )
    if m.typ == "percentiles":
        try:
            want = float(part)
        except ValueError:
            want = None
        for p, col in zip(m.percents, m.columns):
            if want is not None and p == want:
                return col
        raise ValueError(
            f"{who}: percentiles {name!r} needs a computed percent "
            f"path like '{name}.50' (computed: {m.percents})"
        )
    if part:
        raise ValueError(
            f"{who}: metric {name!r} is single-valued — reference "
            f"{name!r}, not {key!r}"
        )
    return m.name


def _empty_value(level_metrics: list[_Metric], key: str) -> float | None:
    """What the envelope serves for the resolved metric path ``key`` on
    a bucket whose field has no values: ES's arithmetic contract serves
    counts and sums as 0, every other statistic as null (None)."""
    name, _, part = key.partition(".")
    m = next(m for m in level_metrics if m.name == name)
    if m.typ in ("sum", "value_count", "cardinality") or (
        m.typ in ("stats", "extended_stats")
        and part in ("count", "sum", "sum_of_squares")
    ):
        return 0.0
    return None


def _resolve_order_metric(b: _Bucket, level_metrics: list[_Metric]) -> str:
    """A terms ``order`` key that names a metric resolves to that
    metric's flat-frame column. ES's contract: the metric must be a
    sub-agg OF the terms agg (same level)."""
    name = b.order_key.partition(".")[0]
    if not any(m.name == name for m in level_metrics):
        raise ValueError(
            f"terms agg {b.name!r}: order key {b.order_key!r} is not "
            "'_key'/'_count' or a metric sub-agg of this terms agg"
        )
    return _metric_column(level_metrics, b.order_key, f"terms agg {b.name!r}")


class _TopHits:
    """A parsed ``top_hits`` node: example documents per bucket (the
    Kibana data-table primitive). Envelope-only — it returns doc ROWS,
    not an aggregate, so it rides a window pass in
    :func:`aggs_nested`, never the hashable flat frame."""

    def __init__(self, name: str, body: dict, columns: list[str]):
        if not isinstance(body, dict):
            raise ValueError(f"top_hits agg {name!r} must be an object")
        _strict_keys(name, "top_hits", body, {"size", "sort", "_source"})
        self.name = name
        size = body.get("size", 3)
        if isinstance(size, bool) or not isinstance(size, int) or not (
            1 <= size <= 100
        ):
            raise ValueError(
                f"top_hits agg {name!r}: 'size' must be an integer in "
                "[1, 100] (ES caps top_hits the same way)"
            )
        self.size = size
        self.sort = (
            parse_sort(body["sort"], columns) if "sort" in body else []
        )
        src = body.get("_source", [c for c in columns if c != "doc_id"])
        if not isinstance(src, list) or not all(
            isinstance(f, str) for f in src
        ):
            raise ValueError(
                f"top_hits agg {name!r}: '_source' must be a list of "
                "field names"
            )
        missing = [f for f in src if f not in columns]
        if missing:
            raise ValueError(
                f"top_hits agg {name!r}: _source fields {missing} not in "
                f"the mounted doc_source (columns: {sorted(columns)})"
            )
        self.source = src

    @property
    def fields(self) -> set[str]:
        return set(self.source) | {f for f, _ in self.sort}


#: auto_date_histogram's interval ladder — the rungs this serve can
#: PIN. ES's public contract names the full ladder as second
#: (1, 5, 10, 30), minute (1, 5, 10, 30), hour (1, 3, 12), day
#: (1, 7), month (1, 3), year (1, 5, 10, 20, 50, 100); the sub-day
#: multiples are epoch-anchored fixed intervals in UTC (ES's own
#: rounding there), 1M/1y are calendar truncs, and 3M rounds months
#: to multiples of 3 — exactly the quarter trunc. Two rungs are NOT
#: pinned and refuse by name when the selection lands on them (the
#: same holt/holtWinters discipline): '7d' (ES's 7-day inner
#: interval's anchor — week vs epoch-multiple — is an internal this
#: engine cannot verify) and the multi-year family (5y..100y).
_AUTO_FIXED_LADDER = [
    ("1s", 1), ("5s", 5), ("10s", 10), ("30s", 30),
    ("1m", 60), ("5m", 300), ("10m", 600), ("30m", 1800),
    ("1h", 3600), ("3h", 10800), ("12h", 43200), ("1d", 86400),
]
#: envelope label → the compiler's calendar_interval spelling
_AUTO_CALENDAR_LADDER = [("1M", "1M"), ("3M", "1q"), ("1y", "1y")]
_AUTO_MINIMUM = {
    "second": 0, "minute": 4, "hour": 8, "day": 11,
    "month": 12, "year": 14,
}


def _resolve_auto_dh(
    docs: DataFrame, spec: dict, resolve: bool = True
) -> tuple[dict, dict]:
    """Resolve every ``auto_date_histogram`` node in ``spec`` into a
    concrete ``date_histogram`` body (ES's Lens/Discover auto-zoom
    agg): one cheap column-pruned min/max pass over the matched set
    picks the smallest ladder rung whose CONTIGUOUS bucket count
    (floor(min)..floor(max) inclusive — ES's reduce fills interior
    gaps, so the target bounds the dense list) stays ≤ the ``buckets``
    target, then the regular one-rollup plan serves it with
    ``min_doc_count: 0`` gap fill. Returns the rewritten spec plus
    ``{agg name: chosen interval label}`` for the envelope's
    ``interval`` field. Two-pass by design — the min/max scan reads
    one column and aggregates to a single row, the cheapest possible
    prelude to the rollup every aggs tree pays; Kibana's alternative
    is client-side trial requests.

    ``time_zone`` is served for fixed offsets and transition-free
    IANA zones (one uniform wall space for every rung); a
    genuinely-transitioning zone would need per-rung wall/UTC count
    rules this selection cannot express soundly — explicit 400 naming
    the explicit-date_histogram remediation.

    ``resolve=False`` is the REST door's JOB-FREE validation mode:
    every auto body is fully validated, then stubbed to a fixed
    1h date_histogram so the rest of the tree parses — no min/max
    job runs at the door."""
    import copy
    import datetime
    import math

    from pyspark.sql import types as T

    found: list[tuple[str, dict]] = []

    def walk(level) -> None:
        if not isinstance(level, dict):
            return
        for name, body in level.items():
            if isinstance(body, dict):
                if "auto_date_histogram" in body:
                    # non-dict bodies are caught in the validation
                    # loop below — letting them fall through to
                    # parse_aggs would 400 with "unsupported agg
                    # type", misleadingly (review finding)
                    found.append((name, body))
                walk(body.get("aggs"))

    walk(spec)
    if not found:
        return spec, {}
    spec = copy.deepcopy(spec)
    found = []
    walk(spec)

    parsed = []
    for name, node in found:
        b = node["auto_date_histogram"]
        if not isinstance(b, dict):
            raise ValueError(
                f"agg {name!r}: auto_date_histogram body must be an "
                "object"
            )
        _strict_keys(
            name, "auto_date_histogram", b,
            {"field", "buckets", "minimum_interval", "time_zone",
             "format"},
        )
        fld = b.get("field")
        if not isinstance(fld, str) or fld not in docs.columns:
            raise ValueError(
                f"auto_date_histogram agg {name!r}: field {fld!r} not "
                f"in the mounted doc_source (columns: "
                f"{sorted(docs.columns)})"
            )
        if not isinstance(docs.schema[fld].dataType, T.TimestampType):
            raise ValueError(
                f"auto_date_histogram agg {name!r}: field {fld!r} must "
                "be timestamp-typed"
            )
        target = b.get("buckets", 10)
        if isinstance(target, bool) or not isinstance(target, int) \
                or not 1 <= target <= MAX_BUCKETS:
            raise ValueError(
                f"auto_date_histogram agg {name!r}: 'buckets' must be "
                f"an integer in [1, {MAX_BUCKETS}]"
            )
        start = 0
        mi = b.get("minimum_interval")
        if mi is not None:
            if mi not in _AUTO_MINIMUM:
                raise ValueError(
                    f"auto_date_histogram agg {name!r}: "
                    f"minimum_interval {mi!r} is not one of "
                    f"{sorted(_AUTO_MINIMUM)}"
                )
            start = _AUTO_MINIMUM[mi]
        tz = b.get("time_zone")
        if tz is not None:
            import re

            # the shared validator (unknown-zone / ±18:00-cap 400s —
            # review finding: a bad IANA name here leaked
            # ZoneInfoNotFoundError into the 500 taxonomy)
            tz = _parse_time_zone(name, tz)
            if tz in ("UTC", "+00:00", "-00:00", "Z"):
                tz = None
            elif not re.fullmatch(r"[+-]\d{2}:\d{2}", tz) and len(
                _zone_offsets(tz)
            ) > 1:
                raise ValueError(
                    f"auto_date_histogram agg {name!r}: time_zone "
                    f"{tz!r} transitions between UTC offsets — the "
                    "interval selection would need per-rung wall/UTC "
                    "count rules this serve cannot express soundly; "
                    "send an explicit date_histogram instead"
                )
        parsed.append((name, node, b, fld, target, start, tz))

    if not resolve:
        # door mode: validated; stub each node so the tree parses
        for name, node, b, fld, _, _, _ in parsed:
            stub = {"field": fld, "fixed_interval": "1h",
                    "min_doc_count": 0}
            if b.get("time_zone") is not None:
                stub["time_zone"] = b["time_zone"]
            if "format" in b:
                stub["format"] = b["format"]
            del node["auto_date_histogram"]
            node["date_histogram"] = stub
        return spec, {}

    # ONE min/max pass covers every auto node (column-pruned scan,
    # single-row result); fields dedupe first — two auto nodes over
    # the same field would otherwise mint duplicate aliases and make
    # the Row's by-name reads ambiguous (review finding)
    row = docs.agg(*[
        e
        for fld in sorted({p[3] for p in parsed})
        for e in (F.min(fld).alias(f"__lo_{fld}"),
                  F.max(fld).alias(f"__hi_{fld}"))
    ]).first()

    epoch = datetime.datetime(1970, 1, 1)
    labels: dict[str, str] = {}
    for name, node, b, fld, target, start, tz in parsed:
        lo, hi = row[f"__lo_{fld}"], row[f"__hi_{fld}"]
        if lo is not None and tz is not None:
            lo, hi = _utc_to_wall(lo, tz), _utc_to_wall(hi, tz)
        chosen: tuple[str, str, str] | None = None
        if lo is None:
            # empty match set: ES serves no buckets at the finest
            # allowed rung's interval
            lab, s = _AUTO_FIXED_LADDER[min(start, 11)]
            if start >= 12:
                lab = _AUTO_CALENDAR_LADDER[start - 12][0]
                chosen = (lab, "calendar_interval",
                          _AUTO_CALENDAR_LADDER[start - 12][1])
            else:
                chosen = (lab, "fixed_interval", lab)
        else:
            for lab, s in _AUTO_FIXED_LADDER[start:]:
                n = (
                    math.floor((hi - epoch).total_seconds() / s)
                    - math.floor((lo - epoch).total_seconds() / s)
                    + 1
                )
                if n <= target:
                    chosen = (lab, "fixed_interval", lab)
                    break
            if chosen is None:
                # between 1d and 1M sits ES's '7d' rung; if the span
                # COULD land there under any alignment, refuse rather
                # than silently serve 1M where ES serves weeks
                span = (hi - lo).total_seconds()
                if start <= 11 and math.floor(
                    span / (7 * 86400)
                ) + 1 <= target:
                    raise ValueError(
                        f"auto_date_histogram agg {name!r}: the span "
                        "selects ES's '7d' rung, whose bucket anchor "
                        "this serve cannot pin — send an explicit "
                        "date_histogram with calendar_interval '1w' "
                        "(ISO Monday weeks) instead"
                    )
                mo = (
                    (hi.year * 12 + hi.month)
                    - (lo.year * 12 + lo.month) + 1
                )
                q = (
                    (hi.year * 4 + (hi.month - 1) // 3)
                    - (lo.year * 4 + (lo.month - 1) // 3) + 1
                )
                yr = hi.year - lo.year + 1
                for (lab, cal), n in zip(
                    _AUTO_CALENDAR_LADDER[max(0, start - 12):],
                    ([mo, q, yr] if start <= 12 else [yr]),
                ):
                    if n <= target:
                        chosen = (lab, "calendar_interval", cal)
                        break
            if chosen is None:
                raise ValueError(
                    f"auto_date_histogram agg {name!r}: the span "
                    "exceeds the 1y rung at this target — ES's "
                    "multi-year rungs (5y..100y) are not pinned; "
                    "raise 'buckets' or send an explicit "
                    "date_histogram"
                )
        lab, key, val = chosen
        new_body = {"field": fld, key: val, "min_doc_count": 0}
        if b.get("time_zone") is not None:
            new_body["time_zone"] = b["time_zone"]
        if "format" in b:
            new_body["format"] = b["format"]
        del node["auto_date_histogram"]
        node["date_histogram"] = new_body
        labels[name] = lab
    return spec, labels


def _single_bucket_entry(docs: DataFrame, spec: dict):
    """A top-level ``filter`` / ``missing`` SINGLE-BUCKET agg — ES's
    panel-narrowing shapes (TSVB's Filter Ratio wraps metrics in a
    ``filter`` agg; ``missing`` is the null-field bucket). Both serve
    by NARROWING the matched frame and running the regular machinery
    on the sub-tree: the node's envelope is ``{"doc_count": N,
    **sub_aggs}`` — no ``buckets`` list — and the narrowed frame is
    exactly what every downstream plan (rollup, truncation, gap fill)
    expects, so nothing else changes. Returns ``(name, narrowed_docs,
    sub_spec)`` or None when the spec is not this shape.

    Scope: the single-bucket agg must be the ONLY top-level agg
    (nesting more single-bucket layers recurses naturally — each call
    unwraps one). A ``filter`` sitting NEXT TO other aggs would need
    per-branch frames inside one plan; parse_aggs names the
    query-level remediation instead."""
    if not isinstance(spec, dict) or len(spec) != 1:
        return None
    (name,) = spec
    node = spec[name]
    if not isinstance(node, dict):
        return None
    typs = [t for t in node if t != "aggs"]
    if typs not in (["filter"], ["missing"]):
        return None
    sub = node.get("aggs")
    if sub is not None and not isinstance(sub, dict):
        raise ValueError(f"agg {name!r}: 'aggs' must be an object")
    if typs == ["filter"]:
        texts, opt_texts, pred = parse_query_dsl(node["filter"], docs)
        if texts or opt_texts:
            raise ValueError(
                f"filter agg {name!r}: 'match' clauses are not served "
                "here (filters are metadata predicates; put text in "
                "the request's own query)"
            )
        if pred is None:  # match_all — the everything bucket
            pred = F.lit(True)
    else:
        body = node["missing"]
        if not isinstance(body, dict):
            raise ValueError(
                f"agg {name!r}: missing body must be an object"
            )
        _strict_keys(name, "missing", body, {"field"})
        fld = body.get("field")
        if not isinstance(fld, str) or fld not in docs.columns:
            raise ValueError(
                f"missing agg {name!r}: field {fld!r} not in the "
                f"mounted doc_source (columns: {sorted(docs.columns)})"
            )
        pred = F.col(fld).isNull()
    return name, docs.filter(pred), sub or {}


def parse_aggs(spec: dict, columns: list[str]) -> tuple[
    list[_Bucket],
    dict[int, list[_Metric]],
    dict[int, list["_TopHits"]],
    dict[int, list[_PipelineAgg]],
]:
    """Parse an ES ``aggs`` tree into (bucket chain, metrics-by-depth,
    top_hits-by-depth, pipeline-aggs-by-depth).

    One bucket agg per level (a Kibana visualization is one chain;
    sibling bucket aggs are separate requests — rejected explicitly so
    the restriction is visible, not silent). Metrics may sit at any
    level: depth 0 = top-level metrics over the whole match set, depth
    i = metrics inside level-i buckets. Every referenced field must
    exist in ``columns`` (the mounted doc_source's schema)."""
    chain: list[_Bucket] = []
    metrics: dict[int, list[_Metric]] = {}
    tophits: dict[int, list[_TopHits]] = {}
    pipelines: dict[int, list[_PipelineAgg]] = {}
    names: set[str] = set()

    def walk(node: dict, depth: int) -> None:
        """``depth`` = the bucket level whose buckets this node's
        metrics describe: 0 at the request top (whole match set),
        i inside level-i's ``aggs``."""
        if not isinstance(node, dict) or not node:
            raise ValueError("'aggs' must be a non-empty object")
        bucket_here: _Bucket | None = None
        child_aggs: dict | None = None
        for name, body in node.items():
            if not isinstance(body, dict):
                raise ValueError(f"agg {name!r} must be an object")
            if name in names:
                raise ValueError(f"duplicate agg name {name!r}")
            names.add(name)
            typs = [t for t in body if t != "aggs"]
            if len(typs) != 1:
                raise ValueError(
                    f"agg {name!r} needs exactly one type, got {typs}"
                )
            typ = typs[0]
            if typ in _BUCKET_TYPES:
                if bucket_here is not None:
                    raise ValueError(
                        "one bucket aggregation per level "
                        f"({bucket_here.name!r} and {name!r} are siblings); "
                        "send sibling bucket aggs as separate requests"
                    )
                bucket_here = _Bucket(name, typ, body[typ])
                child_aggs = body.get("aggs")
            elif typ in _METRIC_TYPES:
                if "aggs" in body:
                    raise ValueError(
                        f"metric agg {name!r} cannot have sub-aggs"
                    )
                metrics.setdefault(depth, []).append(
                    _Metric(name, typ, body[typ])
                )
            elif typ == "top_hits":
                if "aggs" in body:
                    raise ValueError(
                        f"top_hits agg {name!r} cannot have sub-aggs"
                    )
                tophits.setdefault(depth, []).append(
                    _TopHits(name, body[typ], columns)
                )
            elif typ in _PIPELINE_TYPES or typ in _PARENT_PIPELINE_TYPES:
                if "aggs" in body:
                    raise ValueError(
                        f"pipeline agg {name!r} cannot have sub-aggs"
                    )
                pipelines.setdefault(depth, []).append(
                    _PipelineAgg(name, typ, body[typ])
                )
            elif typ == "percentiles_bucket":
                # deliberately NOT served: ES's exact index-selection
                # convention for this reduce (which sorted element —
                # or interpolation — a given percent picks) is a
                # Lucene internal this engine does not pin, and a
                # near-miss percentile silently diverges. The
                # percentiles METRIC (exact, quantile_cont-identical)
                # per bucket is the served spelling.
                raise ValueError(
                    f"agg {name!r}: percentiles_bucket's exact "
                    "index-selection convention is not pinned — use "
                    "the percentiles metric inside each bucket "
                    "instead"
                )
            elif typ in ("filter", "missing"):
                # the single-bucket aggs ARE served — as the only
                # top-level agg, where they narrow the frame before
                # any plan runs (the unwrap in aggs_nested/aggs_flat)
                raise ValueError(
                    f"agg {name!r}: {typ} is served as the ONLY "
                    "top-level agg (it narrows the whole frame); "
                    "next to siblings or nested, move the predicate "
                    "into the request's query.bool.filter instead"
                )
            else:
                raise ValueError(
                    f"unsupported agg type {typ!r} (buckets: "
                    f"{_BUCKET_TYPES}, metrics: {_METRIC_TYPES}, "
                    f"top_hits, pipelines: "
                    f"{_PIPELINE_TYPES + _PARENT_PIPELINE_TYPES})"
                )
        if bucket_here is not None:
            chain.append(bucket_here)
            if child_aggs is not None:
                walk(child_aggs, depth + 1)

    walk(spec, 0)
    reserved = {"depth", "doc_count", *_TRUNC_COLS}
    for b in chain:
        if b.name in reserved:
            raise ValueError(f"agg name {b.name!r} is reserved")
        reserved.add(b.name)
        for fld in (b.multi_fields or [b.field]):
            if fld not in columns:
                raise ValueError(
                    f"agg {b.name!r}: field {fld!r} not in the mounted "
                    f"doc_source (columns: {sorted(columns)})"
                )
    for col in _level_totals(chain).values():
        if col in reserved:
            raise ValueError(f"agg name {col!r} is reserved")
        reserved.add(col)
    for ms in metrics.values():
        for m in ms:
            # the NAME matters too: a multi-column metric (stats,
            # percentiles) named 'doc_count' has columns like
            # doc_count_min that dodge the column check, then its
            # envelope entry would overwrite the bucket's doc_count
            for col in {m.name, *m.columns}:
                if col in reserved:
                    raise ValueError(f"agg column {col!r} is reserved")
                reserved.add(col)
            if m.field not in columns:
                raise ValueError(
                    f"agg {m.name!r}: field {m.field!r} not in the mounted "
                    f"doc_source (columns: {sorted(columns)})"
                )
    if max(
        [*metrics, *tophits], default=0
    ) > len(chain):
        raise ValueError("metrics nested deeper than the bucket chain")
    for ths in tophits.values():
        for th in ths:
            if th.name in reserved:
                raise ValueError(f"agg name {th.name!r} is reserved")
            reserved.add(th.name)
    # pipelines: the buckets_path must name the sibling bucket chain
    # from this depth down, terminal segment a metric (or _count) at
    # the terminal level
    def _terminal(td: int, term: str, who: str) -> tuple:
        """A buckets_path terminal resolved against depth-``td``'s
        metrics — validates the reference (same rules as terms
        order) and returns the envelope extraction recipe."""
        if term == "_count":
            return ("_count", None, None)
        col = _metric_column(metrics.get(td, []), term, who)
        tname, _, tpart = term.partition(".")
        m = next(mm for mm in metrics.get(td, []) if mm.name == tname)
        if m.typ in ("stats", "extended_stats"):
            # the extended_stats envelope lays its components flat
            # like stats, so the same extraction recipe reads both
            return ("stats", tname, tpart)
        if m.typ == "percentiles":
            pkey = next(
                str(pp)
                for pp, c in zip(m.percents, m.columns)
                if c == col
            )
            return ("percentiles", tname, pkey)
        if m.typ == "percentile_ranks":
            vkey = next(
                str(vv)
                for vv, c in zip(m.values, m.columns)
                if c == col
            )
            return ("percentiles", tname, vkey)
        return ("value", tname, None)

    for d, plist in pipelines.items():
        for p in plist:
            if p.name in reserved:
                raise ValueError(f"agg name {p.name!r} is reserved")
            reserved.add(p.name)
            who = f"pipeline agg {p.name!r}"
            if p.parent:
                # every parent pipeline needs a parent bucket list;
                # the series walkers (derivative/cumulative_sum/
                # moving_fn) additionally need it ORDERED — a
                # histogram/date_histogram, never terms, whose
                # by-value ordering would make "previous bucket"
                # arbitrary. bucket_script/bucket_selector are
                # per-bucket arithmetic and run under terms too.
                needs = (
                    "a histogram/date_histogram bucket's"
                    if p.typ in _ORDERED_PARENT_TYPES
                    else "a bucket agg's"
                )
                if d < 1 or (
                    p.typ in _ORDERED_PARENT_TYPES
                    and chain[d - 1].typ not in (
                        "date_histogram", "histogram"
                    )
                ):
                    raise ValueError(
                        f"{who}: {p.typ} must sit inside {needs} "
                        "aggs (ES's parent-pipeline contract)"
                    )
                if p.unit_ms is not None and chain[
                    d - 1
                ].typ != "date_histogram":
                    raise ValueError(
                        f"{who}: 'unit' normalizes by key spacing in "
                        "TIME — it needs a date_histogram parent"
                    )
                if p.typ == "bucket_sort":
                    # sort paths resolve like any same-level metric
                    # reference; "_key" reads the bucket key itself
                    p.sort_terminals = [
                        (("_key", None, None) if pth == "_key"
                         else _terminal(d, pth, who), asc)
                        for pth, asc in p.sort_specs
                    ]
                elif p.var_paths:
                    for var, vpath in p.var_paths.items():
                        p.terminals[var] = _terminal(d, vpath, who)
                else:
                    p.terminal = _terminal(d, p.segments[0], who)
                continue
            for i, seg in enumerate(p.segments[:-1]):
                ci = d + i
                if ci >= len(chain) or chain[ci].name != seg:
                    raise ValueError(
                        f"{who}: buckets_path segment {seg!r} does not "
                        "name the sibling bucket chain at that level "
                        f"(chain: {[b.name for b in chain]})"
                    )
            p.terminal = _terminal(
                d + len(p.segments) - 1, p.segments[-1], who
            )
    # a bucket agg NAMED like a metric's source FIELD would put two
    # same-named columns into the rollup input (the key alias + the
    # raw field) — ambiguous-column fault; reject it as the 400 it is
    # (the top_hits window pass selects source/sort fields next to the
    # key aliases, so its fields obey the same rule)
    fields = {m.field for ms in metrics.values() for m in ms}
    for ths in tophits.values():
        for th in ths:
            fields |= th.fields
    for b in chain:
        if b.name in fields:
            raise ValueError(
                f"bucket agg name {b.name!r} collides with a metric "
                "field of the same name — rename the agg"
            )
    # metric-ordered terms: resolve the order key to its flat-frame
    # column now that this level's metrics are known
    for d, b in enumerate(chain, start=1):
        if b.typ in ("terms", "multi_terms") and b.order_key not in (
            "_key", "_count"
        ):
            b.order_col = _resolve_order_metric(b, metrics.get(d, []))
            b.order_empty = _empty_value(metrics.get(d, []), b.order_key)
    # other_bucket levels: the __other__ merge re-aggregates flat
    # bucket rows, so every metric at that depth must be MERGEABLE
    # from its flat columns — avg gets hidden sum/count companions;
    # percentiles/cardinality are not mergeable states (and top_hits
    # rows for truncated-away buckets were never collected) — 400,
    # not a silently wrong merge
    for d, b in enumerate(chain, start=1):
        if b.typ != "terms" or not b.other_bucket:
            continue
        # the merge spans THIS level and every deeper one (the
        # __other__ bucket carries its own sub-chain — the Kibana
        # terms-split × date-axis shape), so the mergeability rules
        # apply at every depth ≥ d
        for d2 in range(d, len(chain) + 1):
            if tophits.get(d2):
                raise ValueError(
                    f"terms agg {b.name!r}: top_hits at or below an "
                    "other_bucket level is not served (truncated-"
                    "away buckets' rows were never collected) — drop "
                    "other_bucket or move the top_hits"
                )
            hidden: list[_Metric] = []
            for m in metrics.get(d2, []):
                if m.hidden:
                    continue
                if m.typ in (
                    "percentiles", "cardinality", "percentile_ranks"
                ):
                    raise ValueError(
                        f"terms agg {b.name!r}: {m.typ} cannot be "
                        "merged into the __other__ bucket from the "
                        "bucket frame — drop other_bucket or send "
                        "the other-set request separately (a filters "
                        "agg over the non-kept terms)"
                    )
                if m.typ == "avg" and not any(
                    mm.hidden and mm.name == m.name + "__obs"
                    for mm in metrics.get(d2, [])
                ):
                    # (idempotent: a second other_bucket level above
                    # must not re-add the same companions)
                    for suffix, htyp in (
                        ("__obs", "sum"), ("__obn", "value_count")
                    ):
                        hm = _Metric(
                            m.name + suffix, htyp, {"field": m.field}
                        )
                        hm.hidden = True
                        hidden.append(hm)
            for hm in hidden:
                for col in {hm.name, *hm.columns}:
                    if col in reserved:
                        raise ValueError(
                            f"agg column {col!r} is reserved"
                        )
                    reserved.add(col)
            metrics.setdefault(d2, []).extend(hidden)
    return chain, metrics, tophits, pipelines


def _level_totals(chain: list[_Bucket]) -> dict[int, str]:
    """Depth → flat column of each terms level's total: on each
    parent row, the Σ doc_count of the level's buckets under it, kept
    or not."""
    return {
        d: f"{b.name}__n"
        for d, b in enumerate(chain, start=1)
        if b.typ in ("terms", "multi_terms")
    }


def _rollup_flat(
    docs: DataFrame,
    chain: list[_Bucket],
    metrics: dict[int, list[_Metric]],
) -> DataFrame:
    """The one distributed pass: rollup over the bucket keys, metrics
    computed at every grouping level (one shuffle, map-side partials),
    then per-row depth from ``grouping_id`` and declared-depth
    null-out so each metric column carries values only at its node's
    level. Genuinely-NULL bucket keys (ES: the doc is in no bucket at
    that level, nor any child) are dropped AFTER the rollup — their
    docs still count in the parent row's doc_count, exactly ES.

    Each terms level d also gets its total (:func:`_level_totals`) on the
    depth-(d-1) rows: ``count`` of the non-NULL level key, which is
    exactly the Σ doc_count of the parent's depth-d rows. The
    envelope reads ``sum_other_doc_count`` as that total minus the
    kept buckets, so truncation needs no second pass for it."""
    names = [b.name for b in chain]
    keyed = docs.select(
        *[b.key_col().alias(b.name) for b in chain],
        *{m.field for ms in metrics.values() for m in ms},
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("doc_count")]
    for ms in metrics.values():
        for m in ms:
            aggs.extend(m.exprs())
    totals = _level_totals(chain)
    for d, col in totals.items():
        # inside an aggregate a rollup key reads its un-rolled value
        aggs.append(F.count(names[d - 1]).cast("bigint").alias(col))
    if not names:
        flat = keyed.agg(*aggs).withColumn("depth", F.lit(0).cast("int"))
        return flat.select("depth", "doc_count", *_metric_cols(metrics))
    g = (
        keyed.rollup(*names)
        .agg(*aggs, F.grouping_id(*names).alias("_gid"))
    )
    n = len(names)
    # rollup grouping_id = bitmask of ROLLED-UP keys (low bit =
    # rightmost key); depth = how many prefix keys are live
    depth = F.lit(n) - sum(
        F.shiftright(F.col("_gid"), n - 1 - i).bitwiseAND(F.lit(1))
        for i in range(n)
    )
    g = g.withColumn("depth", depth.cast("int")).drop("_gid")
    # a genuinely-NULL key at any LIVE level drops the row from the
    # bucket frame (grouping_id told us the null is data, not rollup)
    cond = F.lit(True)
    for i, name in enumerate(names, start=1):
        cond = cond & (
            (F.col("depth") < i) | F.col(name).isNotNull()
        )
    g = g.filter(cond)
    # metrics only at their declared depth — "metrics live at nodes"
    sel: list[Column] = [F.col("depth"), *[F.col(c) for c in names],
                         F.col("doc_count")]
    for d, ms in metrics.items():
        for m in ms:
            for col in m.columns:
                sel.append(
                    F.when(F.col("depth") == d, F.col(col)).alias(col)
                )
    for d, col in totals.items():
        sel.append(F.when(F.col("depth") == d - 1, F.col(col)).alias(col))
    return g.select(*sel)


def _metric_cols(metrics: dict[int, list[_Metric]]) -> list[str]:
    return [c for ms in metrics.values() for m in ms for c in m.columns]


#: the truncation's scratch columns (reserved agg names)
_TRUNC_COLS = ("_rank", "_count", "_metric", "_kept")


def _terms_order_cols(
    b: _Bucket, count: Column, metric: Column | None
) -> list[Column]:
    """The truncation-window sort for one terms level: ES's default
    (doc_count desc, key asc) or the bucket's explicit ``order``,
    over ``count``/``metric`` — the level's doc_count and order
    metric, or their copies on the bucket's descendants.
    Key order needs no tiebreak (keys are unique per parent);
    doc_count and metric orders tiebreak key asc (ES). A bucket with no
    values for the field orders on what the envelope serves for it:
    0 for a sum or count (``b.order_empty``), else NULL, which sorts
    LAST either direction — the bucket can't compete on a value it
    doesn't have."""
    kc = F.col(b.name)
    if b.order_key == "_key":
        return [kc.asc() if b.order_asc else kc.desc()]
    if b.order_key == "_count":
        return [count.asc() if b.order_asc else count.desc(), kc.asc()]
    return [
        metric.asc_nulls_last() if b.order_asc else metric.desc_nulls_last(),
        kc.asc(),
    ]


def _truncate_terms(
    flat: DataFrame,
    chain: list[_Bucket],
    metrics: dict[int, list[_Metric]],
) -> DataFrame:
    """Apply each terms level's ``min_doc_count`` and ``size`` (top-N
    per parent in the level's order) on the BUCKET frame, pruning
    deeper rows to kept parents, as ONE linear plan: windows and
    filters, no self-join, no union, nothing persisted.
    ``sum_other_doc_count`` needs no frame of its own: the parent rows
    carry each level's total (:func:`_rollup_flat`), and the envelope
    subtracts the kept buckets. Per terms level d, in chain order:

    - a non-leaf level copies its bucket's order values onto the
      bucket's descendants (``max(when(depth == d, c))`` over the
      bucket's keys); a leaf level's rows are the buckets themselves.
    - ``min_doc_count`` filters on the (copied) doc_count.
    - ``dense_rank`` over (parent keys, depth ≥ d), ordered by the
      level's order then its key, gives every row at depth ≥ d its
      level-d bucket's rank; rows above d tie at rank 1 in partitions
      of their own. Filtering ``rank <= size`` keeps Spark's
      WindowGroupLimit (Partial below the exchange, then Final), so a
      depth-1 level over a high-cardinality field ships about
      size × partitions rows to its single-partition rank.
    - ``other_bucket`` keeps the rank unfiltered and folds the
      non-kept rows into ``'__other__'`` (:func:`_fold_other`); deeper
      terms levels then truncate the merged rows per parent."""
    names = [b.name for b in chain]
    totals = _level_totals(chain)
    depth = F.col("depth")
    for d, b in enumerate(chain, start=1):
        if b.typ not in ("terms", "multi_terms"):
            continue
        metric = None
        if b.order_col:
            metric = F.col(b.order_col)
            if b.order_empty is not None:
                metric = F.coalesce(metric, F.lit(b.order_empty))
        count = F.col("doc_count")
        if d < len(names):
            # the level-d bucket's order values onto its descendants
            up = Window.partitionBy(*names[:d])
            flat = flat.withColumn(
                "_count", F.max(F.when(depth == d, count)).over(up)
            )
            count = F.col("_count")
            if metric is not None:
                flat = flat.withColumn(
                    "_metric", F.max(F.when(depth == d, metric)).over(up)
                )
                metric = F.col("_metric")
        order = _terms_order_cols(b, count, metric)
        # ES terms min_doc_count: buckets under the threshold are
        # pruned BEFORE size selection (ES's reduce order); under
        # other_bucket they rank after every passing bucket and merge
        # into __other__ with the size-truncated ones
        passes = (depth < d) | (count >= b.min_doc_count)
        if b.min_doc_count > 1 and not b.other_bucket:
            flat = flat.filter(passes)
        elif b.min_doc_count > 1:
            order = [passes.desc(), *order]
        # depth 1 has NO parent keys, so the level's rows rank in one
        # partition — intended: the input is the BUCKET frame (≤
        # MAX_BUCKETS rows by the serve contract), and the
        # WindowGroupLimit bounds what reaches it
        w = Window.partitionBy(*names[: d - 1], depth >= d).orderBy(*order)
        flat = flat.withColumn("_rank", F.dense_rank().over(w))
        if not b.other_bucket:
            flat = flat.filter(F.col("_rank") <= b.size)
        else:
            flat = _fold_other(flat, b, d, names, totals, metrics, passes)
        flat = flat.drop(*_TRUNC_COLS)
    return flat


def _fold_other(
    flat: DataFrame,
    b: _Bucket,
    d: int,
    names: list[str],
    totals: dict[int, str],
    metrics: dict[int, list[_Metric]],
    passes: Column,
) -> DataFrame:
    """Kibana's "group remaining as Other" at terms level d: rows at
    depth ≥ d under a non-kept level-d bucket take the key
    ``'__other__'``, and ONE groupBy over (depth, keys, kept) merges
    them per parent — doc_count, every metric at depth ≥ d (hidden avg
    companions too, for a stacked other_bucket level) and the deeper
    levels' totals — so the ``__other__`` bucket carries its own
    sub-chain. The kept flag keeps a real ``'__other__'`` term apart,
    and kept rows pass through as singleton groups. A fabricated
    depth-d row carries its level's total (otherwise NULL there), so
    the envelope never counts it as kept."""
    from pyspark.sql import types as T

    if not isinstance(flat.schema[b.name].dataType, T.StringType):
        raise ValueError(
            f"terms agg {b.name!r}: other_bucket needs a "
            "string-keyed field (the '__other__' sentinel is "
            "a string)"
        )
    kept = (F.col("depth") < d) | ((F.col("_rank") <= b.size) & passes)
    merged: dict[str, Column] = {
        "doc_count": F.sum("doc_count"),
        totals[d]: F.when(F.col("depth") == d, F.sum("doc_count")),
    }
    for d2, ms in metrics.items():
        if d2 >= d:
            for m in ms:
                merged.update(m.merge_exprs())
    merged.update(
        (col, F.sum(col)) for d2, col in totals.items() if d2 > d
    )
    keys = ["depth", *names, "_kept"]
    fields = [f for f in flat.schema.fields if f.name not in _TRUNC_COLS]
    out = (
        flat.withColumn("_kept", kept)
        .withColumn(
            b.name,
            F.when(F.col("_kept"), F.col(b.name)).otherwise(
                F.lit("__other__")
            ),
        )
        .groupBy(*keys)
        .agg(*[
            F.when(F.col("_kept"), F.first(f.name))
            .otherwise(merged.get(f.name))
            .cast(f.dataType)
            .alias(f.name)
            for f in fields if f.name not in keys
        ])
    )
    return out.select(*[f.name for f in fields])


def aggs_flat(docs: DataFrame, spec: dict) -> DataFrame:
    """Compile an ES ``aggs`` tree over the matched-document frame into
    one FLAT bucket DataFrame: a row per bucket at every level plus
    the depth-0 (whole-match-set) row — columns ``depth``, one key
    column per bucket level (named by its agg name), ``doc_count``,
    and one column per metric (non-null only at its declared depth).
    ``terms`` sizes are applied (top-N per parent). This is the
    distributed surface the gate row hashes: DuckDB ``GROUP BY
    ROLLUP`` + ``grouping()`` + a ranked keep-list rebuilds it
    exactly."""
    sb = _single_bucket_entry(docs, spec)
    if sb is not None:
        # the flat gate surface of a filter/missing bucket is the
        # sub-tree's flat frame over the NARROWED docs — its depth-0
        # doc_count row IS the bucket's count
        name, narrowed, sub = sb
        if not sub:
            raise ValueError(
                f"agg {name!r}: a bare filter/missing bucket has no "
                "flat frame — aggs_nested serves its doc_count "
                "envelope"
            )
        return aggs_flat(narrowed, sub)
    spec, auto_labels = _resolve_auto_dh(docs, spec)
    chain, metrics, tophits, pipelines = parse_aggs(spec, docs.columns)
    if tophits:
        raise ValueError(
            "top_hits returns document rows, not an aggregate — it is "
            "served by aggs_nested (the REST envelope), not the flat "
            "bucket frame"
        )
    if pipelines:
        raise ValueError(
            "pipeline aggs compute over the RETURNED buckets at "
            "reduce time — they are served by aggs_nested (the REST "
            "envelope), not the flat bucket frame"
        )
    flat = _rollup_flat(docs, chain, metrics)
    flat = _truncate_terms(flat, chain, metrics)
    hidden = [
        c for ms in metrics.values() for m in ms if m.hidden
        for c in m.columns
    ] + list(_level_totals(chain).values())
    # the avg-merge companions and level totals are plumbing, not
    # surface
    return flat.drop(*hidden) if hidden else flat


def _spine(b: _Bucket, data_keys: list) -> list:
    """The DENSE key list for a ``min_doc_count: 0`` histogram level:
    every bucket start from min to max of (data ∪ extended_bounds),
    generated in INDEX space (i × interval / epoch-step multiples) so
    spine keys are bit-identical to the Spark-computed bucket keys —
    float stepping would drift off the data keys and duplicate
    buckets. Capped at MAX_BUCKETS: a consumer asking for 1-minute
    buckets over ten years must get the 400, not an OOM.

    Under ``time_zone`` the whole walk happens in LOCAL WALL space —
    the same frame key_col floors in — then each generated boundary
    converts back to its UTC instant. Stepping in UTC would drift off
    the data keys at a DST transition (a 23- or 25-hour local day);
    wall space keeps local days uniform, and the _wall_to_utc
    conversion resolves gap/overlap readings by the same rules
    to_utc_timestamp applies JVM-side, so fabricated keys stay
    bit-identical to Spark-computed ones."""
    import datetime

    epoch = datetime.datetime(1970, 1, 1)
    tz = (
        b.time_zone
        if b.typ == "date_histogram" and b.tz_wall
        else None
    )
    if tz is not None:
        data_keys = [_utc_to_wall(k, tz) for k in data_keys]
    # ES 'offset': data keys are floor(t − off) + off — shift the
    # walk into the unshifted grid (subtract off), run the plain
    # floor/step logic, add off back to every generated key at the
    # end. Same space as the flooring (wall when tz_wall).
    off = (
        datetime.timedelta(microseconds=b.offset_us)
        if b.typ == "date_histogram" and b.offset_us
        else b.num_offset
        if b.typ == "histogram" and b.num_offset
        else None
    )
    if off is not None:
        data_keys = [k - off for k in data_keys]

    def from_bound(x):
        if b.typ == "histogram":
            return float(x) - off if off is not None else float(x)
        inst = epoch + datetime.timedelta(milliseconds=int(x))
        if tz is not None:
            inst = _utc_to_wall(inst, tz)
        return inst - off if off is not None else inst

    def floor_key(v):
        if b.typ == "histogram":
            import math

            return math.floor(v / b.interval) * b.interval
        if b.calendar == "week":
            # ISO Monday start — ES, Spark date_trunc('week'), and
            # DuckDB date_trunc('week') all agree
            return v.replace(
                hour=0, minute=0, second=0, microsecond=0
            ) - datetime.timedelta(days=v.weekday())
        if b.calendar == "month":
            return v.replace(day=1, hour=0, minute=0, second=0,
                             microsecond=0)
        if b.calendar == "quarter":
            return v.replace(month=(v.month - 1) // 3 * 3 + 1, day=1,
                             hour=0, minute=0, second=0, microsecond=0)
        if b.calendar == "year":
            return v.replace(month=1, day=1, hour=0, minute=0, second=0,
                             microsecond=0)
        step = b.seconds or {
            "minute": 60, "hour": 3600, "day": 86400,
        }[b.calendar]
        us = int((v - epoch).total_seconds() * 1_000_000)
        return epoch + datetime.timedelta(
            microseconds=(us // (step * 1_000_000)) * step * 1_000_000
        )

    lo = min(data_keys) if data_keys else None
    hi = max(data_keys) if data_keys else None
    if b.bounds is not None:
        blo, bhi = (floor_key(from_bound(x)) for x in b.bounds)
        lo = blo if lo is None else min(lo, blo)
        hi = bhi if hi is None else max(hi, bhi)
    if lo is None:
        return []
    if b.typ == "histogram":
        i0, i1 = round(lo / b.interval), round(hi / b.interval)
        if i1 - i0 + 1 > MAX_BUCKETS:
            raise ValueError(
                f"min_doc_count=0 would fill more than {MAX_BUCKETS} "
                "buckets; raise the interval or narrow extended_bounds"
            )
        return [
            # this branch returns before the shared off re-add below
            i * b.interval + off if off is not None else i * b.interval
            for i in range(i0, i1 + 1)
        ]
    if b.calendar in ("week", "month", "quarter", "year"):
        # week steps a uniform 7 wall-days (Monday → Monday — the
        # epoch-multiple arithmetic below would anchor on the epoch's
        # THURSDAY); month-family steps by calendar months
        months = {"month": 1, "quarter": 3, "year": 12}.get(b.calendar)
        keys, v = [], lo
        while v <= hi:
            if len(keys) >= MAX_BUCKETS:
                raise ValueError(
                    f"min_doc_count=0 would fill more than {MAX_BUCKETS} "
                    "buckets; raise the interval or narrow extended_bounds"
                )
            keys.append(v)
            if b.calendar == "week":
                v = v + datetime.timedelta(days=7)
            else:
                m = v.month - 1 + months
                v = v.replace(year=v.year + m // 12, month=m % 12 + 1)
    else:
        step = b.seconds or {"minute": 60, "hour": 3600, "day": 86400}[
            b.calendar
        ]
        i0 = int((lo - epoch).total_seconds()) // step
        i1 = int((hi - epoch).total_seconds()) // step
        if i1 - i0 + 1 > MAX_BUCKETS:
            raise ValueError(
                f"min_doc_count=0 would fill more than {MAX_BUCKETS} "
                "buckets; raise the interval or narrow extended_bounds"
            )
        keys = [
            epoch + datetime.timedelta(seconds=i * step)
            for i in range(i0, i1 + 1)
        ]
    if off is not None:
        keys = [k + off for k in keys]
    if tz is not None:
        keys = [_wall_to_utc(k, tz) for k in keys]
    return keys


def _hashable(v):
    """A collected bucket-key value as a dict/set key: array-typed
    fields come back as Python lists — tuple-ize them (nested too)."""
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    return v


def _key_json(v):
    """A bucket key as ES serves it: date/datetime buckets get
    epoch-millis ``key`` + ISO ``key_as_string``; Decimals become
    floats; everything else verbatim. Every value this returns must
    survive ``json.dumps`` — the envelope goes straight onto the
    wire."""
    import datetime
    import decimal

    if isinstance(v, tuple):
        # a multi_terms compound key collects as a Row (tuple):
        # ES's envelope = the member list + a '|'-joined
        # key_as_string
        members = [_val_json(m) for m in v]
        return members, "|".join(str(m) for m in members)
    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1)
        ms = int((v - epoch).total_seconds() * 1000)
        # ES's default strict_date_optional_time rendering: explicit
        # millis + 'Z' (the r15 review fix landed in _dh_key_string's
        # unreachable no-tz branch; THIS is the path every default
        # key_as_string / date_range *_as_string actually takes)
        return ms, v.isoformat(sep="T", timespec="milliseconds") + "Z"
    if isinstance(v, datetime.date):
        dt = datetime.datetime(v.year, v.month, v.day)
        return _key_json(dt)
    if isinstance(v, decimal.Decimal):
        return float(v), None
    return v, None


def _dh_key_string(b: _Bucket, v) -> str:
    """A date_histogram bucket's ``key_as_string`` under ``time_zone``
    / ``format``: ES renders the key in the request's zone (the local
    boundary reading, offset-suffixed) and through the java pattern
    when ``format`` is given. The ``key`` itself stays the UTC
    instant's epoch millis either way."""
    import datetime

    if b.time_zone is not None:
        local = v.replace(tzinfo=datetime.timezone.utc).astimezone(
            _tzinfo(b.time_zone)
        )
        return (
            local.strftime(b.fmt) if b.fmt is not None
            # ES's default strict_date_optional_time renders explicit
            # millis (2024-03-10T00:00:00.000-05:00) — a consumer
            # string-matching ES-shaped keys must see that exact form
            else local.isoformat(sep="T", timespec="milliseconds")
        )
    # no time_zone: ES renders the UTC instant in the SAME default
    # strict_date_optional_time form — explicit millis, 'Z' suffix
    # (review finding: the tz path was fixed to .000±HH:MM for
    # string-matching consumers while this path still served
    # second-precision ISO with no zone designator)
    return (
        v.strftime(b.fmt) if b.fmt is not None
        else v.isoformat(sep="T", timespec="milliseconds") + "Z"
    )


def _val_json(v):
    """Metric values JSON-safe: Decimal sums (DECIMAL columns) and
    date-typed min/max would otherwise 500 at ``json.dumps``."""
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _metric_json(m: _Metric, row: dict) -> dict:
    if m.typ == "percentiles":
        return {
            "values": {
                str(p): _val_json(row.get(col))
                for p, col in zip(m.percents, m.columns)
            }
        }
    if m.typ == "percentile_ranks":
        return {
            "values": {
                str(v): _val_json(row.get(col))
                for v, col in zip(m.values, m.columns)
            }
        }
    if m.typ == "extended_stats":
        out = {
            part: _val_json(row.get(col))
            for part, col in zip(_EXT_STATS_PARTS, m.columns)
        }
        # the same empty-bucket arithmetic contract as stats: counts
        # and sums serve 0, derived statistics serve null
        if out["count"] is None:
            out["count"] = 0
        if out["sum"] is None:
            out["sum"] = 0.0
        if out["sum_of_squares"] is None and out["count"] == 0:
            out["sum_of_squares"] = 0.0
        n, avg, var = out["count"], out["avg"], out["variance"]
        # ES's envelope splits variance into population (its default
        # 'variance') and sampling (n−1 denominator); both derive
        # from the flat components at this reduce point
        var_samp = (
            var * n / (n - 1)
            if var is not None and n is not None and n > 1
            else None
        )
        import math

        std_samp = None if var_samp is None else math.sqrt(var_samp)
        out["variance_population"] = var
        out["variance_sampling"] = var_samp
        out["std_deviation_population"] = out["std_deviation"]
        out["std_deviation_sampling"] = std_samp
        sd = out["std_deviation"]
        out["std_deviation_bounds"] = {
            "upper": None if avg is None or sd is None
            else avg + m.sigma * sd,
            "lower": None if avg is None or sd is None
            else avg - m.sigma * sd,
            "upper_population": None if avg is None or sd is None
            else avg + m.sigma * sd,
            "lower_population": None if avg is None or sd is None
            else avg - m.sigma * sd,
            "upper_sampling": None if avg is None or std_samp is None
            else avg + m.sigma * std_samp,
            "lower_sampling": None if avg is None or std_samp is None
            else avg - m.sigma * std_samp,
        }
        return out
    if m.typ == "stats":
        out = {
            part: _val_json(row.get(col))
            for part, col in zip(
                ("count", "min", "max", "avg", "sum"), m.columns
            )
        }
        # ES serves count: 0 / sum: 0.0 (min/max/avg null) on an
        # empty or gap-filled bucket — the flat frame's F.count is
        # never null on real rows, so None means a fabricated
        # min_doc_count=0 bucket; consumers do arithmetic on these
        if out["count"] is None:
            out["count"] = 0
        if out["sum"] is None:
            out["sum"] = 0.0
        return out
    if m.typ in ("value_count", "cardinality"):
        # same ES contract: counts serve 0, not null, on empty buckets
        v = row.get(m.name)
        return {"value": 0 if v is None else _val_json(v)}
    if m.typ == "sum":
        # ES's arithmetic contract: sum over an empty (or gap-filled)
        # bucket serves 0.0 — consumers add these; stats.sum above
        # already did
        v = row.get(m.name)
        return {"value": 0.0 if v is None else _val_json(v)}
    return {"value": _val_json(row.get(m.name))}


def aggs_nested(
    docs: DataFrame, spec: dict, with_total: bool = False
) -> dict:
    """ES ``aggregations`` response envelope: the flat frame collected
    (bounded by :data:`MAX_BUCKETS`, ES's own default cap) and folded
    into nested ``buckets`` driver-side. terms buckets ordered
    doc_count desc / key asc (or the level's explicit ``order``) with
    ``sum_other_doc_count``; date_histogram / histogram buckets
    ordered by key."""
    sb = _single_bucket_entry(docs, spec)
    if sb is not None:
        name, narrowed, sub = sb
        if not sub:
            # a bare filter/missing bucket: doc_count only
            out = {name: {"doc_count": int(narrowed.count())}}
        else:
            # recursion unwraps nested single-bucket layers; the
            # inner envelope's depth-0 total IS this bucket's
            # doc_count (no second count pass for the bucket itself)
            inner, n = aggs_nested(narrowed, sub, with_total=True)
            out = {name: {"doc_count": int(n), **inner}}
        if with_total:
            # the caller's total is the MATCH-SET size (hits.total),
            # NOT the narrowed bucket's count — that needs its own
            # count pass on this path (the depth-0 row the regular
            # path reads for free belongs to the narrowed frame)
            return out, int(docs.count())
        return out
    spec, auto_labels = _resolve_auto_dh(docs, spec)
    chain, metrics, tophits, pipelines = parse_aggs(spec, docs.columns)
    for b in chain:
        if b.name in auto_labels:
            b.auto_label = auto_labels[b.name]
    flat = _rollup_flat(docs, chain, metrics)
    flat = _truncate_terms(flat, chain, metrics)
    rows = [r.asDict() for r in flat.limit(MAX_BUCKETS + 1).collect()]
    if len(rows) > MAX_BUCKETS:
        raise ValueError(
            f"aggregation produced more than {MAX_BUCKETS} buckets; "
            "narrow the query or raise the interval / lower terms sizes"
        )
    names = [b.name for b in chain]
    totals = _level_totals(chain)
    # pre-group the bucket rows by (depth, parent-key prefix) ONCE:
    # the fold below visits every bucket, and a per-bucket filter of
    # the full row list is O(|rows|²) driver time — ~4×10⁹ tuple
    # compares at the MAX_BUCKETS cap (minutes of driver CPU on a
    # deep dashboard) vs this one O(|rows|) pass. Keys go through
    # _hashable: an array-typed bucket field collects as a Python
    # list, which a dict key cannot hold (review finding — the
    # replaced equality filter compared lists fine).
    # The same pass folds sum_other_doc_count: a parent row's level
    # total minus the buckets kept under it (size-truncated and
    # min_doc_count-pruned buckets alike count as other). A
    # fabricated '__other__' row carries its level's total column
    # and is not a kept bucket.
    by_parent: dict[tuple, list[dict]] = {}
    other_maps: dict[int, dict[tuple, int]] = {}
    for r in rows:
        d = r["depth"]
        if d + 1 in totals:
            other_maps.setdefault(d + 1, {})[
                tuple(_hashable(r[n]) for n in names[:d])
            ] = r[totals[d + 1]]
    for r in rows:
        d = r["depth"]
        if d:
            prefix = tuple(_hashable(r[n]) for n in names[: d - 1])
            by_parent.setdefault((d, prefix), []).append(r)
            if d in totals and r[totals[d]] is None:
                other_maps[d][prefix] -= r["doc_count"]
    th_maps: dict[str, dict[tuple, list[dict]]] = {}
    for d, nodes in tophits.items():
        kept = (
            sorted({
                tuple(_hashable(r[n]) for n in names[:d])
                for r in rows if r["depth"] == d
            })
            if d else [()]
        )
        for node in nodes:
            th_maps[node.name] = _top_hits_map(docs, chain, node, d, kept)

    def _th_envelope(node: _TopHits, key: tuple, total: int) -> dict:
        hits = th_maps[node.name].get(key, [])
        return {"hits": {"total": total, "hits": hits}}

    fabricated = {"n": 0}  # gap-fill budget across ALL parents

    def level(depth: int, prefix: tuple) -> dict:
        """The aggs object INSIDE a depth-(depth-1) bucket: the
        depth-level bucket list (if the chain goes deeper) plus that
        bucket's declared metrics are attached by the caller."""
        out: dict = {}
        if depth > len(chain):
            return out
        b = chain[depth - 1]
        # copy: the gap-fill branch below replaces entries in place
        mine = list(by_parent.get((depth, prefix), ()))
        other_mine: list[dict] = []
        if b.typ == "terms" and b.other_bucket:
            # the merged '__other__' row never competes in the terms
            # order — Kibana renders it LAST, after the kept buckets
            other_mine = [r for r in mine if r[b.name] == "__other__"]
            mine = [r for r in mine if r[b.name] != "__other__"]
            # a REAL kept term equal to the sentinel is detectable
            # either way: with truncation the fabricated row makes
            # two sentinel rows; with NOTHING truncated (sum_other
            # 0 ⇔ no row merged ⇔ no fabricated row exists) the
            # lone sentinel row must be the real term — silently
            # re-labeling it as the Other slot would mislead the
            # consumer (review finding). Same reserved-sentinel
            # discipline Kibana itself assumes.
            if len(other_mine) > 1 or (
                other_mine
                and other_maps.get(depth, {}).get(prefix, 0) == 0
            ):
                raise ValueError(
                    f"terms agg {b.name!r}: a kept field value "
                    "collides with the reserved '__other__' sentinel "
                    "— disable other_bucket for this field, or "
                    "exclude the value"
                )
        if b.typ in ("terms", "multi_terms"):
            # mirror _terms_order_cols exactly (two-pass stable sorts:
            # tiebreak first, then the primary key with its direction;
            # an empty bucket's served value, or NULL last either
            # direction)
            if b.order_key == "_key":
                mine.sort(key=lambda r: r[b.name], reverse=not b.order_asc)
            elif b.order_key == "_count":
                mine.sort(key=lambda r: r[b.name])
                mine.sort(
                    key=lambda r: r["doc_count"], reverse=not b.order_asc
                )
            else:
                def served(r):
                    v = r[b.order_col]
                    return b.order_empty if v is None else v

                mine.sort(key=lambda r: r[b.name])
                valued = [r for r in mine if served(r) is not None]
                valued.sort(key=served, reverse=not b.order_asc)
                mine = valued + [r for r in mine if served(r) is None]
        elif b.typ in ("range", "date_range"):
            order = {
                label: i
                for i, (_, label) in enumerate(sorted(
                    zip(b.ranges, b.labels),
                    key=lambda rl: _lo_sort_key(rl[0]),
                ))
            }
            mine.sort(key=lambda r: order[r[b.name]])
        else:
            if b.min_doc_count > 1:
                # ES: drop buckets under the threshold (dense-timeline
                # knob's other direction)
                mine = [r for r in mine if r["doc_count"] >= b.min_doc_count]
            mine.sort(key=lambda r: r[b.name])
            if b.min_doc_count == 0:
                # dense timeline: interior gaps (and extended_bounds
                # stretch) become EMPTY buckets — doc_count 0, null
                # metrics, empty children — so a Kibana date axis
                # renders zeros instead of skipping days
                by_val = {r[b.name]: r for r in mine}
                mine = [
                    by_val.get(v, {"depth": depth, b.name: v, "doc_count": 0})
                    for v in _spine(b, list(by_val))
                ]
                # the per-parent spine cap cannot see ACROSS parents
                # (review finding: 1000 kept parents × an under-cap
                # spine each = millions of fabricated envelope
                # buckets); budget the fabrication globally too
                fabricated["n"] += len(mine) - len(by_val)
                if fabricated["n"] + len(rows) > MAX_BUCKETS:
                    raise ValueError(
                        "min_doc_count=0 would fill more than "
                        f"{MAX_BUCKETS} buckets across parents; raise "
                        "the interval or lower the parent terms size"
                    )
        mine.extend(other_mine)
        bounds = (
            {label: rng for rng, label in zip(b.ranges, b.labels)}
            if b.typ in ("range", "date_range")
            else {}
        )
        buckets = []
        for r in mine:
            key, key_str = _key_json(r[b.name])
            if b.typ == "date_histogram" and (
                b.time_zone is not None or b.fmt is not None
            ):
                # ES renders key_as_string in the request's zone /
                # format; key stays the UTC instant's epoch millis
                key_str = _dh_key_string(b, r[b.name])
            bucket: dict = {"key": key}
            if key_str is not None:
                bucket["key_as_string"] = key_str
            if b.typ == "range":
                lo, hi = bounds[r[b.name]]
                if lo is not None:
                    bucket["from"] = lo
                if hi is not None:
                    bucket["to"] = hi
            elif b.typ == "date_range":
                # ES date_range echoes epoch-ms from/to plus the
                # *_as_string ISO forms
                lo, hi = bounds[r[b.name]]
                if lo is not None:
                    bucket["from"], bucket["from_as_string"] = _key_json(lo)
                if hi is not None:
                    bucket["to"], bucket["to_as_string"] = _key_json(hi)
            bucket["doc_count"] = int(r["doc_count"])
            for m in metrics.get(depth, []):
                if m.hidden:
                    continue
                bucket[m.name] = _metric_json(m, r)
            for th in tophits.get(depth, []):
                bucket[th.name] = _th_envelope(
                    th, prefix + (_hashable(r[b.name]),), int(r["doc_count"])
                )
            bucket.update(level(depth + 1, prefix + (_hashable(r[b.name]),)))
            buckets.append(bucket)
        node: dict = {"buckets": buckets}
        if b.auto_label is not None:
            # ES's auto_date_histogram envelope names the interval it
            # chose
            node["interval"] = b.auto_label
        if b.typ in ("terms", "multi_terms"):
            node["sum_other_doc_count"] = other_maps.get(depth, {}).get(
                prefix, 0
            )
        out[b.name] = node
        return out

    root_rows = [r for r in rows if r["depth"] == 0]
    # rollup over EMPTY input yields zero rows (no grand-total row) —
    # the fallback supplies ES's doc_count-0 / metric-null envelope
    root = root_rows[0] if root_rows else {"doc_count": 0}
    out = {m.name: _metric_json(m, root) for m in metrics.get(0, [])}
    for th in tophits.get(0, []):
        out[th.name] = _th_envelope(th, (), int(root["doc_count"]))
    out.update(level(1, ()))
    if pipelines:
        # AFTER the fold: ES reduces pipelines over the FINAL bucket
        # list — the flat rows minus min_doc_count pruning plus
        # min_doc_count=0 gap fill (review finding: a pre-fold
        # computation saw pruned buckets and missed fabricated ones).
        # One envelope walk, O(total buckets).
        def leaves(node: dict, segs: list[str]) -> list[dict]:
            if not segs:
                return [node]
            got: list[dict] = []
            for bk in node.get(segs[0], {}).get("buckets", []):
                got.extend(leaves(bk, segs[1:]))
            return got

        def attach(node: dict, depth: int) -> None:
            if depth < len(chain):
                kids = node.get(chain[depth].name, {}).get(
                    "buckets", []
                )
                # PARENT pipelines declared inside chain[depth]'s
                # aggs walk THIS node's child list in its returned
                # order — per parent bucket, so each timeline derives
                # over its own series (ES's reduce point)
                for p in pipelines.get(depth + 1, []):
                    if not p.parent or p.typ in (
                        "bucket_selector", "bucket_sort"
                    ):
                        # both truncators run AFTER this value-walker
                        # loop, in their own blocks below
                        continue
                    if p.typ == "cumulative_sum":
                        # ES: every bucket serves the running total;
                        # null metric values (gap_policy skip) add
                        # nothing but the total still serves
                        run = 0.0
                        for bk in kids:
                            v = p.extract(bk)
                            if v is not None:
                                run += _pipe_num(p, v)
                            bk[p.name] = {"value": run}
                    elif p.typ == "derivative":
                        # ES: the first bucket (and any skipped-gap
                        # bucket) carries NO derivative entry; each
                        # valued bucket derives against the last
                        # valued one. With 'unit', normalized_value =
                        # diff / (key spacing / unit) — the per-unit
                        # rate, spacing taken from the ACTUAL epoch-ms
                        # keys so a gap-skipped hole normalizes over
                        # the real elapsed time.
                        prev = prev_key = None
                        for bk in kids:
                            v = p.extract(bk)
                            if v is None:
                                continue
                            cur = _pipe_num(p, v)
                            if prev is not None:
                                entry = {"value": cur - prev}
                                if p.unit_ms is not None:
                                    delta = bk["key"] - prev_key
                                    if delta <= 0:
                                        # defense in depth: the key
                                        # arithmetic guarantees
                                        # strictly increasing keys —
                                        # a zero spacing must 400,
                                        # never ZeroDivision-500
                                        raise ValueError(
                                            f"pipeline agg "
                                            f"{p.name!r}: "
                                            "non-increasing bucket "
                                            "keys under 'unit'"
                                        )
                                    entry["normalized_value"] = (
                                        (cur - prev) * p.unit_ms
                                        / delta
                                    )
                                bk[p.name] = entry
                            prev, prev_key = cur, bk["key"]
                    elif p.typ == "serial_diff":
                        # ES: diff against the value 'lag' VALUED
                        # buckets earlier — nulls (gap_policy skip)
                        # never enter the lag window, and the first
                        # 'lag' valued buckets carry no entry (like
                        # derivative's first)
                        from collections import deque

                        window: deque = deque()
                        for bk in kids:
                            v = p.extract(bk)
                            if v is None:
                                continue
                            cur = _pipe_num(p, v)
                            if len(window) == p.lag:
                                bk[p.name] = {
                                    "value": cur - window.popleft()
                                }
                            window.append(cur)
                    elif p.typ == "moving_fn":
                        # ES window placement: indices
                        # [i − window + shift, i + shift) clamped to
                        # the series — shift 0 (default) is the
                        # p.window values BEFORE the current bucket
                        # (current excluded), +1 slides right to
                        # include it, window/2 centers. gap_policy
                        # skip drops nulls from the window; an empty
                        # window serves null (the first bucket under
                        # shift 0 always does).
                        series = [
                            None if (v := p.extract(bk)) is None
                            else _pipe_num(p, v)
                            for bk in kids
                        ]
                        for i, bk in enumerate(kids):
                            lo = max(0, i - p.window + p.shift)
                            hi = max(0, min(len(series), i + p.shift))
                            wvals = [
                                v
                                for v in series[lo:hi]
                                if v is not None
                            ]
                            bk[p.name] = {
                                "value": p.fn(wvals) if wvals else None
                            }
                    else:  # bucket_script
                        # per-bucket arithmetic over the named paths;
                        # any null input = gap_policy skip (no entry,
                        # like derivative's first bucket)
                        for bk in kids:
                            vals = {
                                var: p.extract(bk, t)
                                for var, t in p.terminals.items()
                            }
                            if any(v is None for v in vals.values()):
                                continue
                            nums = {
                                k: _pipe_num(p, v)
                                for k, v in vals.items()
                            }
                            try:
                                bk[p.name] = {"value": p.script(nums)}
                            except ZeroDivisionError:
                                raise ValueError(
                                    f"pipeline agg {p.name!r}: script "
                                    "divided by zero — guard the "
                                    "denominator (e.g. multiply "
                                    "instead, or bucket_selector the "
                                    "zero buckets away first)"
                                ) from None
                # bucket_selector LAST: it drops buckets from the
                # RESPONSE only, after the value pipelines saw the
                # full series (a derivative next to a selector must
                # not derive across a hole the selector punched). A
                # null input keeps the bucket un-evaluated (ES's
                # gap_policy skip for selectors).
                selectors = [
                    p
                    for p in pipelines.get(depth + 1, [])
                    if p.typ == "bucket_selector"
                ]
                if selectors:
                    kept_kids = []
                    for bk in kids:
                        drop = False
                        for p in selectors:
                            vals = {
                                var: p.extract(bk, t)
                                for var, t in p.terminals.items()
                            }
                            if any(v is None for v in vals.values()):
                                continue
                            nums = {
                                k: _pipe_num(p, v)
                                for k, v in vals.items()
                            }
                            if not p.script(nums):
                                drop = True
                                break
                        if not drop:
                            kept_kids.append(bk)
                    node[chain[depth].name]["buckets"] = kept_kids
                    kids = kept_kids
                # bucket_sort LAST among the truncators: the series
                # walkers saw the full list, the selectors dropped
                # non-matching buckets, and THEN the survivors
                # re-sort/page into the response (ES's data-table
                # shape). gap_policy skip drops a bucket whose sort
                # path is null.
                for p in pipelines.get(depth + 1, []):
                    if p.typ != "bucket_sort":
                        continue
                    if p.sort_terminals:
                        decorated = []
                        for bk in kids:
                            ks = [
                                bk.get("key")
                                if t[0] == "_key"
                                else p.extract(bk, t)
                                for t, _ in p.sort_terminals
                            ]
                            if any(k is None for k in ks):
                                continue
                            decorated.append((ks, bk))
                        # stable multi-key: sort by each key from the
                        # LAST spec to the first, flipping per-key
                        for i in range(len(p.sort_terminals) - 1, -1, -1):
                            decorated.sort(
                                key=lambda kv: kv[0][i],
                                reverse=not p.sort_terminals[i][1],
                            )
                        kids = [bk for _, bk in decorated]
                    lo = p.sort_from
                    hi = (
                        None if p.sort_size is None
                        else lo + p.sort_size
                    )
                    kids = kids[lo:hi]
                    node[chain[depth].name]["buckets"] = kids
                for bk in kids:
                    attach(bk, depth + 1)
            for p in pipelines.get(depth, []):
                if p.parent:
                    continue
                lvs = leaves(node, p.segments[:-1])
                vals = [p.extract(leaf) for leaf in lvs]
                if p.typ in ("stats_bucket", "extended_stats_bucket"):
                    # multi-component envelope, not a scalar value
                    node[p.name] = p.reduce_env(vals)
                    continue
                red = p.reduce(vals)
                env: dict = {"value": _val_json(red)}
                if p.typ in ("min_bucket", "max_bucket"):
                    # ES serves the bucket key(s) holding the extreme
                    rv = env["value"]
                    env["keys"] = (
                        []
                        if red is None
                        else [
                            leaf.get("key_as_string", leaf.get("key"))
                            for leaf, v in zip(lvs, vals)
                            if v is not None and _val_json(v) == rv
                        ]
                    )
                node[p.name] = env

        attach(out, 0)
    if with_total:
        # the depth-0 doc_count IS the match-set size — callers that
        # need hits.total (match_all) read it here instead of paying
        # a second full scan for a count() (review finding)
        return out, int(root["doc_count"])
    return out


def _top_hits_map(
    docs: DataFrame,
    chain: list[_Bucket],
    node: _TopHits,
    depth: int,
    kept: list[tuple],
) -> dict[tuple, list[dict]]:
    """Per-bucket example documents for one ``top_hits`` node: ONE
    window pass over the matched docs — partition by the level-depth
    bucket keys, order by the node's sort (nulls last, doc_id
    tiebreak), keep rank ≤ size. ``kept`` (the post-truncation bucket
    keys, already collected for the envelope) bounds the pass: docs
    whose bucket was truncated away are semi-joined out BEFORE the
    window, so the shuffle carries only kept buckets' rows. The
    collect is ≤ |kept| × size rows, guarded against the same
    MAX_BUCKETS cap as the bucket frame."""
    if not kept:
        return {}
    if len(kept) * node.size > MAX_BUCKETS:
        raise ValueError(
            f"top_hits {node.name!r} would collect more than "
            f"{MAX_BUCKETS} rows ({len(kept)} buckets × size "
            f"{node.size}); lower the size or the bucket cardinality"
        )
    names = [b.name for b in chain[:depth]]
    keyed = docs.select(
        *[b.key_col().alias(b.name) for b in chain[:depth]],
        F.col("doc_id"),
        *{f for f in node.fields if f != "doc_id"},
    )
    for n in names:
        keyed = keyed.filter(F.col(n).isNotNull())
    if names and kept != [()]:
        spark = docs.sparkSession
        kept_df = spark.createDataFrame(
            [tuple(k) for k in kept],
            keyed.select(*names).schema,
        )
        keyed = keyed.join(F.broadcast(kept_df), names, "left_semi")
    order = [
        (
            F.col(f).asc_nulls_last() if asc else F.col(f).desc_nulls_last()
        )
        for f, asc in node.sort
    ] + [F.col("doc_id").asc()]
    if names:
        # partitions = the kept bucket keys: a one-bucket level runs
        # this window in one task (Spark's "No Partition Defined"
        # cousin) — intended: the input was semi-joined down to kept
        # buckets' docs and the output is ≤ |kept| × size (checked
        # above), so the rank never funnels the corpus anywhere.
        w = Window.partitionBy(*names).orderBy(*order)
        ranked_rows = [
            r.asDict()
            for r in keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= node.size)
            .collect()  # bounded: ≤ |kept| × size (checked)
        ]
    else:
        # root-level top_hits: an unpartitioned rank window would
        # funnel the whole match set through ONE task (review
        # finding); orderBy + limit runs as TakeOrderedAndProject —
        # the same per-task-bounded shape the composite path uses
        ranked_rows = [
            {**r.asDict(), "_rn": i}
            for i, r in enumerate(
                keyed.orderBy(*order).limit(node.size).collect(), start=1
            )
        ]
    grouped: dict[tuple, list[tuple[int, dict]]] = {}
    for d in ranked_rows:
        key = tuple(_hashable(d[n]) for n in names)
        hit = {"_id": d["doc_id"]}
        if node.sort:
            hit["sort"] = [_val_json(d[f]) for f, _ in node.sort]
        hit["_source"] = {f: _val_json(d[f]) for f in node.source}
        grouped.setdefault(key, []).append((int(d["_rn"]), hit))
    return {
        key: [hit for _, hit in sorted(pairs)]
        for key, pairs in grouped.items()
    }


# --- sort-by-field -----------------------------------------------------------


def parse_sort(sort, columns: list[str]) -> list[tuple[str, bool]]:
    """``[{"field": f, "order": "asc"|"desc"}, ...]`` → [(field,
    ascending)]. Every field must exist in the mounted doc_source
    (ES rejects unmapped sort fields the same way)."""
    if not isinstance(sort, list) or not sort:
        raise ValueError(
            "'sort' must be a non-empty list of "
            '{"field": ..., "order": "asc"|"desc"} objects'
        )
    out: list[tuple[str, bool]] = []
    for entry in sort:
        if not isinstance(entry, dict) or not isinstance(
            entry.get("field"), str
        ):
            raise ValueError(
                "each 'sort' entry needs a 'field' string, got "
                f"{entry!r}"
            )
        order = entry.get("order", "asc")
        if order not in ("asc", "desc"):
            raise ValueError(
                f"sort order must be 'asc' or 'desc', got {order!r}"
            )
        field = entry["field"]
        if field not in columns:
            raise ValueError(
                f"sort field {field!r} not in the mounted doc_source "
                f"(columns: {sorted(columns)})"
            )
        out.append((field, order == "asc"))
    return out


def sort_keys(sort: list[tuple[str, bool]]) -> list[Column]:
    """The sort fields of a doc-metadata frame as ``_sort_0..n``: the
    columns :func:`sort_rank` orders by and ES's per-hit ``sort``
    array reads."""
    return [F.col(f).alias(f"_sort_{i}") for i, (f, _) in enumerate(sort)]


def sort_rank(
    hits: DataFrame,
    sort: list[tuple[str, bool]],
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``sort``'s ranking rule over a frame that carries its sort
    keys (:func:`sort_keys`): per query by the keys (nulls last, ES's
    ``missing: _last``), ``id_col`` asc as the final tiebreak, cut at
    rank ≤ k. The rank REPLACES the relevance rank, so ``from``
    pagination's absolute ranks carry over; a score column rides
    along untouched."""
    order = [
        (
            F.col(f"_sort_{i}").asc_nulls_last()
            if asc
            else F.col(f"_sort_{i}").desc_nulls_last()
        )
        for i, (_, asc) in enumerate(sort)
    ] + [F.col(id_col).asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sorted_rank(
    hits: DataFrame,
    doc_source: DataFrame,
    sort: list[tuple[str, bool]],
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Re-rank a serve by document metadata fields (ES ``sort``):
    joins the sort keys from ``doc_source`` (left — a hit missing
    from the metadata sorts LAST, it is not silently dropped), then
    ranks by :func:`sort_rank`.

    Two shapes, one function: bm25 passes the FULL match set (deep
    sorted pages reach docs the relevance top-k would never nominate);
    the vector modes pass their already-cut top-k frame (ES kNN+sort
    re-orders within the k retrieved)."""
    meta = doc_source.select(
        F.col("doc_id").alias("_sort_doc_id"), *sort_keys(sort)
    )
    joined = hits.join(
        meta, hits[id_col] == meta["_sort_doc_id"], "left"
    ).drop("_sort_doc_id")
    return sort_rank(joined, sort, k, id_col)


# --- composite aggregation ----------------------------------------------------


def parse_composite(body: dict, columns: list[str]) -> tuple[
    list[_Bucket], list[_Metric], int, list | None
]:
    """ES ``composite`` agg: the SCALE path for bucket enumeration —
    a terms agg over a high-cardinality field (the reference's
    ``FULL_NAME`` panel at 100 TB) has more buckets than any response
    can hold, so ES pages them in key order with ``after``. Shape::

        {"size": N,
         "sources": [{"day": {"date_histogram": {...}}},
                     {"lang": {"terms": {...}}}],
         "after": {"day": 1704067200000, "lang": "en"}}

    ``sources`` each contribute one key column (terms /
    date_histogram / histogram — ``size``/``ranges`` make no sense
    inside a composite source and are rejected); sub-``aggs`` carry
    metrics for each composite bucket. Docs with a NULL source value
    are excluded by default (``missing_bucket: false``); a source
    with ``missing_bucket: true`` gives them an explicit null bucket
    ordered FIRST, and the ``after`` cursor may then carry null for
    that key (rejected for sources without it)."""
    if not isinstance(body, dict):
        raise ValueError("composite body must be an object")
    _strict_keys(
        "composite", "composite", body, {"sources", "size", "after", "aggs"}
    )
    sources = body.get("sources")
    if not isinstance(sources, list) or not sources:
        raise ValueError(
            "composite needs a non-empty 'sources' list of "
            "single-key {name: {type: {...}}} objects"
        )
    # composite sources enumerate the bucket space in KEY order —
    # terms size/order and histogram gap-fill knobs make no sense
    # here, so sources take a NARROWER key set than chain buckets
    src_keys = {
        "terms": {"field"},
        "date_histogram": {"field", "fixed_interval", "calendar_interval"},
        "histogram": {"field", "interval"},
    }
    keys: list[_Bucket] = []
    for entry in sources:
        if not isinstance(entry, dict) or len(entry) != 1:
            raise ValueError(
                f"each composite source is one {{name: spec}} object, "
                f"got {entry!r}"
            )
        (name, spec), = entry.items()
        if not isinstance(spec, dict) or len(spec) != 1:
            raise ValueError(
                f"composite source {name!r} needs exactly one type"
            )
        (typ, b), = spec.items()
        if typ not in src_keys:
            raise ValueError(
                f"composite source {name!r}: unsupported type {typ!r}"
            )
        if typ == "terms" and isinstance(b, dict) and "size" in b:
            raise ValueError(
                f"composite source {name!r}: 'size' belongs on the "
                "composite, not a source"
            )
        mb = False
        if isinstance(b, dict):
            b = dict(b)
            mb = b.pop("missing_bucket", False)
            if not isinstance(mb, bool):
                raise ValueError(
                    f"composite source {name!r}: 'missing_bucket' "
                    "must be a boolean"
                )
            _strict_keys(name, typ, b, src_keys[typ])
        bucket = _Bucket(name, typ, b)
        # ES composite missing_bucket: true puts null-keyed docs in an
        # explicit null bucket ordered FIRST (asc); false (default)
        # excludes them
        bucket.missing_bucket = mb
        keys.append(bucket)
    size = body.get("size", 10)
    if isinstance(size, bool) or not isinstance(size, int) or not (
        1 <= size <= MAX_BUCKETS
    ):
        raise ValueError(
            f"composite 'size' must be an integer in [1, {MAX_BUCKETS}]"
        )
    after = body.get("after")
    after_vals = None
    if after is not None:
        if not isinstance(after, dict) or set(after) != {
            k.name for k in keys
        }:
            raise ValueError(
                "'after' must carry exactly the source keys "
                f"{[k.name for k in keys]}"
            )
        after_vals = [after[k.name] for k in keys]
        for k, v in zip(keys, after_vals):
            if v is None and not k.missing_bucket:
                raise ValueError(
                    f"'after' value for {k.name!r} is null but the "
                    "source has missing_bucket: false — null is not a "
                    "bucket key there"
                )
    names = {k.name for k in keys}
    if len(names) != len(keys):
        raise ValueError("duplicate composite source names")
    sub_aggs = body.get("aggs")
    if sub_aggs is not None and not isinstance(sub_aggs, dict):
        # a truthy non-dict (string, list) would AttributeError below
        # — a 500 for what is the caller's malformed body (advice)
        raise ValueError("composite 'aggs' must be an object")
    metrics: list[_Metric] = []
    for mname, mbody in (sub_aggs or {}).items():
        typs = [t for t in mbody if t != "aggs"] if isinstance(
            mbody, dict
        ) else []
        if len(typs) != 1 or typs[0] not in _METRIC_TYPES:
            raise ValueError(
                f"composite sub-agg {mname!r} must be a metric "
                f"({_METRIC_TYPES})"
            )
        if mname in names or mname in ("doc_count",):
            raise ValueError(f"agg name {mname!r} is reserved")
        metrics.append(_Metric(mname, typs[0], mbody[typs[0]]))
    for k in keys:
        if k.field not in columns:
            raise ValueError(
                f"composite source {k.name!r}: field {k.field!r} not in "
                f"the mounted doc_source (columns: {sorted(columns)})"
            )
    for m in metrics:
        if m.field not in columns:
            raise ValueError(
                f"composite sub-agg {m.name!r}: field {m.field!r} not "
                f"in the mounted doc_source (columns: {sorted(columns)})"
            )
        if m.field in names:
            raise ValueError(
                f"composite source name {m.field!r} collides with a "
                "metric field — rename the source"
            )
    return keys, metrics, size, after_vals


def _after_predicate(keys: list[_Bucket], after_vals: list) -> Column:
    """Lexicographic (k1, k2, …) > (a1, a2, …) as an OR-of-ANDs
    predicate — sargable, so partition pruning on a leading date key
    survives; the date source's ``after`` value is epoch millis
    (exactly what the response's ``after_key`` carried)."""
    import datetime

    def lit(k: _Bucket, v):
        if k.typ == "date_histogram" and isinstance(v, (int, float)):
            return F.lit(
                datetime.datetime(1970, 1, 1)
                + datetime.timedelta(milliseconds=int(v))
            )
        return F.lit(v)

    clauses = []
    for i, k in enumerate(keys):
        eq = []
        for j in range(i):
            vj = after_vals[j]
            # a null cursor component (the missing bucket) equals only
            # null keys; a plain == would be three-valued NULL there
            eq.append(
                F.col(keys[j].name).isNull()
                if vj is None
                else F.col(keys[j].name) == lit(keys[j], vj)
            )
        vi = after_vals[i]
        if vi is None:
            # strictly after the missing bucket (which orders FIRST):
            # every non-null key qualifies
            gt = F.col(k.name).isNotNull()
        else:
            # null keys fail `> v` (three-valued → false), which is
            # exactly right: the missing bucket precedes every value,
            # so it must not reappear after a non-null cursor
            gt = F.col(k.name) > lit(k, vi)
        clause = gt
        for e in eq:
            clause = e & clause
        clauses.append(clause)
    out = clauses[0]
    for c in clauses[1:]:
        out = out | c
    return out


def composite_flat(docs: DataFrame, body: dict) -> DataFrame:
    """One page of composite buckets as a DataFrame: groupBy the
    source keys (ONE shuffle, map-side partials), drop null-keyed
    docs (ES ``missing_bucket: false`` default; keep them as a
    first-ordered null bucket when the source sets it true), seek
    past ``after`` lexicographically, order by the key tuple, LIMIT
    size — Catalyst
    executes the tail as TakeOrderedAndProject, so a page over a
    million-bucket space never materializes more than ``size``
    buckets per task. Columns: the source keys, ``doc_count``, one
    column per metric."""
    keys, metrics, size, after_vals = parse_composite(body, docs.columns)
    keyed = docs.select(
        *[k.key_col().alias(k.name) for k in keys],
        *{m.field for m in metrics},
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("doc_count")]
    for m in metrics:
        aggs.extend(m.exprs())
    g = keyed.groupBy(*[F.col(k.name) for k in keys]).agg(*aggs)
    for k in keys:
        if not k.missing_bucket:
            g = g.filter(F.col(k.name).isNotNull())
    if after_vals is not None:
        g = g.filter(_after_predicate(keys, after_vals))
    # missing buckets (null keys) order FIRST under asc — ES's
    # missing_bucket placement; explicit so the plan never depends on
    # an engine default
    return g.orderBy(
        *[F.col(k.name).asc_nulls_first() for k in keys]
    ).limit(size)


def composite_nested(docs: DataFrame, body: dict) -> dict:
    """ES's composite response envelope: ``buckets`` (each key a
    {name: value} object, dates as epoch millis) in key order, plus
    ``after_key`` = the last bucket's key on EVERY non-empty page
    (ES's wire shape — partial final pages included; the consumer's
    stop signal is the next page coming back empty). The page is one
    LIMIT-bounded plan, so nothing here needs pinning."""
    keys, metrics, _size, _ = parse_composite(body, docs.columns)
    rows = [r.asDict() for r in composite_flat(docs, body).collect()]
    buckets = []
    for r in rows:
        key = {}
        for k in keys:
            v, _s = _key_json(r[k.name])
            key[k.name] = v
        bucket = {"key": key, "doc_count": int(r["doc_count"])}
        for m in metrics:
            bucket[m.name] = _metric_json(m, r)
        buckets.append(bucket)
    out: dict = {"buckets": buckets}
    # ES emits after_key whenever the response HAS buckets — including
    # a partial final page (clients keying on after_key presence see
    # ES's wire shape; termination is the next page coming back empty)
    if buckets:
        out["after_key"] = buckets[-1]["key"]
    return out


# --- filters aggregation -------------------------------------------------------


def _filter_preds(
    body: dict, docs: DataFrame
) -> tuple[dict[str, Column], dict | None]:
    """The filters agg's shared front half: the named predicate map
    (each a query-DSL node over the doc metadata) plus the validated
    sub-``aggs`` object (None when absent). Both serve paths —
    metrics-only conditional aggregation and the bucket-chain
    explode — build on this."""
    if not isinstance(body, dict):
        raise ValueError("filters body must be an object")
    _strict_keys("filters", "filters", body, {"filters", "aggs"})
    named = body.get("filters")
    if not isinstance(named, dict) or not named:
        raise ValueError(
            "'filters' takes a non-empty {name: <query DSL>} object "
            "(ES's named-filters form)"
        )
    if len(named) > 64:
        raise ValueError(
            "filters agg: at most 64 named filters per request (each "
            "adds a column set to the one-pass aggregate)"
        )
    preds: dict[str, Column] = {}
    for fname, node in named.items():
        if not isinstance(fname, str) or not fname:
            raise ValueError(
                f"filters agg: filter names must be non-empty strings, "
                f"got {fname!r}"
            )
        texts, opt_texts, pred = parse_query_dsl(node, docs)
        if texts or opt_texts:
            raise ValueError(
                f"filters agg {fname!r}: 'match' clauses are not "
                "served here (filters are metadata predicates; put "
                "text in the request's own query)"
            )
        # match_all is a legitimate filter (the everything bucket)
        preds[fname] = pred if pred is not None else F.lit(True)
    sub = body.get("aggs")
    if sub is not None and not isinstance(sub, dict):
        # same caller-fixable 400 as parse_composite: a truthy
        # non-dict would AttributeError into the 500 bucket (advice)
        raise ValueError("filters 'aggs' must be an object")
    return preds, sub


def filters_has_bucket(body: dict) -> bool:
    """True when the filters agg's sub-``aggs`` carry a bucket agg —
    the split-by-filters × date-axis Kibana panel — which routes to
    the explode/rollup path instead of the one-pass conditional
    aggregate."""
    sub = body.get("aggs") if isinstance(body, dict) else None
    if not isinstance(sub, dict):
        return False
    return any(
        isinstance(v, dict) and any(t in _BUCKET_TYPES for t in v)
        for v in sub.values()
    )


def parse_filters(
    body: dict, docs: DataFrame
) -> tuple[dict[str, Column], list[_Metric]]:
    """ES ``filters`` agg (the Kibana "split by filters" control):
    NAMED predicates over the doc metadata, each a query-DSL node
    (term/terms/range/exists/bool — ``match`` is rejected: filters
    are metadata-only; text belongs to the request's own query).
    Unlike chain buckets a doc may land in SEVERAL filters — which is
    exactly why this cannot ride the shared rollup (multi-membership
    would double-count parents) and is compiled instead as ONE
    conditional-aggregation pass; like ``composite``, it must be the
    only aggregation in the request. This parser serves the
    METRICS-ONLY form; a bucket chain inside the sub-aggs routes
    through the explode path (:func:`filters_has_bucket` →
    :func:`_filters_chain_nested` / :func:`filters_chain_flat`)."""
    preds, sub_aggs = _filter_preds(body, docs)
    return preds, _parse_filter_metrics(sub_aggs, docs)


def _parse_filter_metrics(
    sub_aggs: dict | None,
    docs: DataFrame,
    reserved: set[str] | None = None,
) -> list[_Metric]:
    """The metrics-only sub-``aggs`` contract shared by the one-pass
    filters path and both sides of the filters×filters product."""
    reserved = {"doc_count"} | (reserved or set())
    metrics: list[_Metric] = []
    for mname, mbody in (sub_aggs or {}).items():
        typs = [t for t in mbody if t != "aggs"] if isinstance(
            mbody, dict
        ) else []
        if len(typs) != 1 or typs[0] not in _METRIC_TYPES:
            raise ValueError(
                f"filters sub-agg {mname!r} must be a metric "
                f"({_METRIC_TYPES}) — a bucket chain routes through "
                "the explode path (filters_nested/filters_chain_flat)"
            )
        m = _Metric(mname, typs[0], mbody[typs[0]])
        for col in {m.name, *m.columns}:
            if col in reserved:
                raise ValueError(f"agg column {col!r} is reserved")
            reserved.add(col)
        if m.field not in docs.columns:
            raise ValueError(
                f"filters sub-agg {mname!r}: field {m.field!r} not in "
                f"the mounted doc_source (columns: "
                f"{sorted(docs.columns)})"
            )
        metrics.append(m)
    return metrics


def _filters_row(docs: DataFrame, body: dict):
    """The ONE distributed pass behind both filters surfaces: every
    filter's doc_count and metrics as conditional aggregates
    (``F.when(pred, field)`` — a null where the predicate fails, so
    count/avg/percentile see only that filter's docs) in a single
    global aggregate with map-side partials. Filters may OVERLAP (a
    doc counts in each it matches — ES) because each column set is
    independent. Returns (ordered names, metrics, the collected
    single row) — a bounded collect by construction (one row)."""
    preds, metrics = parse_filters(body, docs)
    names = list(preds)
    aggs: list[Column] = []
    for i, fname in enumerate(names):
        pred = preds[fname]
        aggs.append(
            # coalesce: a global sum over an EMPTY match set is NULL,
            # and the envelope's int() / the flat frame's non-null
            # doc_count must see 0
            F.coalesce(F.sum(F.when(pred, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"f{i}__doc_count")
        )
        for m in metrics:
            # index-prefixed aliases: filter NAMES are arbitrary
            # strings and must never reach a column identifier
            aggs.extend(
                m.exprs(
                    F.when(pred, F.col(m.field)), prefix=f"f{i}__"
                )
            )
    agg_df = docs.agg(*aggs)
    row = agg_df.collect()[0].asDict()  # bounded: ONE row
    dtypes = {f.name: f.dataType for f in agg_df.schema.fields}
    return names, metrics, row, dtypes


def filters_flat(docs: DataFrame, body: dict) -> DataFrame:
    """The filters agg as a flat DataFrame — one row per named filter
    (columns: ``filter``, ``doc_count``, one per metric) in the
    request's filter order. This is the gate-row surface: a DuckDB
    ``agg FILTER (WHERE ...)`` union rebuilds it exactly. Built from
    the one-pass aggregate's single collected row with its OWN
    schema (inference would fail on an all-null metric column)."""
    from pyspark.sql import types as T

    names, metrics, row, dtypes = _filters_row(docs, body)
    cols = [c for m in metrics for c in m.columns]
    schema = T.StructType(
        [
            T.StructField("filter", T.StringType(), False),
            T.StructField("doc_count", T.LongType(), False),
            *[
                T.StructField(c, dtypes[f"f0__{c}"], True)
                for c in cols
            ],
        ]
    )
    data = [
        tuple(
            [fname, row[f"f{i}__doc_count"]]
            + [row[f"f{i}__{c}"] for c in cols]
        )
        for i, fname in enumerate(names)
    ]
    return docs.sparkSession.createDataFrame(data, schema)


def filters_nested(docs: DataFrame, body: dict) -> dict:
    """ES's named-filters response envelope: ``buckets`` is an OBJECT
    keyed by filter name (the named form's wire shape), each bucket
    carrying ``doc_count`` and its metrics — and, when the sub-aggs
    carry a bucket chain (Kibana's split-by-filters × date-axis
    panel), that chain's nested buckets via the explode path; a
    nested FILTERS agg (Kibana's two filters splits) routes to the
    one-pass product path."""
    if filters_has_bucket(body):
        return _filters_chain_nested(docs, body)
    if _product_inner_name(body) is not None:
        return _filters_product_nested(docs, body)
    names, metrics, row, _ = _filters_row(docs, body)
    buckets: dict = {}
    for i, fname in enumerate(names):
        bucket: dict = {"doc_count": int(row[f"f{i}__doc_count"])}
        for m in metrics:
            bucket[m.name] = _metric_json(
                m, {c: row[f"f{i}__{c}"] for c in m.columns}
            )
        buckets[fname] = bucket
    return {"buckets": buckets}


#: the synthetic top level the explode path adds; user agg names
#: collide with neither (parse_aggs rejects duplicates, and this name
#: is reserved by construction below)
_FILTER_KEY = "_filters_chain"


def _filters_exploded(
    docs: DataFrame, body: dict
) -> tuple[list[str], DataFrame, dict]:
    """The filters-with-bucket-chain front half: ONE pass tags each
    doc with every filter it matches (an array of matched names,
    null-compacted, exploded — a doc in k filters becomes k rows,
    which is exactly ES's multi-membership), and the filter name
    becomes the TOP level of a REGULAR bucket chain: the whole
    existing rollup/truncation/envelope machinery applies unchanged
    one level down. Docs matching no filter explode away. The
    synthetic terms level's size equals the filter count — never
    truncates — so the one logical pass stays bucket-bounded exactly
    like every aggs tree (MAX_BUCKETS guards the total)."""
    preds, sub = _filter_preds(body, docs)
    if _FILTER_KEY in docs.columns:
        raise ValueError(
            f"the mounted doc_source reserves no {_FILTER_KEY!r} "
            "column — rename it to serve a filters bucket chain"
        )
    arr = F.array(*[
        F.when(pred, F.lit(fname)) for fname, pred in preds.items()
    ])
    exploded = docs.withColumn(
        _FILTER_KEY,
        F.explode(F.filter(arr, lambda x: x.isNotNull())),
    )
    spec = {
        _FILTER_KEY: {
            "terms": {"field": _FILTER_KEY, "size": len(preds)},
            "aggs": sub,
        }
    }
    return list(preds), exploded, spec


def _filters_zero_bucket(
    chain: list[_Bucket],
    metrics: dict[int, list[_Metric]],
    tophits: dict[int, list[_TopHits]],
    pipelines: dict[int, list[_PipelineAgg]],
) -> dict:
    """What ES serves for a filter nothing matched: doc_count 0, the
    metric envelope over no rows, an EMPTY child bucket list, sibling
    pipelines reduced over zero buckets. (The rollup cannot emit a
    zero-group, so the envelope fabricates it — same honesty as
    min_doc_count=0 gap fill.)"""
    bucket: dict = {"doc_count": 0}
    for m in metrics.get(1, []):
        if not m.hidden:
            bucket[m.name] = _metric_json(m, {})
    for th in tophits.get(1, []):
        bucket[th.name] = {"hits": {"total": 0, "hits": []}}
    if len(chain) > 1:
        child: dict = {"buckets": []}
        if chain[1].typ in ("terms", "multi_terms"):
            child["sum_other_doc_count"] = 0
        bucket[chain[1].name] = child
    for p in pipelines.get(1, []):
        if not p.parent:
            bucket[p.name] = {"value": _val_json(p.reduce([]))}
    return bucket


def _filters_chain_parsed(docs: DataFrame, body: dict):
    """Explode + parse + the chain-path contract checks shared by the
    envelope serve and the REST fail-fast: a ``bucket_selector`` at
    the FILTERS level would drop filter buckets that the zero-fill
    re-adds as doc_count-0 — the named envelope cannot distinguish
    "selector dropped" from "nothing matched" (self-review finding) —
    so it is refused with the client-side remediation named."""
    names, exploded, spec = _filters_exploded(docs, body)
    parsed = parse_aggs(spec, exploded.columns)
    if any(p.typ == "bucket_selector" for p in parsed[3].get(1, [])):
        raise ValueError(
            "bucket_selector at the filters level is not served (a "
            "dropped filter is indistinguishable from a no-match "
            "filter in the named envelope) — nest it under the "
            "bucket chain, or drop the named buckets client-side"
        )
    return names, exploded, spec, parsed


def _filters_chain_nested(docs: DataFrame, body: dict) -> dict:
    """The named-filters envelope with a bucket chain inside each
    filter: run the exploded frame through the regular nested fold,
    then re-key the synthetic top level by filter name (ES's OBJECT
    bucket shape) and zero-fill filters nothing matched."""
    names, exploded, spec, parsed = _filters_chain_parsed(docs, body)
    chain, metrics, tophits, pipelines = parsed
    env = aggs_nested(exploded, spec)
    node = env[_FILTER_KEY]
    buckets: dict = {}
    for bk in node["buckets"]:
        key = bk.pop("key")
        bk.pop("key_as_string", None)
        buckets[key] = bk
    if len(buckets) < len(names):
        for fname in names:
            if fname not in buckets:
                buckets[fname] = _filters_zero_bucket(
                    chain, metrics, tophits, pipelines
                )
    # request order, like the one-pass path
    return {"buckets": {n: buckets[n] for n in names}}


def validate_filters(body: dict, docs: DataFrame) -> None:
    """Parse-for-validation of any filters form — metrics-only,
    bucket-chain, or filters×filters product — without running a job
    (the REST layer's fail-fast pass before the mode branch does real
    work)."""
    if filters_has_bucket(body):
        _filters_chain_parsed(docs, body)
    elif _product_inner_name(body) is not None:
        _filters_product_parsed(docs, body)
    else:
        parse_filters(body, docs)


def filters_chain_flat(docs: DataFrame, body: dict) -> DataFrame:
    """The filters-with-bucket-chain agg as a flat DataFrame — the
    gate-row surface: the exploded frame's rollup rows at depth ≥ 1
    (depth 0 would count doc-filter PAIRS — meaningless under
    multi-membership, and the filters envelope serves no grand-total
    row), with the synthetic key column renamed ``filter``. A DuckDB
    per-filter GROUP BY ROLLUP union rebuilds it exactly."""
    if not filters_has_bucket(body):
        raise ValueError(
            "filters_chain_flat serves filters aggs WITH a bucket "
            "chain — metrics-only bodies are filters_flat's one-pass "
            "path"
        )
    _names, exploded, spec = _filters_exploded(docs, body)
    flat = aggs_flat(exploded, spec)
    return flat.filter(F.col("depth") >= 1).withColumnRenamed(
        _FILTER_KEY, "filter"
    )


# --- filters × filters product (Kibana's two filters splits) -------------------


def _product_inner_name(body: dict) -> str | None:
    """Name of the single nested filters agg inside a filters body's
    sub-``aggs`` (the filters×filters product marker), or None. Two
    nested filters at one level is a 400 — the named envelope has one
    slot per sub-agg name but the PAIR grid would be ambiguous to a
    Kibana consumer, and no panel shape emits it."""
    sub = body.get("aggs") if isinstance(body, dict) else None
    if not isinstance(sub, dict):
        return None
    hits = [
        k for k, v in sub.items() if isinstance(v, dict) and "filters" in v
    ]
    if len(hits) > 1:
        raise ValueError(
            "at most one nested filters agg per filters level — got "
            f"{sorted(hits)}"
        )
    return hits[0] if hits else None


def _filters_product_parsed(docs: DataFrame, body: dict):
    """Parse both levels of a filters×filters product: outer named
    predicates, the inner filters agg's named predicates, outer
    metric SIBLINGS of the nested filters (computed over the outer
    filter's docs — ES's sub-agg contract), and the inner's
    metrics-only leaf. Depth is capped at two levels and the pair
    grid at 64 (same bound discipline as the 64-filter cap: each
    pair adds one conditional column set to the one-pass
    aggregate)."""
    preds, sub = _filter_preds(body, docs)
    inner_name = _product_inner_name(body)
    inner_node = sub[inner_name]
    # the inner arrives in ES NODE shape ({"filters": {"filters":
    # named}, "aggs": metrics} — only the TOP level is normalized by
    # the REST entry); normalize to the serve-level form here
    extra = set(inner_node) - {"filters", "aggs"}
    if extra:
        raise ValueError(
            f"nested filters agg {inner_name!r}: unknown keys "
            f"{sorted(extra)}"
        )
    es_body = inner_node.get("filters")
    if not isinstance(es_body, dict) or not isinstance(
        es_body.get("filters"), dict
    ):
        raise ValueError(
            f"nested filters agg {inner_name!r} takes ES's named "
            "form: {'filters': {'filters': {name: <query DSL>}}}"
        )
    inner_body = dict(es_body)
    if "aggs" in inner_node:
        inner_body["aggs"] = inner_node["aggs"]
    if filters_has_bucket(inner_body):
        raise ValueError(
            "a bucket chain under the INNER filters level is not "
            "served — nest the chain under the outer filters and "
            "drop one split, or move the chain above the product"
        )
    if _product_inner_name(inner_body) is not None:
        raise ValueError(
            "filters nesting is served two levels deep "
            "(outer × inner) — a third filters level would cube the "
            "pair grid"
        )
    ipreds, isub = _filter_preds(inner_body, docs)
    if len(preds) * len(ipreds) > 64:
        raise ValueError(
            "filters × filters product capped at 64 pairs (each "
            "pair adds a conditional column set to the one-pass "
            f"aggregate) — got {len(preds)}×{len(ipreds)}"
        )
    # cross-level reservation (review finding): the flat gate surface
    # lays BOTH levels' metric columns side by side next to the
    # filter/filter2 key columns — a same-named metric at the two
    # levels (legal per-level in ES) or a metric named 'filter'/
    # 'filter2' would mint a duplicate StructType field, making
    # select() ambiguous and Row-by-name access silently wrong
    keys = {"filter", "filter2"}
    outer_metrics = _parse_filter_metrics(
        {k: v for k, v in sub.items() if k != inner_name},
        docs,
        reserved=keys | {inner_name},
    )
    inner_metrics = _parse_filter_metrics(
        isub,
        docs,
        reserved=keys | {c for m in outer_metrics
                         for c in (m.name, *m.columns)},
    )
    return preds, inner_name, ipreds, outer_metrics, inner_metrics


def filters_product_agg_df(
    docs: DataFrame, body: dict
) -> tuple[list[str], str, list[str], list, list, DataFrame]:
    """The ONE distributed pass behind the product, UNCOLLECTED:
    doc_count and metrics for every outer filter AND every (outer,
    inner) pair as conditional aggregates in a single global
    aggregate with map-side partials — where Kibana would fire one
    request per outer filter (or ES would walk an n×m bucket tree),
    this is one corpus scan whose column count is the pair grid,
    flat in the data size. Public so the plan-shape guard can pin
    the one-pass compilation (the serve collects its single row)."""
    parsed = _filters_product_parsed(docs, body)
    preds, inner_name, ipreds, om, im = parsed
    names, inames = list(preds), list(ipreds)
    aggs: list[Column] = []
    for i, fname in enumerate(names):
        p = preds[fname]
        aggs.append(
            F.coalesce(F.sum(F.when(p, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"f{i}__doc_count")
        )
        for m in om:
            aggs.extend(
                m.exprs(F.when(p, F.col(m.field)), prefix=f"f{i}__")
            )
        for j, gname in enumerate(inames):
            q = p & ipreds[gname]
            aggs.append(
                F.coalesce(F.sum(F.when(q, 1).otherwise(0)), F.lit(0))
                .cast("bigint")
                .alias(f"f{i}_g{j}__doc_count")
            )
            for m in im:
                aggs.extend(
                    m.exprs(
                        F.when(q, F.col(m.field)), prefix=f"f{i}_g{j}__"
                    )
                )
    return names, inner_name, inames, om, im, docs.agg(*aggs)


def _filters_product_row(docs: DataFrame, body: dict):
    """:func:`filters_product_agg_df` collected — bounded by
    construction (one row)."""
    names, inner_name, inames, om, im, agg_df = filters_product_agg_df(
        docs, body
    )
    row = agg_df.collect()[0].asDict()  # bounded: ONE row
    dtypes = {f.name: f.dataType for f in agg_df.schema.fields}
    return names, inner_name, inames, om, im, row, dtypes


def _filters_product_nested(docs: DataFrame, body: dict) -> dict:
    """The product's ES wire shape: the outer named envelope, each
    outer bucket carrying its doc_count, its metric siblings, and
    the inner filters agg's own named envelope over the
    intersection. Zero pairs need no fabrication — the conditional
    aggregate serves every named cell, empty ones at doc_count 0
    (exactly ES, which enumerates named filters regardless of
    matches)."""
    names, inner_name, inames, om, im, row, _ = _filters_product_row(
        docs, body
    )
    buckets: dict = {}
    for i, fname in enumerate(names):
        bucket: dict = {"doc_count": int(row[f"f{i}__doc_count"])}
        for m in om:
            bucket[m.name] = _metric_json(
                m, {c: row[f"f{i}__{c}"] for c in m.columns}
            )
        inner: dict = {}
        for j, gname in enumerate(inames):
            g: dict = {"doc_count": int(row[f"f{i}_g{j}__doc_count"])}
            for m in im:
                g[m.name] = _metric_json(
                    m, {c: row[f"f{i}_g{j}__{c}"] for c in m.columns}
                )
            inner[gname] = g
        bucket[inner_name] = {"buckets": inner}
        buckets[fname] = bucket
    return {"buckets": buckets}


def filters_product_flat(docs: DataFrame, body: dict) -> DataFrame:
    """The filters×filters product as a flat DataFrame — the
    gate-row surface: one row per outer filter (``filter2`` null,
    outer metrics) plus one per (outer, inner) pair (inner
    metrics), in request order. A DuckDB FILTER(WHERE ...) union
    over the same predicates rebuilds it exactly."""
    from pyspark.sql import types as T

    if _product_inner_name(body) is None:
        raise ValueError(
            "filters_product_flat serves filters aggs with a NESTED "
            "filters agg — single-level bodies are "
            "filters_flat/filters_chain_flat"
        )
    names, _inner_name, inames, om, im, row, dtypes = (
        _filters_product_row(docs, body)
    )
    ocols = [c for m in om for c in m.columns]
    icols = [c for m in im for c in m.columns]
    schema = T.StructType(
        [
            T.StructField("filter", T.StringType(), False),
            T.StructField("filter2", T.StringType(), True),
            T.StructField("doc_count", T.LongType(), False),
            *[
                T.StructField(c, dtypes[f"f0__{c}"], True)
                for c in ocols
            ],
            *[
                T.StructField(c, dtypes[f"f0_g0__{c}"], True)
                for c in icols
            ],
        ]
    )
    data = []
    for i, fname in enumerate(names):
        data.append(tuple(
            [fname, None, row[f"f{i}__doc_count"]]
            + [row[f"f{i}__{c}"] for c in ocols]
            + [None] * len(icols)
        ))
        for j, gname in enumerate(inames):
            data.append(tuple(
                [fname, gname, row[f"f{i}_g{j}__doc_count"]]
                + [None] * len(ocols)
                + [row[f"f{i}_g{j}__{c}"] for c in icols]
            ))
    return docs.sparkSession.createDataFrame(data, schema)


# --- the REST aggregation entry -----------------------------------------------


def _sole_entry(spec, typ: str) -> tuple[str, dict] | None:
    """(name, body) when ``spec`` holds a ``typ`` agg (``composite`` or
    ``filters``) — which, like in ES, must be the ONLY aggregation in
    the request: composite pages the bucket space, and filters'
    multi-membership cannot ride the shared rollup chain. Sub-aggs
    are a SIBLING of the type key in ES's node shape; the body comes
    back in the serve-level ``{typ body..., aggs: {...}}`` form."""
    if not isinstance(spec, dict):
        return None
    found = [
        (name, body)
        for name, body in spec.items()
        if isinstance(body, dict) and typ in body
    ]
    if not found:
        return None
    if len(found) > 1 or len(spec) > 1:
        raise ValueError(
            f"a {typ} agg must be the only aggregation in the request "
            "(send siblings as separate requests)"
        )
    name, body = found[0]
    extra = set(body) - {typ, "aggs"}
    if extra:
        raise ValueError(f"{typ} agg {name!r}: unknown keys {sorted(extra)}")
    if not isinstance(body[typ], dict):
        raise ValueError(
            f"{typ} agg {name!r}: the '{typ}' body must be an object"
        )
    node = dict(body[typ])
    if "aggs" in body:
        # the inside-the-body form stays accepted; the sibling wins
        node["aggs"] = body["aggs"]
    return name, node


def validate_aggs(spec, docs: DataFrame) -> None:
    """The REST door's check of an ``aggs`` body against the mounted
    doc_source — every caller-fixable mistake is a ValueError before
    any job runs. Single-bucket filter/missing layers unwrap job-free
    (their predicates compile lazily); ``auto_date_histogram`` is
    validated in stub mode (its min/max pass runs in
    :func:`aggregate`, over the matched frame)."""
    comp = _sole_entry(spec, "composite")
    filt = _sole_entry(spec, "filters")
    if comp is not None:
        parse_composite(comp[1], docs.columns)
        return
    if filt is not None:
        validate_filters(filt[1], docs)
        return
    inner = spec
    while (sb := _single_bucket_entry(docs, inner)) is not None:
        inner = sb[2]
    if not inner:
        return
    if (_sole_entry(inner, "composite") is not None
            or _sole_entry(inner, "filters") is not None):
        raise ValueError(
            "composite/filters aggs are not served inside a "
            "filter/missing agg — send them with the predicate in "
            "query.bool.filter"
        )
    stubbed, _ = _resolve_auto_dh(docs, inner, resolve=False)
    parse_aggs(stubbed, docs.columns)


def aggregate(docs: DataFrame, spec) -> tuple[dict, int | None]:
    """The ``aggregations`` envelope of a validated ``aggs`` body over
    the matched frame, plus the match-set size when the plan yields it
    for free (a tree's depth-0 rollup row). A composite page or a
    filters agg has no depth-0 row, so their total is None and the
    caller pays one count() if it needs one."""
    comp = _sole_entry(spec, "composite")
    if comp is not None:
        return {comp[0]: composite_nested(docs, comp[1])}, None
    filt = _sole_entry(spec, "filters")
    if filt is not None:
        return {filt[0]: filters_nested(docs, filt[1])}, None
    return aggs_nested(docs, spec, with_total=True)


# --- Kibana saved-object translation ------------------------------------------


def _kql_tokens(q: str) -> list[tuple]:
    """Quote-aware KQL lexer: ``(``/``)`` tokens, word-delimited
    ``and``/``or``/``not`` keyword tokens (case-insensitive, only
    when standing alone — ``brand: android`` stays one atom), and
    ATOM tokens holding the raw ``field: value`` / comparison text
    between them. Double quotes suppress everything — a quoted
    literal like ``title: "a and b"`` is ONE value (review finding:
    a naive re.split cut inside the quotes and silently served a
    different split than the panel shows)."""
    import re

    toks: list[tuple] = []
    buf: list[str] = []

    def flush() -> None:
        s = "".join(buf).strip()
        if s:
            toks.append(("ATOM", s))
        buf.clear()

    i, n, in_q = 0, len(q), False
    while i < n:
        ch = q[i]
        if ch == '"':
            in_q = not in_q
            buf.append(ch)
            i += 1
            continue
        if not in_q:
            if ch in "()":
                flush()
                toks.append((ch,))
                i += 1
                continue
            # a closing quote is a token boundary too (review
            # finding: 't: "x"or u: y' is valid KQL — Kibana parses
            # the OR — but a space-only boundary set swallowed the
            # operator into the atom and served a single never-
            # matching term filter, the exact silent divergence this
            # module vows to 400 or serve faithfully)
            m = re.match(
                r'(and|or|not)(?=[\s()"]|$)', q[i:], re.IGNORECASE
            )
            if m and (i == 0 or q[i - 1] in ' \t()"'):
                flush()
                toks.append((m.group(1).upper(),))
                i += m.end()
                continue
        buf.append(ch)
        i += 1
    if in_q:
        raise ValueError(
            f"KQL filter input {q!r}: unbalanced double quote"
        )
    flush()
    return toks


def kql_node(q: str, field_map: dict[str, str] | None = None) -> dict:
    """A Kibana filters-control input (KQL) as a query-DSL node — the
    subset those inputs actually hold: ``field: value`` (term, quoted
    or bare, numbers coerced), ``field: *`` (exists), ``field >/>=/
    </<= value`` (range), the boolean connectives ``and``/``or``/
    ``not`` with parentheses at KQL's own precedence (``not`` binds
    tightest, then ``and``, then ``or`` — ``a:1 and b:2 or c:3``
    parses as ``(a AND b) OR c``), and the empty input (match_all).
    A recursive-descent parse over the quote-aware lexer emits the
    bool nodes the DSL already serves: ``or`` → sibling-less
    ``should`` (ES minimum_should_match=1 there = OR membership),
    ``not`` → ``must_not`` (null-safe: docs missing the field are
    KEPT, KQL's semantics), ``and`` → ``filter``. Free text and
    value groups (``f: (a or b)``) are explicit 400s — a dropped or
    mis-parsed filter input would silently serve a DIFFERENT split
    than the panel shows."""
    import re

    fm = field_map or {}

    def xf(f: str) -> str:
        f = f.strip()
        base = f[: -len(".keyword")] if f.endswith(".keyword") else f
        return fm.get(base, base)

    def coerce(v: str):
        v = v.strip()
        if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
            return v[1:-1]
        try:
            return int(v)
        except ValueError:
            pass
        try:
            return float(v)
        except ValueError:
            return v

    def atom(part: str) -> dict:
        m = re.fullmatch(r"([\w.@-]+)\s*(>=|<=|>|<)\s*(.+)", part)
        if m:
            op = {">": "gt", ">=": "gte", "<": "lt", "<=": "lte"}[
                m.group(2)
            ]
            return {"range": {xf(m.group(1)): {op: coerce(m.group(3))}}}
        m = re.fullmatch(r"([\w.@-]+)\s*:\s*(.+)", part)
        if m is None:
            raise ValueError(
                f"KQL filter input {q!r}: {part!r} is not "
                "'field: value' / 'field: *' / a range comparison "
                "(free text belongs to the search bar, not a "
                "filter; value groups like 'f: (a or b)' spell out "
                "as 'f: a or f: b')"
            )
        f, v = xf(m.group(1)), m.group(2).strip()
        if v == "*":
            return {"exists": {"field": f}}
        return {"term": {f: coerce(v)}}

    q = (q or "").strip()
    if not q:
        return {"match_all": {}}
    toks = _kql_tokens(q)
    pos = [0]

    def peek():
        return toks[pos[0]][0] if pos[0] < len(toks) else None

    def parse_or() -> dict:
        nodes = [parse_and()]
        while peek() == "OR":
            pos[0] += 1
            nodes.append(parse_and())
        if len(nodes) == 1:
            return nodes[0]
        return {"bool": {"should": nodes}}

    def parse_and() -> dict:
        nodes = [parse_not()]
        while peek() == "AND":
            pos[0] += 1
            nodes.append(parse_not())
        if len(nodes) == 1:
            return nodes[0]
        return {"bool": {"filter": nodes}}

    def parse_not() -> dict:
        if peek() == "NOT":
            pos[0] += 1
            return {"bool": {"must_not": [parse_not()]}}
        return parse_primary()

    def parse_primary() -> dict:
        t = peek()
        if t == "(":
            pos[0] += 1
            node = parse_or()
            if peek() != ")":
                raise ValueError(
                    f"KQL filter input {q!r}: unbalanced parenthesis"
                )
            pos[0] += 1
            return node
        if t == "ATOM":
            part = toks[pos[0]][1]
            pos[0] += 1
            return atom(part)
        raise ValueError(
            f"KQL filter input {q!r}: expected 'field: value' / "
            "'field: *' / a range comparison / '(' "
            + ("at end of input" if t is None else f"before {t!r}")
        )

    node = parse_or()
    if pos[0] != len(toks):
        raise ValueError(
            f"KQL filter input {q!r}: unexpected "
            f"{toks[pos[0]][0]!r} after a complete expression"
        )
    return node


def kibana_vis_aggs(
    vis_state: dict,
    field_map: dict[str, str] | None = None,
    fixed_interval: str | None = "1d",
    time_zone: str | None = None,
) -> dict | None:
    """Translate a Kibana saved visualization's ``visState.aggs``
    array — the pre-request form Kibana stores in its saved objects;
    the reference ships four of them (docker-compose.yml:346-349) —
    into this module's ES ``aggs`` tree, the same translation Kibana
    itself performs when it builds the ``/_search`` request for a
    panel:

    - ``schema: segment/group/bucket`` entries become the bucket
      chain in array order; ``schema: metric`` entries attach inside
      the innermost bucket (``count`` is inherent ``doc_count`` — no
      agg emitted; Kibana's ``median`` is ES percentiles at [50])
    - ``.keyword`` sub-field suffixes (an ES mapping artifact) are
      stripped, then ``field_map`` renames ES-face fields to the
      mounted doc_source's columns
    - ``interval: "auto"`` is a UI zoom-level choice — the caller
      passes the ``fixed_interval`` to resolve it (default ``"1d"``);
      an explicit Kibana interval passes through. Passing
      ``fixed_interval=None`` serves ES's OWN resolution instead: an
      ``auto_date_histogram`` resolved against the matched span at
      serve time
    - a ``filters`` split (the "Split series by Filters" control)
      translates each row's KQL input through :func:`kql_node` into
      the engine's NAMED filters agg, nested OUTSIDE the chain —
      Kibana's own group-outside-segment nesting
    - terms ``size`` passes through, and ``orderBy``/``order``
      translate to the compiler's terms ``order`` — ``"_term"`` /
      ``"_key"`` → key order, an agg id → that metric (the count
      metric's id → ``_count``) — because ES order changes WHICH
      top-N buckets survive ``size`` truncation, not just display
      order (the reference's Club-Status panel orders by ``_term``
      desc, docker-compose.yml:347); ``missingBucket`` true
      translates to ES terms ``missing`` with Kibana's own
      ``"__missing__"`` sentinel key, and ``otherBucket`` true to
      the engine's ``other_bucket`` — a served ``"__other__"``
      sentinel bucket merging the truncated-away terms, doc_count
      AND metrics (the client relabels both with its
      ``*BucketLabel`` params)

    Returns ``None`` when the panel needs no aggregations at all (a
    bare count metric — the consumer reads ``hits.total``)."""
    fm = field_map or {}

    def xfield(f: str) -> str:
        base = f[: -len(".keyword")] if f.endswith(".keyword") else f
        return fm.get(base, base)

    entries = vis_state.get("aggs", [])
    buckets: list[tuple[str, str, dict]] = []
    filters_splits: list[tuple[str, dict, str]] = []
    metrics: dict[str, dict] = {}
    # agg id → translated metric name ("_count" for the inherent count
    # metric) — what a terms entry's orderBy references; metrics are
    # collected FIRST because Kibana's array may list a bucket before
    # the metric its orderBy points at
    metric_by_id: dict[str, str] = {}
    for i, entry in enumerate(entries):
        if entry.get("schema") != "metric":
            continue
        typ = entry.get("type")
        params = entry.get("params", {})
        name = f"k{entry.get('id', i + 1)}"
        if typ == "count":
            metric_by_id[str(entry.get("id", i + 1))] = "_count"
            continue  # inherent doc_count
        if typ in ("median", "percentiles"):
            metrics[name] = {"percentiles": {
                "field": xfield(params["field"]),
                "percents": [float(p) for p in params.get(
                    "percents", [50]
                )],
            }}
        elif typ == "percentile_ranks":
            # Kibana's "Percentile Rank" metric — its params carry
            # the probe values
            metrics[name] = {"percentile_ranks": {
                "field": xfield(params["field"]),
                "values": [float(v) for v in params.get("values", [])],
            }}
        elif typ == "std_dev":
            # Kibana's "Standard Deviation" metric is ES
            # extended_stats (the panel reads the sigma bounds)
            metrics[name] = {"extended_stats": {
                "field": xfield(params["field"]),
            }}
        elif typ in ("avg", "sum", "min", "max", "cardinality"):
            metrics[name] = {typ: {"field": xfield(params["field"])}}
        else:
            raise ValueError(
                f"unsupported Kibana metric type {typ!r}"
            )
        metric_by_id[str(entry.get("id", i + 1))] = name
    for i, entry in enumerate(entries):
        typ = entry.get("type")
        schema = entry.get("schema")
        params = entry.get("params", {})
        name = f"k{entry.get('id', i + 1)}"
        if schema == "metric":
            continue
        if schema in ("segment", "group", "bucket"):
            if typ == "date_histogram":
                iv = params.get("interval", "auto")
                if iv in ("auto", "custom", None):
                    iv = fixed_interval
                body = {"field": xfield(params["field"])}
                if iv is None:
                    # no caller override for the UI's zoom-level
                    # choice: serve ES's own resolution — an
                    # auto_date_histogram at Kibana's default
                    # target, resolved against the matched span at
                    # serve time (one min/max pass)
                    body_auto = dict(body)
                    tz = params.get("time_zone", time_zone)
                    if tz is not None:
                        body_auto["time_zone"] = tz
                    buckets.append(
                        (name, "auto_date_histogram", body_auto)
                    )
                    continue
                # Kibana's week/month/quarter/year interval tokens
                # are CALENDAR units (its auto-interval sends '1w'
                # for any 1–3-month zoom; 'w'/'M'/'y' are the legacy
                # spellings) — variable-length, so they must reach
                # the compiler as calendar_interval, not a fixed
                # seconds count ('1M' is not 30 days). The SAME
                # legacy family's bare sub-day tokens ('d'/'h'/'m'/
                # 's' — review finding: 'd' 400ed in
                # _fixed_interval_seconds while its sibling 'w'
                # served) normalize to fixed_interval spellings:
                # epoch-anchored and calendar flooring agree there.
                cal = {
                    "w": "1w", "1w": "1w", "week": "1w",
                    "M": "1M", "1M": "1M", "month": "1M",
                    "q": "1q", "1q": "1q", "quarter": "1q",
                    "y": "1y", "1y": "1y", "year": "1y",
                }.get(iv)
                if cal is not None:
                    body["calendar_interval"] = cal
                else:
                    body["fixed_interval"] = {
                        "d": "1d", "day": "1d",
                        "h": "1h", "hour": "1h",
                        "m": "1m", "minute": "1m",
                        "s": "1s", "second": "1s",
                    }.get(iv, iv)
                mdc = params.get("min_doc_count")
                if isinstance(mdc, int) and not isinstance(mdc, bool):
                    body["min_doc_count"] = mdc
                # a LIVE Kibana attaches the browser locale's zone to
                # every date_histogram it builds — the panel's own
                # params win over the caller-supplied session zone
                tz = params.get("time_zone", time_zone)
                if tz is not None:
                    body["time_zone"] = tz
                buckets.append((name, "date_histogram", body))
            elif typ == "terms":
                body = {
                    "field": xfield(params["field"]),
                    "size": int(params.get("size", 10)),
                }
                if params.get("otherBucket"):
                    # Kibana's "group remaining as Other": served in
                    # ONE request as the '__other__' sentinel bucket
                    # (the client relabels with otherBucketLabel) —
                    # Kibana itself fires a SECOND filters-agg
                    # request for this; the engine merges the
                    # truncated-away buckets from the frame it
                    # already has
                    body["other_bucket"] = True
                if params.get("missingBucket"):
                    # Kibana's "show missing values" is ES's terms
                    # 'missing' param — and Kibana itself sends the
                    # sentinel "__missing__", relabeling client-side
                    # with missingBucketLabel (using the display label
                    # as the key would merge null-field docs into a
                    # real bucket that happens to carry the label
                    # text); the faithful request is the sentinel
                    body["missing"] = "__missing__"
                ob = params.get("orderBy")
                if ob is not None:
                    od = params.get("order", "desc")
                    if od not in ("asc", "desc"):
                        raise ValueError(
                            f"unsupported Kibana terms order {od!r}"
                        )
                    ob = str(ob)
                    if ob in ("_term", "_key"):
                        body["order"] = {"_key": od}
                    elif ob == "_count" or metric_by_id.get(ob) == "_count":
                        body["order"] = {"_count": od}
                    elif ob in metric_by_id:
                        mname = metric_by_id[ob]
                        (mtyp, mspec), = metrics[mname].items()
                        if mtyp == "percentiles":
                            okey = f"{mname}.{mspec['percents'][0]}"
                        elif mtyp == "percentile_ranks":
                            okey = f"{mname}.{mspec['values'][0]}"
                        elif mtyp == "extended_stats":
                            okey = f"{mname}.std_deviation"
                        else:
                            okey = mname
                        body["order"] = {okey: od}
                    else:
                        raise ValueError(
                            f"terms orderBy {ob!r} references no metric "
                            "agg in this visState — dropping the order "
                            "would serve a different top-N bucket set"
                        )
                buckets.append((name, "terms", body))
            elif typ == "histogram":
                buckets.append((name, "histogram", {
                    "field": xfield(params["field"]),
                    "interval": float(params["interval"]),
                }))
            elif typ == "filters":
                # Kibana's "Split series by Filters": each control
                # row is a KQL input + optional label. Translates to
                # the engine's NAMED filters agg (key = label, else
                # the input string — the client relabels), nested
                # OUTSIDE the chain like Kibana nests group outside
                # segment; kql_node applies the same field_map.
                if len(filters_splits) == 2:
                    raise ValueError(
                        "at most two filters splits per "
                        "visualization (the serve expresses a "
                        "two-level filters×filters product)"
                    )
                rows = params.get("filters")
                if not isinstance(rows, list) or not rows:
                    raise ValueError(
                        f"Kibana filters agg {name!r}: 'params."
                        "filters' must be a non-empty list"
                    )
                named: dict[str, dict] = {}
                for j, row in enumerate(rows):
                    if not isinstance(row, dict):
                        raise ValueError(
                            f"Kibana filters agg {name!r}: each "
                            "filter row is an object"
                        )
                    inp = row.get("input") or {}
                    lang = inp.get("language", "kuery")
                    if lang not in ("kuery", "lucene"):
                        raise ValueError(
                            f"Kibana filters agg {name!r}: filter "
                            f"language {lang!r} is not served"
                        )
                    qstr = inp.get("query", "")
                    label = row.get("label") or str(qstr) or f"*{j}"
                    if label in named:
                        raise ValueError(
                            f"Kibana filters agg {name!r}: duplicate "
                            f"filter label {label!r} — label the "
                            "rows distinctly"
                        )
                    # lucene-mode inputs in these controls hold the
                    # same field:value shapes the KQL subset parses;
                    # anything richer 400s inside kql_node
                    named[label] = kql_node(str(qstr), fm)
                filters_splits.append((name, named, schema))
            else:
                raise ValueError(
                    f"unsupported Kibana bucket type {typ!r}"
                )
        else:
            raise ValueError(
                f"unsupported Kibana agg schema {schema!r} (supported: "
                "metric, segment, group, bucket) — silently dropping a "
                "panel dimension would serve different results"
            )
    if not buckets and not metrics and not filters_splits:
        return None
    if len(filters_splits) == 2:
        if buckets:
            raise ValueError(
                "two filters splits plus a bucket chain would need "
                "a filters×filters×chain cube the serve does not "
                "express — drop one split or the chain"
            )
        # group (split series) nests OUTSIDE segment (x-axis),
        # Kibana's own group-outside-segment rule; a same-schema
        # pair keeps panel order (sort is stable)
        filters_splits.sort(
            key=lambda t: {"group": 0, "segment": 1}.get(t[2], 1)
        )
    # innermost-out: metrics inside the last bucket (Kibana's request
    # nesting for a chart: each bucket level wraps the next, metrics
    # at the leaf)
    inner: dict = dict(metrics)
    for name, typ, body in reversed(buckets):
        node: dict = {typ: body}
        if inner:
            node["aggs"] = inner
        inner = {name: node}
    for fname, named, _schema in reversed(filters_splits):
        fnode: dict = {"filters": {"filters": named}}
        if inner:
            fnode["aggs"] = inner
        inner = {fname: fnode}
    return inner


# --- ES query DSL (subset) ----------------------------------------------------


def phrase_tokens(text: str) -> list[str]:
    """A match_phrase query normalized EXACTLY like the index side:
    the shared tokenizer's ASCII-whitespace split + lowercase. One
    normalization, both sides — a second spelling here would silently
    zero phrase recall (the operator-and lesson)."""
    import re

    return [t.lower() for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t]


def phrase_predicate(text_col: Column, phrase: str) -> Column:
    """Adjacency WITHOUT a positions index: normalize the document
    text with the shared tokenizer, join the token stream on single
    spaces, and test space-delimited substring containment —
    token-exact adjacency (never a raw-text LIKE: normalization and
    word boundaries both come from the tokenizer). Runs only on the
    docs the term machinery already nominated (the keep-set path), so
    the scan is candidate-bounded at serve time; the expression is
    whole-stage-codegen JVM work, no UDF."""
    toks = phrase_tokens(phrase)
    if not toks:
        raise ValueError(
            "'match_phrase' needs at least one token after "
            "normalization"
        )
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        similarity as _sim,
    )

    joined = F.concat(
        F.lit(" "),
        F.array_join(_sim.bm25_tokenize(text_col), " "),
        F.lit(" "),
    )
    return joined.contains(" " + " ".join(toks) + " ")


def phrase_slop_predicate(
    text_col: Column, tok_a: str, tok_b: str, slop: int
) -> Column:
    """Two-token ``match_phrase`` with ``slop`` — Lucene's sloppy
    proximity WITHOUT a positions index, as whole-stage-codegen JVM
    expressions over the shared tokenizer's token array: the two
    terms' position lists come from an indexed ``transform`` +
    ``filter``, and the match is an ``exists × exists`` over position
    pairs with Lucene's two-term move cost — in-order pairs cost the
    gap (``j − i − 1``), reversed pairs the transposition
    (``i − j + 1``, so adjacent transposed terms need slop 2, ES's
    own documented example). Runs only on the docs the term machinery
    nominated (the keep-set path), so the O(|A|·|B|) pair scan is
    candidate-bounded per document, never a corpus pass. Three-plus
    token phrases with slop are refused at parse time: Lucene's
    n-term sloppy alignment (repeats handling included) is not pinned
    here, and a near-miss subset would silently diverge."""
    from kafka_cdc_elasticsearch_pipeline_spark.extensions import (
        similarity as _sim,
    )

    arr = _sim.bm25_tokenize(text_col)

    def positions(tok: str) -> Column:
        return F.filter(
            F.transform(
                arr, lambda x, i: F.when(x == F.lit(tok), i)
            ),
            lambda p: p.isNotNull(),
        )

    pa, pb = positions(tok_a), positions(tok_b)
    lim = F.lit(int(slop))
    return F.exists(
        pa,
        lambda i: F.exists(
            pb,
            lambda j: ((j > i) & (j - i - 1 <= lim))
            | ((i > j) & (i - j + 1 <= lim)),
        ),
    )


def parse_query_dsl(
    body: dict, doc_source: DataFrame | None, text_field: str = "text"
) -> tuple[list[str], list[str], Column | None]:
    """Translate the ES query-DSL subset a dashboard actually sends —
    every Kibana request wraps the panel in ``bool.filter`` clauses
    (the time-range picker is a ``range`` on the time field; filter
    pills are ``term``/``terms``) around an optional search-bar
    ``match`` — into this engine's two signals:

    - ``match`` on the indexed text field → the free-text LEXICAL
      query string (serve-time tokenized, exactly the ``query`` body
      field); the object form takes ``operator: "or"`` (default, any
      term matches) or ``"and"`` (every term must match — split into
      per-term clauses for the REST conjunction)
    - ``term`` / ``terms`` / ``range`` / ``exists`` on doc-metadata
      fields → ONE Spark predicate over the mounted doc_source; the
      REST layer turns it into a derived keep-set that pre-rank
      semi-joins every signal, exactly like a caller-supplied
      ``allowed_ids`` — the filter stays a distributed semi-join, it
      never collects ids to the driver
    - ``bool``: ``must`` (text + predicates, predicates ANDed),
      ``filter`` (predicates, ANDed), ``must_not`` (negated
      predicates), ``should``. Multiple must ``match`` clauses return
      as SEPARATE required texts: ES's bool.must conjunction means a
      doc must match EVERY clause, so the REST layer intersects the
      per-clause match sets (distributed semi-joins, like
      ``allowed_ids``) and scores the term union. ``should`` MATCH
      clauses are OPTIONAL texts: with a required MATCH sibling they
      are scoring-only (their terms join the scoring union while the
      conjunction keep-set holds membership to the required set —
      exactly ES's minimum_should_match=0), and with no sibling at
      all they ARE the requirement (msm=1: any-clause = the
      term-union match BM25 already performs); with only METADATA
      siblings they are rejected — ES would serve the whole filter
      set with the text as a zero-or-more boost, membership a ranked
      BM25 serve cannot mint. ``should`` PREDICATE clauses OR
      together and are required only without a sibling (with one
      they are scoring-only, which a filter cannot express —
      dropped, documented)
    - ``match_all`` → ([], [], None): no text, no predicate

    Returns (required texts, optional texts, predicate Column |
    None). Rejections are explicit 400s: a ``match`` on anything but
    ``text_field`` is unanswerable (the BM25 index indexes THE
    document text, not arbitrary fields), text inside ``must_not``
    would need negative scoring the lexical index does not express, a
    sibling-less ``should`` MIXING match and metadata clauses would
    need or-of-match-or-filter membership the serve cannot express,
    and metadata predicates need the doc_source mount."""
    texts: list[str] = []
    opt_texts: list[str] = []
    in_should = [False]
    dtypes = dict(doc_source.dtypes) if doc_source is not None else {}

    def lit_for(field: str, v) -> Column:
        if dtypes.get(field, "").startswith("timestamp"):
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                return F.timestamp_millis(F.lit(int(v)))
            return F.lit(str(v)).cast("timestamp")
        return F.lit(v)

    def meta_field(field: str, clause: str) -> str:
        if doc_source is None:
            raise ValueError(
                f"query DSL {clause!r} filters need a doc_source "
                "mounted on this server"
            )
        if field not in doc_source.columns:
            raise ValueError(
                f"query DSL {clause!r}: field {field!r} not in the "
                f"mounted doc_source (columns: "
                f"{sorted(doc_source.columns)})"
            )
        return field

    def one_entry(clause: dict, kind: str) -> tuple[str, object]:
        if not isinstance(clause, dict) or len(clause) != 1:
            raise ValueError(
                f"query DSL {kind!r} takes exactly one {{field: ...}}"
            )
        (f, v), = clause.items()
        return f, v

    def predicate(node: dict, allow_text: bool) -> Column | None:
        if not isinstance(node, dict) or len(node) != 1:
            raise ValueError(
                "each query DSL clause is one {type: body} object, got "
                f"{node!r}"
            )
        (typ, clause), = node.items()
        if typ == "match_all":
            return None
        if typ == "match":
            if not allow_text:
                raise ValueError(
                    "'match' inside must_not would need negative "
                    "lexical scoring — move it to 'must' (or filter "
                    "on metadata instead)"
                )
            f, v = one_entry(clause, "match")
            if f != text_field:
                raise ValueError(
                    f"'match' is answered by the BM25 text index, which "
                    f"indexes {text_field!r} — got field {f!r}"
                )
            # ES match accepts {"field": "text"} or {"field": {"query": ...}}
            op = "or"
            if isinstance(v, dict):
                extra = sorted(set(v) - {"query", "operator"})
                if extra:
                    # same strict-keys honesty as the aggs bodies: a
                    # swallowed fuzziness/minimum_should_match would
                    # serve different results than ES
                    raise ValueError(
                        f"'match' object form: unsupported keys {extra} "
                        "(supported: query, operator)"
                    )
                if "query" not in v:
                    raise ValueError(
                        "'match' object form needs a 'query' key, got "
                        f"{sorted(v)}"
                    )
                op = v.get("operator", "or")
                if op not in ("or", "and"):
                    raise ValueError(
                        f"'match' operator must be 'or' or 'and', "
                        f"got {op!r}"
                    )
                v = v["query"]
            # inside a should, a match is an OPTIONAL text — the REST
            # layer scores its terms without requiring them
            target = opt_texts if in_should[0] else texts
            if op == "and" and in_should[0]:
                # an optional ALL-terms clause would need per-clause
                # membership/scoring (sibling-less msm=1 must require
                # the whole clause; with siblings the boost fires only
                # when every term matches) — the flat union cannot
                # express either (review finding: it silently served
                # OR semantics)
                raise ValueError(
                    "'match' with operator 'and' inside 'should' is "
                    "not supported — use operator 'or' or move the "
                    "clause to 'must'"
                )
            if op == "and":
                # ES operator=and: EVERY term must match. Split into
                # one clause per distinct term and let the REST
                # layer's per-clause conjunction intersect the
                # per-term match sets; scoring still runs on the
                # union (= ES's sum over the all-matched terms). The
                # split MUST mirror the index tokenizer
                # (similarity.bm25_tokenize = Java-regex \s+, the
                # ASCII whitespace class) — python str.split() also
                # breaks on Unicode whitespace (NBSP, ...), which
                # would mint conjunction clauses the index never
                # tokenized and silently empty the match set (advice)
                import re

                terms = sorted({
                    t.lower()
                    for t in re.split(r"[ \t\n\x0b\f\r]+", str(v))
                    if t
                })
                target.extend(terms if terms else [str(v)])
            else:
                target.append(str(v))
            return None
        if typ == "match_phrase":
            # a quoted search-bar phrase. The BM25 index stores no
            # positions, so the phrase splits into TWO signals: its
            # tokens join `texts` as one required clause (recall +
            # BM25 scoring over the term union, through the existing
            # conjunction machinery), and ADJACENCY becomes a
            # token-exact containment predicate over the MOUNTED text
            # — which the keep-set path evaluates on the nominated
            # candidates only, never a corpus phrase scan. Scoring is
            # BM25-over-terms restricted to phrase members, not ES's
            # positional proximity — documented divergence.
            if not allow_text:
                raise ValueError(
                    "'match_phrase' inside must_not would need "
                    "negative lexical membership — move it to "
                    "'must'/'filter'"
                )
            if in_should[0]:
                raise ValueError(
                    "'match_phrase' inside 'should' would need "
                    "optional phrase membership/boosting the serve "
                    "cannot express — move it to 'must'/'filter'"
                )
            f, v = one_entry(clause, "match_phrase")
            if f != text_field:
                raise ValueError(
                    "'match_phrase' is verified against the mounted "
                    f"document text, which is {text_field!r} — got "
                    f"field {f!r}"
                )
            slop = 0
            if isinstance(v, dict):
                extra = sorted(set(v) - {"query", "slop"})
                if extra:
                    raise ValueError(
                        "'match_phrase' object form: unsupported keys "
                        f"{extra} (supported: query, slop)"
                    )
                if "query" not in v:
                    raise ValueError(
                        "'match_phrase' object form needs a 'query' "
                        f"key, got {sorted(v)}"
                    )
                slop = v.get("slop", 0)
                if (
                    isinstance(slop, bool)
                    or not isinstance(slop, int)
                    or slop < 0
                ):
                    raise ValueError(
                        "'match_phrase' slop must be a non-negative "
                        f"integer, got {slop!r}"
                    )
                v = v["query"]
            field = meta_field(f, "match_phrase")
            toks = phrase_tokens(str(v))
            if not toks:
                raise ValueError(
                    "'match_phrase' needs at least one token after "
                    "normalization"
                )
            texts.append(" ".join(toks))
            if slop == 0 or len(toks) == 1:
                # a one-token phrase is a term match at any slop
                return phrase_predicate(F.col(field), str(v))
            if len(toks) == 2:
                return phrase_slop_predicate(
                    F.col(field), toks[0], toks[1], slop
                )
            # Lucene's n-term sloppy alignment (repeats handling
            # included) is not pinned here — a near-miss subset
            # would silently diverge, so refuse with the contract
            raise ValueError(
                "'match_phrase' slop is served for two-token "
                f"phrases (got {len(toks)} tokens) — Lucene's "
                "n-term sloppy alignment is not pinned by this "
                "engine; drop slop for exact adjacency, or split "
                "the phrase into two-token proximity clauses"
            )
        if typ == "term":
            f, v = one_entry(clause, "term")
            v = v["value"] if isinstance(v, dict) else v
            return F.col(meta_field(f, "term")).eqNullSafe(lit_for(f, v))
        if typ == "terms":
            f, vs = one_entry(clause, "terms")
            if not isinstance(vs, list) or not vs:
                raise ValueError("'terms' takes a non-empty value list")
            col = F.col(meta_field(f, "terms"))
            out = col == lit_for(f, vs[0])
            for v in vs[1:]:
                out = out | (col == lit_for(f, v))
            return out
        if typ == "range":
            f, bounds = one_entry(clause, "range")
            if not isinstance(bounds, dict) or not bounds or not (
                set(bounds) <= {"gte", "gt", "lte", "lt", "format"}
            ) or set(bounds) <= {"format"}:
                raise ValueError(
                    "'range' takes {gte/gt/lte/lt: value} bounds"
                )
            # Kibana's time picker sends a 'format' alongside the
            # bounds; the two formats it uses are exactly the two
            # shapes lit_for already parses (ISO strings / epoch
            # millis), so the key validates instead of 400ing a real
            # Kibana request — anything else would change how bounds
            # parse and is refused
            fmt = bounds.get("format")
            if fmt is not None and fmt not in (
                "strict_date_optional_time", "epoch_millis",
                "strict_date_optional_time||epoch_millis",
            ):
                raise ValueError(
                    f"'range' format {fmt!r} is not served (bounds "
                    "parse as ISO-8601 strings or epoch millis)"
                )
            col = F.col(meta_field(f, "range"))
            out = F.lit(True)
            for op, v in bounds.items():
                if op == "format":
                    continue
                lv = lit_for(f, v)
                out = out & {
                    "gte": col >= lv, "gt": col > lv,
                    "lte": col <= lv, "lt": col < lv,
                }[op]
            return out
        if typ == "exists":
            f = clause.get("field") if isinstance(clause, dict) else None
            if not isinstance(f, str):
                raise ValueError("'exists' takes {'field': name}")
            return F.col(meta_field(f, "exists")).isNotNull()
        if typ == "bool":
            if not isinstance(clause, dict) or not (
                set(clause) <= {"must", "filter", "must_not", "should"}
            ):
                raise ValueError(
                    "'bool' takes must/filter/must_not/should clause "
                    f"lists, got {sorted(clause) if isinstance(clause, dict) else clause!r}"
                )
            preds: list[Column] = []
            n_texts_before = len(texts)
            for key, allow in (("must", True), ("filter", True)):
                entries = clause.get(key, [])
                entries = entries if isinstance(entries, list) else [entries]
                for e in entries:
                    p = predicate(e, allow_text=allow and allow_text)
                    if p is not None:
                        preds.append(p)
            has_required = bool(preds) or len(texts) > n_texts_before
            for e in (
                clause.get("must_not", [])
                if isinstance(clause.get("must_not", []), list)
                else [clause["must_not"]]
            ):
                p = predicate(e, allow_text=False)
                if p is not None:
                    # NULL-SAFE negation: a terms/range/nested-bool
                    # clause evaluates to SQL NULL on a doc whose
                    # field is missing, and ~NULL is NULL = dropped —
                    # but ES's must_not KEEPS docs missing the field
                    # (the clause didn't match). coalesce(p, False)
                    # makes every clause type behave like the
                    # eqNullSafe term clause already did.
                    preds.append(~F.coalesce(p, F.lit(False)))
            should = clause.get("should", [])
            should = should if isinstance(should, list) else [should]
            sp: Column | None = None
            n_opt_before = len(opt_texts)
            outer_should = in_should[0]
            in_should[0] = True
            try:
                for e in should:
                    n_before_entry = len(opt_texts)
                    p = predicate(e, allow_text=allow_text)
                    if (
                        isinstance(e, dict) and "bool" in e
                        and len(opt_texts) > n_before_entry
                    ):
                        # a nested bool's internal must/should
                        # structure does not survive the flat
                        # union/conjunction split — refuse rather
                        # than silently flatten its text semantics
                        raise ValueError(
                            "a nested 'bool' with match clauses "
                            "inside 'should' is not supported — "
                            "flatten the query"
                        )
                    if p is not None:
                        sp = p if sp is None else (sp | p)
            finally:
                in_should[0] = outer_should
            added = opt_texts[n_opt_before:]
            if sp is not None and not has_required:
                # ES: should REQUIRES a match only when the bool has
                # no must/filter sibling (minimum_should_match
                # defaults to 1 then, 0 otherwise — with siblings a
                # PREDICATE should is scoring-only, which a filter
                # cannot express, so it is dropped rather than
                # wrongly ANDed; should TEXTS with siblings are
                # scoring-only too: their terms join the scoring
                # union via opt_texts)
                if added:
                    raise ValueError(
                        "a sibling-less 'should' mixing match and "
                        "metadata clauses needs or-of-match-or-filter "
                        "membership the serve cannot express — add a "
                        "must/filter sibling or split the request"
                    )
                preds.append(sp)
            elif added and not has_required:
                # msm=1 over match clauses only: any-of IS the term
                # union — ONE required clause (a clause matches on
                # ≥1 of its terms), so a nested sibling-less should
                # composes correctly with outer must conjunctions
                del opt_texts[n_opt_before:]
                (opt_texts if outer_should else texts).append(
                    " ".join(added)
                )
            if not preds:
                return None
            out = preds[0]
            for p in preds[1:]:
                out = out & p
            return out
        raise ValueError(
            f"unsupported query DSL type {typ!r} (supported: match_all, "
            "match, match_phrase, term, terms, range, exists, bool)"
        )

    pred = predicate(body, allow_text=True)
    if opt_texts and not texts:
        # optional texts with NO required text imply the requirement
        # is metadata-only (pure should-text would have become the
        # requirement). ES then serves the WHOLE filter set with the
        # should text as a zero-or-more boost — membership for docs
        # matching no query term, which a ranked BM25 serve cannot
        # mint. Refuse rather than silently shrink the match set to
        # the text matches (review finding).
        raise ValueError(
            "a 'should' match clause whose only required siblings are "
            "metadata filters would need zero-score membership (ES "
            "serves the whole filter set, text as a boost) — move the "
            "match to 'must', or drop it"
        )
    return texts, opt_texts, pred
