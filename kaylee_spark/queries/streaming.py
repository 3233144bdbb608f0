"""Event-stream queries (batch-equivalent forms with SQL oracles).

Each of these is the BATCH expression of a streaming computation; the
true Structured Streaming versions (readStream + watermark + the same
window functions) live in kaylee_spark/streaming and are verified in
tests/test_streaming.py by checking the streamed result equals these
batch results — Spark's unified batch/stream semantics make that the
natural correctness statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaylee_spark.functions import dec_sum, oracle_dec_sum
from kaylee_spark.operators.maintenance import CDC_UPSERT_ORACLE
from kaylee_spark.operators.skew import scoped_conf
from kaylee_spark.queries import query
from kaylee_spark.sources import load_table

_TUMBLING_ORACLE = f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           {oracle_dec_sum('value')} AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """


@query("e01_tumbling_window", oracle=_TUMBLING_ORACLE, extra=True)
def e01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows per event type (streaming: + watermark).

    Extra-tier since round 8: its windowed-agg story is driver-covered
    by the TRUE readStream drain e07; the slot went to
    m04_pydatasource_wordcount (the reference-defining datafn source).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def _ntz(col: str):
    """LTZ -> TIMESTAMP_NTZ by pure epoch arithmetic: unix_micros reads
    the stored instant directly, so the conversion is independent of
    the session timezone at evaluation time."""
    return F.expr(
        f"timestampadd(MICROSECOND, unix_micros({col}), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    ).alias(col)


#: shuffle (= state-store) width of every bounded streaming drain. A
#: stateful operator creates and COMMITS one state-store partition per
#: shuffle partition every micro-batch, and these drains hold only tens
#: to hundreds of keys, so a wide drain pays commits for nothing. r14's
#: per-drain A/B settled on 4 (8 paid pure commit overhead), and e39's
#: interleaved solo A/B at sf0.1 (min of 4) read width 8 = 4.99 s,
#: 4 = 4.28 s, 2 = 4.06 s: 2's edge is inside run noise, and 4 keeps
#: the state tasks parallel.
DRAIN_WIDTH = "4"


def _drain_confs() -> dict[str, str]:
    """The UTC + drain-width override the event-time drains run under."""
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": DRAIN_WIDTH,
    }


def _drain_staged_stream(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Shared harness for the TRUE Structured-Streaming rows: stage the
    events fixture as time-sliced files, run ``build(streaming_df)``
    through an availableNow drain into a memory sink, and return the
    drained batch frame.

    Timezone discipline: Spark requires event-time watermarks on
    TIMESTAMP (LTZ), so streams read ts as LTZ — the session timezone
    is pinned to UTC for the eager drain so window
    alignment matches the NTZ oracles even on half-hour-offset
    sessions; callers convert emitted LTZ columns back with ``_ntz``.

    State partitioning: a stateful streaming operator creates (and
    COMMITS, every microbatch) one state-store partition per
    ``spark.sql.shuffle.partitions``. These drains keep state for
    ~dozens of keys (hour-windows × event types, per-user sessions),
    so the batch-tuned 32 would pay 32 tiny state commits per batch
    per operator for nothing — measured 2.5x of drain wall time. The
    drain pins 4 state partitions: size this to state
    KEY CARDINALITY and throughput, which is a property of the query,
    not of the cluster — a 100 TB deployment with millions of session
    keys sizes it up accordingly.
    """
    from kaylee_spark import streaming as ST

    with scoped_conf(spark, _drain_confs()):
        # staging is cached per (fixture, mtime) in ST — the five
        # streamed queries and repeated bench passes share one staged
        # dir, which persists in tempdir for the process lifetime
        staged = ST.stage_events_dir(spark, sf_dir, n_files=4)
        return build(ST, staged)


def _drain_staged_documents(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Documents-table twin of _drain_staged_stream (same tz/state-
    partition pinning, same staging cache; slices are contiguous
    doc_id ranges — batched corpus deliveries)."""
    from kaylee_spark import streaming as ST

    with scoped_conf(spark, _drain_confs()):
        staged = ST.stage_documents_dir(spark, sf_dir, n_files=4)
        return build(ST, staged)


@query("e07_streamed_tumbling", oracle=_TUMBLING_ORACLE, extra=True)
def e07_streamed_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured-Streaming execution of e01: readStream ->
    withWatermark -> tumbling window -> availableNow drain into a
    memory sink; the drained result is returned. Hash-matches e01's
    batch oracle because Spark's batch and streaming engines share one
    window semantics (complete output mode, so the final watermark
    withholds nothing)."""
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.tumbling_counts(ST.events_stream(spark, staged)), output_mode="complete"
        ),
    )
    return drained.select(_ntz("window_start"), "event_type", "n_events", "total_value")


@query(
    "e02_sliding_window",
    oracle=f"""
    SELECT window_start, COUNT(*) AS n_events, {oracle_dec_sum('value')} AS total_value
    FROM (
        SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS window_start, value
        FROM events CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS k)
    )
    GROUP BY window_start
    """,
    extra=True,
)
def e02_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1h length, 15m slide (each event in 4 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


_SESSION_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sess_id
    """


@query("e03_session_window", oracle=_SESSION_ORACLE, extra=True)
def e03_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30m gap) per user — Spark's session_window;
    the oracle reproduces its semantics (a gap of exactly 30m starts a
    new session because window end is exclusive) via gaps-and-islands.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "e04_json_extract",
    oracle=f"""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n_events,
           {oracle_dec_sum('value')} AS total_value
    FROM events
    GROUP BY CAST(json_extract_string(props, '$.k') AS INT) % 10
    """,
    extra=True,
)
def e04_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props -> typed key -> agg."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("total_value"))
    )


@query(
    "e33_variant_extract",
    oracle=f"""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n_events,
           {oracle_dec_sum('value')} AS total_value,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.absent') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_absent
    FROM events
    GROUP BY CAST(json_extract_string(props, '$.k') AS INT) % 10
    """,
    extra=True,
)
def e33_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e04's semi-structured path on Spark 4 VariantType (VERDICT r9
    item 4): ``parse_json`` parses each props string ONCE into the
    binary variant encoding, and every subsequent access
    (``try_variant_get`` with typed paths, including a missing-path
    probe that must yield null) reads the binary form — vs
    get_json_object's re-parse of the string per access. At 100 TB the
    variant column is what you PERSIST (parquet writes the binary
    form), so repeated extraction across queries never re-parses text;
    probed working on this build's vanilla session (parse_json /
    try_variant_get / schema_of_variant all functional). The oracle
    replays every access with DuckDB's JSON functions on the raw
    strings — same buckets, same typed values, same null handling."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    k_long = F.try_variant_get(v, "$.k", "long")
    absent = F.try_variant_get(v, "$.absent", "string")
    return (
        ev.select(
            (k % 10).alias("k_bucket"),
            k_long.alias("k_long"),
            absent.alias("absent"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("total_value"),
            F.min("k_long").alias("min_k"),
            F.max("k_long").alias("max_k"),
            F.count("absent").alias("n_absent"),
        )
    )


@query(
    "e05_event_dedup",
    oracle="""
    SELECT user_id, event_type, MIN(event_id) AS first_event_id, COUNT(*) AS n_dups
    FROM events GROUP BY user_id, event_type
    """,
    extra=True,
)
def e05_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stateful-dedup analog: first event per
    (user, type). The streaming twin (dropDuplicatesWithinWatermark)
    is exercised in tests/test_streaming.py. Extra-tier since round 9:
    the capability is driver-covered by e18's true streamed dedup
    drain, freeing the driver slot for m05's stream≡batch datafn
    claim (VERDICT r8 item 5)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"), F.count("*").alias("n_dups")
    )


@query(
    "e06_user_running_totals",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {oracle_dec_sum('value')} AS total_value
    FROM events GROUP BY user_id
    """,
    extra=True,
)
def e06_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the custom stateful fold
    (kaylee_spark/streaming/stateful.py applyInPandasWithState): the
    drained stream's final per-user state equals this aggregate —
    asserted in tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), dec_sum("value").alias("total_value")
    )


@query("e08_streamed_session", oracle=_SESSION_ORACLE, extra=True)
def e08_streamed_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured-Streaming execution of e03: session windows
    (native gap-merged state store) drained with availableNow in
    complete mode — hash-matches e03's gaps-and-islands oracle."""
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.session_counts(ST.events_stream(spark, staged)), output_mode="complete"
        ),
    )
    return drained.select("user_id", _ntz("session_start"), _ntz("session_end"), "n_events")


@query(
    "e09_streamed_join",
    oracle="""
    SELECT l.user_id, l.event_id AS l_event_id, l.ts AS l_ts,
           r.event_id AS r_event_id, r.ts AS r_ts
    FROM events l JOIN events r
      ON r.user_id = l.user_id
     AND r.ts <= l.ts
     AND r.ts > l.ts - INTERVAL '30 minutes'
    """,
    extra=True,
)
def e09_streamed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream interval join: both sides are watermarked
    streams over the staged events files; the time-bound join condition
    keeps the state store finite (Spark's bounded-state join shape).
    Drained availableNow, the emitted matches equal the batch interval
    self-join — the SQL oracle."""
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.stream_stream_join(
                ST.events_stream(spark, staged), ST.events_stream(spark, staged)
            ),
            output_mode="append",
        ),
    )
    return drained.select("user_id", "l_event_id", _ntz("l_ts"), "r_event_id", _ntz("r_ts"))


@query(
    "e10_stream_static_enrich",
    oracle=f"""
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           {oracle_dec_sum('e.value')} AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
    extra=True,
)
def e10_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-static enrichment: the event stream joins a STATIC
    dimension (customer) micro-batch by micro-batch — Spark re-plans
    the static side per batch, so at scale the dim is a broadcast into
    each batch with no streaming state at all (the idiomatic enrich
    shape; state-store cost is zero because only the stream side is
    unbounded). Aggregated per market segment in complete mode, the
    drain equals the batch join — the SQL oracle."""

    def build(ST, staged):
        stream = ST.events_stream(spark, staged)
        dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        enriched = stream.join(dim, stream.user_id == dim.c_custkey)
        agg = enriched.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_events"), dec_sum("value").alias("total_value")
        )
        return ST.run_to_memory(agg, output_mode="complete")

    return _drain_staged_stream(spark, sf_dir, build)


@query(
    "e11_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
    extra=True,
)
def e11_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel: first qualifying time per
    stage per user, strictly-after semantics, dropouts null. One
    pushed-down scan + one user-keyed conditional-min agg per stage
    (operators/analytics.py funnel)."""
    from kaylee_spark.operators.analytics import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"])


@query(
    "e12_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_period
        FROM events
    )
    SELECT a.cohort, a.period_offset, a.n_active, s.cohort_size,
           CAST(a.n_active AS DOUBLE) / s.cohort_size AS retention_rate
    FROM (
        SELECT f.cohort,
               CAST(date_diff('day', f.cohort, ac.active_period) // 7 AS INT) AS period_offset,
               COUNT(*) AS n_active
        FROM active ac JOIN firsts f ON f.user_id = ac.user_id
        GROUP BY 1, 2
    ) a JOIN (
        SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort
    ) s ON s.cohort = a.cohort
    """,
    extra=True,
)
def e12_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-seen
    week, activity counted per week offset
    (operators/analytics.py cohort_retention)."""
    from kaylee_spark.operators.analytics import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


@query(
    "e13_resample",
    oracle=f"""
    WITH b AS (
        SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS bucket,
               COUNT(*) AS n_events, {oracle_dec_sum('value')} AS total_value
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT time_bucket(INTERVAL '6 hours', MIN(ts)) AS lo,
               time_bucket(INTERVAL '6 hours', MAX(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT t.event_type, g.bucket
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT UNNEST(generate_series(lo, hi, INTERVAL '6 hours')) AS bucket FROM bounds) g
    )
    SELECT g.event_type, g.bucket,
           COALESCE(b.n_events, 0) AS n_events,
           COALESCE(b.total_value, 0.0) AS total_value
    FROM grid g LEFT JOIN b ON b.event_type = g.event_type AND b.bucket = g.bucket
    """,
    extra=True,
)
def e13_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling WITH gap densification: 6-hour buckets
    per event type, empty buckets materialized as explicit zero rows
    (groupBy alone cannot produce them). Epoch-aligned by pure NTZ
    arithmetic so bucket edges are session-timezone-proof
    (operators/timeseries.py resample)."""
    from kaylee_spark.operators.timeseries import resample

    ev = load_table(spark, sf_dir, "events")
    return resample(
        ev,
        "ts",
        "'6 hours'",
        aggs={"n_events": F.count("*"), "total_value": dec_sum("value")},
        key_cols=["event_type"],
        fill={"n_events": 0, "total_value": 0.0},
    )


@query(
    "e14_forward_fill",
    oracle="""
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM events
    """,
    extra=True,
)
def e14_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward): error events'
    values play the nulls of a sensor stream; each takes the user's
    most recent non-null value. One user-keyed ordered window
    (operators/timeseries.py forward_fill)."""
    from kaylee_spark.operators.timeseries import forward_fill

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") != "error", F.col("value")).alias("filled_value"),
    )
    return forward_fill(
        ev, "filled_value", "ts", "user_id", tiebreak_cols=["event_id"]
    ).select("event_id", "user_id", "ts", "filled_value")


_TREND_X = "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))"


@query(
    "e15_trend",
    oracle=f"""
    WITH s AS (
        SELECT event_type, COUNT(value) AS n,
               CAST(SUM(CAST({_TREND_X} AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               {oracle_dec_sum('value')} AS sy,
               {oracle_dec_sum(f'{_TREND_X} * value')} AS sxy,
               CAST(SUM(CAST({_TREND_X} * {_TREND_X} AS DECIMAL(38,0))) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) AS DOUBLE), 6) AS slope_per_day,
           ROUND(CAST((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS DOUBLE), 6) AS intercept
    FROM s
    """,
    extra=True,
)
def e15_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares value trend (slope per day +
    anchor-date intercept) from five exact sufficient statistics in
    ONE group-keyed aggregate — drift detection at COUNT(*) cost
    (operators/timeseries.py trend)."""
    from kaylee_spark.operators.timeseries import trend

    ev = load_table(spark, sf_dir, "events")
    return trend(ev, "ts", "value", ["event_type"])


@query(
    "e16_sessionize",
    oracle="""
    WITH o AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INT)
               AS session_idx
    FROM o
    """,
    extra=True,
)
def e16_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row session labels (30-min inactivity gap): lag + running
    sum stacked on ONE user-keyed exchange; total order via the
    event_id tie-break so duplicate timestamps label deterministically
    (operators/analytics.py sessionize). Labels rows where e03's
    session WINDOW only aggregates."""
    from kaylee_spark.operators.analytics import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap_seconds=1800).select("event_id", "user_id", "ts", "session_idx")


@query(
    "e17_rollup_cascade",
    oracle=f"""
    SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bucket,
           '1 hour' AS resolution, COUNT(value) AS n_events,
           {oracle_dec_sum('value')} AS total_value
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT event_type, time_bucket(INTERVAL '6 hours', ts),
           '6 hours', COUNT(value), {oracle_dec_sum('value')}
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT event_type, time_bucket(INTERVAL '1 day', ts),
           '1 day', COUNT(value), {oracle_dec_sum('value')}
    FROM events GROUP BY 1, 2
    """,
    extra=True,
)
def e17_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical 1h -> 6h -> 1d rollup: raw events shuffle ONCE (to
    the hourly grain); 6h and 1d derive from the level below with
    exact decimal carry (operators/timeseries.py rollup_cascade). The
    oracle aggregates the RAW table directly at every resolution, so
    the hash gate proves cascaded reaggregation loses nothing — the
    continuous-aggregate maintenance pattern at 100 TB."""
    from kaylee_spark.operators.timeseries import rollup_cascade

    ev = load_table(spark, sf_dir, "events")
    return rollup_cascade(ev, "ts", "value", ["1 hour", "6 hours", "1 day"], ["event_type"])


@query(
    "e22_interpolate",
    oracle="""
    WITH base AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
               date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts) AS us
        FROM events
    ),
    anch AS (
        SELECT event_id, user_id, ts, v, us,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               first_value(v IGNORE NULLS) OVER wn AS nv,
               last_value(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER wp AS pt,
               first_value(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER wn AS nt
        FROM base
        WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, ts,
           CAST(CASE WHEN v IS NOT NULL THEN v
                     WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt
                          THEN ROUND(pv + (nv - pv)
                               * (CAST(us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)), 6)
                     WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv
                     ELSE COALESCE(pv, nv)
                END AS DOUBLE) AS v_filled
    FROM anch
    """,
)
def e22_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted LINEAR interpolation of sensor gaps — the fill
    mode e14's carry-forward cannot express: error events' values play
    the nulls, and each interior null becomes the time-proportional
    blend of its bracketing anchors (leading/trailing nulls take the
    nearest anchor). Two frames over ONE user-keyed (ts, event_id)
    sort; gap ratios are exact microsecond bigints divided once in
    doubles and rounded 6dp, so the IEEE bits match any engine
    (operators/timeseries.py linear_interpolate)."""
    from kaylee_spark.operators.timeseries import linear_interpolate

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    return linear_interpolate(
        ev, "v", "ts", "user_id", tiebreak_cols=["event_id"]
    ).select("event_id", "user_id", "ts", "v_filled")


@query(
    "e23_rolling_anomaly",
    oracle="""
    WITH w AS (
        SELECT event_id, user_id, ts, value,
               COUNT(value) OVER win AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE) AS sv,
               CAST(SUM(CAST(value * value AS DECIMAL(38,4))) OVER win AS DOUBLE) AS svv
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    m AS (
        SELECT event_id, user_id, ts, value, sv / n AS mean,
               sqrt(greatest((svv - sv * sv / n) / n, 0.0)) AS sd
        FROM w
    )
    SELECT event_id, user_id, ts,
           CASE WHEN sd > 0
                THEN ROUND(greatest(least((value - mean) / sd, 1e6), -1e6), 6)
           END AS z,
           COALESCE(abs(CASE WHEN sd > 0
                             THEN ROUND(greatest(least((value - mean) / sd,
                                                       1e6), -1e6), 6)
                        END) > 3.0,
                    FALSE) AS is_anomaly
    FROM m
    """,
)
def e23_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: each event scored against its
    user's PREVIOUS 20 events' mean/stddev (self-excluded so a spike
    cannot dilute its own score). Window moments accumulate as
    exact decimals (values 18,2; squares 38,4) so the mean/variance
    bits match any engine; one key-partitioned sort carries all three
    frame aggregates (operators/timeseries.py rolling_zscore)."""
    from kaylee_spark.operators.timeseries import rolling_zscore

    ev = load_table(spark, sf_dir, "events")
    return rolling_zscore(
        ev, "value", "ts", "user_id", window_rows=20, threshold=3.0,
        tiebreak_cols=["event_id"],
    ).select("event_id", "user_id", "ts", "z", "is_anomaly")


def _ewma_oracle() -> str:
    from kaylee_spark.operators.timeseries import ewma_oracle_terms

    num, den = ewma_oracle_terms(alpha=0.5, max_lags=24, value_sql="value")
    return f"""
    SELECT event_id, user_id, ts,
           CASE WHEN ({den}) > 0
                THEN ROUND(({num}) / ({den}), 6) END AS value_ewma
    FROM events
    WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@query("e24_ewma", oracle=_ewma_oracle())
def e24_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (alpha 0.5,
    24-lag truncation, pandas adjust=True semantics) of event values.
    The lag weights are driver-computed double literals shared with
    the oracle SQL, so both engines run the identical left-to-right
    IEEE chain over ONE user-keyed sort
    (operators/timeseries.py ewma / ewma_oracle_terms)."""
    from kaylee_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    return ewma(
        ev, "value", "ts", "user_id", alpha=0.5, max_lags=24,
        tiebreak_cols=["event_id"],
    ).select("event_id", "user_id", "ts", "value_ewma")


@query(
    "e25_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           COUNT(*) AS n_transitions,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE),
                 6) AS p_transition
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    extra=True,
)
def e25_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event streams:
    P(next event type | previous event type) with exact transition
    counts. One user-keyed exchange for the lag, a map-side-combined
    count over at most |types|^2 keys, and the probability window runs
    over that tiny aggregate — never the raw events
    (operators/analytics.py markov_transitions)."""
    from kaylee_spark.operators.analytics import markov_transitions

    ev = load_table(spark, sf_dir, "events")
    return markov_transitions(ev, tiebreak_cols=["event_id"]).select(
        "prev_type", "next_type", "n_transitions", "p_transition"
    )


@query(
    "e18_streamed_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    extra=True,
)
def e18_streamed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured-Streaming dedup: readStream ->
    dropDuplicates over (user_id, event_type) -> availableNow drain.
    The dedup STATE STORE (not a batch twin) produces this row;
    key-only projection makes the emitted set exactly batch DISTINCT
    regardless of arrival order, so the SQL oracle is exact. A
    watermark-bounded variant (dropDuplicatesWithinWatermark) has no
    closed-form oracle — its eviction timing is engine-internal — so
    the engine does not ship one."""
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.events_stream(spark, staged)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"]),
            output_mode="append",
        ),
    )
    return drained


@query(
    "e19_streamed_append",
    oracle=f"""
    WITH m AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS wm FROM events),
    agg AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events,
               {oracle_dec_sum('value')} AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    )
    SELECT a.window_start, a.event_type, a.n_events, a.total_value
    FROM agg a CROSS JOIN m
    WHERE a.window_start + INTERVAL 1 HOUR <= m.wm
    """,
    extra=True,
)
def e19_streamed_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode streamed tumbling windows: only windows the final
    watermark (max event time - 2h) has CLOSED are emitted — the
    late-data-safe output contract a downstream incremental consumer
    relies on (each window appears exactly once, immutable). The twin
    oracle filters the batch aggregate to watermark-closed windows,
    pinning Spark's emission boundary (window end <= watermark) and the
    availableNow no-data finalization batch."""
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.tumbling_counts(ST.events_stream(spark, staged), watermark="2 hours"),
            output_mode="append",
        ),
    )
    return drained.select(_ntz("window_start"), "event_type", "n_events", "total_value")


@query(
    "e20_streamed_stateful_fold",
    oracle="SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id",
    extra=True,
)
def e20_streamed_stateful_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE custom-stateful streaming row: the applyInPandasWithState
    per-user fold (streaming/stateful.user_running_totals) drained in
    update mode. Every micro-batch the fold emits the user's RUNNING
    count, which is strictly monotone, so max(n_events) per user over
    all emissions IS the final state — and must equal the batch
    GROUP BY count exactly (integer arithmetic; no float leaves the
    comparison surface). This gives the reference's holistic-reducer
    analogue — arbitrary Python state folded across batches — an
    oracle-verified row instead of pytest-only coverage."""
    from kaylee_spark.streaming.stateful import user_running_totals

    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            user_running_totals(ST.events_stream(spark, staged)),
            output_mode="update",
        ),
    )
    return drained.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "e21_streamed_ingest_dedup",
    oracle="""
    WITH corpus AS (SELECT sha256(text) AS seen FROM documents WHERE doc_id % 10 <> 0)
    SELECT DISTINCT sha256(text) AS content_sha
    FROM documents i
    WHERE doc_id % 10 = 0
      AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.seen = sha256(i.text))
    """, extra=True)
def e21_streamed_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming near-dup ingest — the daily 100 TB pipeline as
    one row: documents arrive as staged file deliveries (readStream),
    each micro-batch reduces to content hashes, drops everything the
    existing corpus already holds (stateless stream-static anti join
    FIRST, so dedup state grows with novelty, not arrival rate), then
    stateful dropDuplicates admits each genuinely new content item
    once (streaming/ingest_dedup). The doc_id%10==0 slice plays the
    incoming feed against the %10!=0 corpus — the same split as the
    batch twin d08. Key-only output makes the emitted set equal batch
    DISTINCT-minus-corpus regardless of arrival order, so the oracle
    is exact; the checkpointed-parquet landing of this same pipeline
    is restart-tested exactly-once in tests/test_streaming.py."""
    from kaylee_spark.operators.dedup import content_hash

    docs = load_table(spark, sf_dir, "documents")
    corpus_hashes = docs.filter(F.col("doc_id") % 10 != 0).select(
        content_hash("text").alias("content_sha")
    )
    return _drain_staged_documents(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.ingest_dedup(
                ST.documents_stream(spark, staged).filter(F.col("doc_id") % 10 == 0),
                corpus_hashes,
            ),
            output_mode="append",
        ),
    )


def _acf_oracle() -> str:
    from kaylee_spark.operators.timeseries import acf_final_exprs

    finals = ",\n           ".join(acf_final_exprs([1, 2, 3]))
    lag_cols = ",\n               ".join(
        f"lag(value, {k}) OVER (PARTITION BY event_type"
        f" ORDER BY ts, event_id) AS l{k}"
        for k in (1, 2, 3)
    )
    per_lag = ",\n               ".join(
        f"COUNT(l{k}) AS n_{k},"
        f" SUM(CAST(value * l{k} AS DECIMAL(38,4))) AS spp_{k},"
        f" SUM(CAST(CASE WHEN l{k} IS NOT NULL THEN value END"
        f" AS DECIMAL(18,2))) AS sh_{k},"
        f" SUM(CAST(l{k} AS DECIMAL(18,2))) AS st_{k}"
        for k in (1, 2, 3)
    )
    return f"""
    WITH seq AS (
        SELECT event_type, value,
               {lag_cols}
        FROM events
    ),
    agg AS (
        SELECT event_type,
               COUNT(value) AS n,
               SUM(CAST(value AS DECIMAL(18,2))) AS s,
               SUM(CAST(value * value AS DECIMAL(38,4))) AS s2,
               {per_lag}
        FROM seq GROUP BY event_type
    )
    SELECT event_type, n,
           {finals}
    FROM agg
    """


@query("e26_autocorrelation", oracle=_acf_oracle(), extra=True)
def e26_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type sample autocorrelation at lags 1-3 — the
    persistence/seasonality diagnostic over each type's time-ordered
    value series. Exact decimal moments (18,2 values, 38,4 cross
    products) ride one type-keyed sort shared by all three lag
    columns, collapse to 14 scalars per type in a single map-side-
    combined aggregate, and the final ratios are the acf_final_exprs
    double chain shared verbatim with the oracle
    (operators/timeseries.py autocorrelation)."""
    from kaylee_spark.operators.timeseries import autocorrelation

    ev = load_table(spark, sf_dir, "events")
    return autocorrelation(
        ev, "value", "ts", "event_type", lags=[1, 2, 3],
        tiebreak_cols=["event_id"],
    )


@query(
    "e27_cusum_shift",
    oracle="""
    WITH base AS (
        SELECT event_id, user_id, ts,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
               COUNT(*) OVER (PARTITION BY user_id) AS n,
               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                   OVER (PARTITION BY user_id) AS s
        FROM events
    ),
    run AS (
        SELECT event_id, user_id, ts, n,
               SUM(n * c - s - n * 50) OVER win AS cum
        FROM base
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    st AS (
        SELECT event_id, user_id, ts, n,
               cum - LEAST(0, MIN(cum) OVER win) AS stv
        FROM run
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts,
           CAST(stv AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS cusum,
           stv > n * 500 AS is_shift
    FROM st
    """,
)
def e27_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM changepoint chart (slack 0.5,
    threshold 5.0 against each user's own mean): the recursive
    S_t = max(0, S_{t-1} + y_t) rewritten as its closed cumulative
    form C_t - min(0, running-min C), so two window frames on ONE
    user-keyed sort replace the sequential scan. All terms are exact
    n-scaled bigint cents; the one scale-back division is shared
    verbatim with the oracle and left UNROUNDED — its operands are
    exactly-representable bigints, so the quotient is bit-identical
    everywhere, where a 6dp round would diverge on half-tie quotients (operators/timeseries.py cusum)."""
    from kaylee_spark.operators.timeseries import cusum

    ev = load_table(spark, sf_dir, "events")
    return cusum(
        ev, "value", "ts", "user_id", slack=0.5, threshold=5.0,
        tiebreak_cols=["event_id"],
    ).select("event_id", "user_id", "ts", "cusum", "is_shift")


@query(
    "e28_scd2_history",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, event_type, ts,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR event_type <> lag(event_type) OVER w
                    THEN 1 ELSE 0 END AS st
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    v AS (
        SELECT user_id, event_type, ts,
               CAST(SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS INT) AS version
        FROM seq
    ),
    runs AS (
        SELECT user_id AS key, version, MIN(event_type) AS attr,
               MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM v GROUP BY user_id, version
    )
    SELECT key, version, attr, valid_from,
           lead(valid_from) OVER (PARTITION BY key ORDER BY version) AS valid_to,
           n_obs
    FROM runs
    """,
    extra=True,
)
def e28_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history of each user's event-type signal
    (operators/maintenance.py scd2_intervals): consecutive equal
    observations collapse into versioned validity intervals
    [valid_from, valid_to), NULL valid_to = current — "what was true
    WHEN", the warehouse companion to d09/d10's "what changed". One
    user-keyed (ts, event_id) sort carries the change lag and the
    running version sum; runs collapse map-side to a run-sized frame
    before the valid_to lead."""
    from kaylee_spark.operators.maintenance import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    return scd2_intervals(
        ev, "user_id", "event_type", "ts", tiebreak_cols=["event_id"]
    )


@query(
    "e29_seasonal_anomaly",
    oracle="""
    WITH b AS (
        SELECT event_id, event_type, ts, value,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
               COUNT(value) OVER w AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sv,
               CAST(SUM(CAST(value * value AS DECIMAL(38,4))) OVER w AS DOUBLE) AS svv
        FROM events
        WINDOW w AS (PARTITION BY event_type, EXTRACT(hour FROM ts))
    ),
    m AS (
        SELECT event_id, event_type, ts, hod, value,
               sv / n AS mean,
               sqrt(greatest((svv - sv * sv / n) / n, 0.0)) AS sd
        FROM b
    )
    SELECT event_id, event_type, ts, hod,
           CASE WHEN sd > 0
                THEN ROUND(greatest(least((value - mean) / sd, 1e6), -1e6), 6)
           END AS z,
           COALESCE(abs(CASE WHEN sd > 0
                             THEN ROUND(greatest(least((value - mean) / sd,
                                                       1e6), -1e6), 6)
                        END) > 3.0,
                    FALSE) AS is_anomaly
    FROM m
    """,
    extra=True,
)
def e29_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly flags: each event scored against its
    type's OWN hour-of-day bucket over the whole series
    (operators/timeseries.py seasonal_zscore) — the profile detector
    that doesn't flag every daily peak the way a trailing window
    (e23) does. The baseline is one map-side-combined (type, hour)
    aggregate — at most 24x|types| rows — broadcast back onto the
    scan; exact decimal moments + the e23 clamp-then-round recipe
    keep the float z engine-invariant."""
    from kaylee_spark.operators.timeseries import seasonal_zscore

    ev = load_table(spark, sf_dir, "events")
    return seasonal_zscore(ev, "value", "ts", "event_type", threshold=3.0).select(
        "event_id", "event_type", "ts", "hod", "z", "is_anomaly"
    )


@query(
    "e30_pit_join",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, event_type, ts,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR event_type <> lag(event_type) OVER w
                    THEN 1 ELSE 0 END AS st
        FROM events WHERE event_type <> 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    v AS (
        SELECT user_id, event_type, ts,
               CAST(SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS INT) AS version
        FROM seq
    ),
    runs AS (
        SELECT user_id AS key, version, MIN(event_type) AS attr,
               MIN(ts) AS valid_from
        FROM v GROUP BY user_id, version
    ),
    vers AS (
        SELECT key, version, attr, valid_from,
               lead(valid_from) OVER (PARTITION BY key ORDER BY version) AS valid_to
        FROM runs
    )
    SELECT f.event_id, f.user_id, f.ts, f.value,
           v.attr AS state, v.version AS state_version,
           v.valid_from AS state_since
    FROM events f LEFT JOIN vers v
      ON v.key = f.user_id AND v.valid_from <= f.ts
         AND (f.ts < v.valid_to OR v.valid_to IS NULL)
    WHERE f.event_type = 'purchase'
    """,
    extra=True,
)
def e30_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join — the feature-store primitive
    that prevents temporal leakage in training data: each purchase
    (fact) is enriched with the user's behavioral state AS OF the
    purchase moment, where state = the SCD2 version history of the
    user's non-purchase event stream (e28's dimension build). Composes
    scd2_intervals with the union+window asof_join
    (operators/joins.py): backward as-of on version starts picks
    exactly the validity interval containing the fact timestamp —
    purchases before a user's first observation keep NULL state, a
    feature the oracle's interval LEFT JOIN reproduces. Scale: the
    dimension build is ONE user-keyed exchange, the as-of is one more
    union+sort on the same key — no range explosion, sort-merge all
    the way; at 100 TB both sides co-partition on user_id."""
    from kaylee_spark.operators.joins import asof_join
    from kaylee_spark.operators.maintenance import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    dim = scd2_intervals(
        ev.filter(F.col("event_type") != "purchase"),
        "user_id", "event_type", "ts", tiebreak_cols=["event_id"],
    ).select(
        F.col("key").alias("user_id"),
        F.col("version").alias("state_version"),
        F.col("attr").alias("state"),
        "valid_from",
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(fact, dim, on="user_id", left_time="ts", right_time="valid_from")
    return out.select(
        "event_id", "user_id", "ts", "value",
        "state", "state_version",
        F.col("valid_from").alias("state_since"),
    )


def _psi_timeline_oracle() -> str:
    from kaylee_spark.operators.analytics import PSI_BIN_EDGES, psi_final_exprs

    n_bins = len(PSI_BIN_EDGES) + 1
    bin_case = "0"
    for i, e in enumerate(PSI_BIN_EDGES):
        bin_case = f"CASE WHEN value < {float(e)!r} THEN {bin_case} ELSE {i + 1} END"
    counts = ",\n               ".join(
        f"CAST(COUNT(CASE WHEN bin = {i} THEN 1 END) AS BIGINT) AS c{i}"
        for i in range(n_bins)
    )
    a_cols = ", ".join(f"d.c{i} AS a{i}" for i in range(n_bins))
    b_cols = ", ".join(f"r.c{i} AS b{i}" for i in range(n_bins))
    finals = ",\n           ".join(psi_final_exprs(n_bins))
    return f"""
    WITH binned AS (
        SELECT event_type AS grp, CAST(ts AS DATE) AS day,
               {bin_case} AS bin
        FROM events WHERE value IS NOT NULL
    ),
    piv AS (
        SELECT grp, day, CAST(COUNT(*) AS BIGINT) AS n,
               {counts}
        FROM binned GROUP BY grp, day
    ),
    joined AS (
        SELECT d.grp, CAST(d.day AS VARCHAR) AS day, d.n AS na, r.n AS nb, {a_cols}, {b_cols}
        FROM piv d
        JOIN piv r ON r.grp = d.grp AND r.day = DATE '2024-01-01'
        WHERE d.day > DATE '2024-01-01'
    )
    SELECT grp, day, na, nb,
           {finals}
    FROM joined
    """


@query("e31_psi_timeline", oracle=_psi_timeline_oracle(), extra=True)
def e31_psi_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PSI drift curve: every event type's daily value
    distribution scored against its Jan-1 reference distribution
    (operators/analytics.py psi_timeline) — the dashboard companion to
    a31's single A/B PSI. One (type, day) pivot aggregate; the
    |types|-row reference broadcasts back; PSI is the shared flat
    literal chain. The day-level bin counts ARE the mergeable partials
    a 100 TB monitoring store would persist."""
    from kaylee_spark.operators.analytics import psi_timeline

    ev = load_table(spark, sf_dir, "events")
    return psi_timeline(ev, "value", "event_type", "ts", "2024-01-01")


@query("e32_streamed_psi_ingest", oracle=_psi_timeline_oracle(), extra=True)
def e32_streamed_psi_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift store fed by a TRUE stream: readStream -> daily
    tumbling (event_type, value-bin) counts (streaming/
    drift_bin_counts — the mergeable partials) drained to the store,
    then batch-scored against the Jan-1 reference with the SAME
    psi_score_pivot arithmetic as e31 — so the streamed-ingest path is
    hash-verified to produce bit-identical PSI to the batch path
    (oracle shared verbatim with e31). This is the monitoring
    architecture at 100 TB: the stream maintains day x bin counts,
    scoring never touches raw events."""
    from kaylee_spark.operators.analytics import PSI_BIN_EDGES, psi_score_pivot

    n_bins = len(PSI_BIN_EDGES) + 1
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.drift_bin_counts(ST.events_stream(spark, staged), PSI_BIN_EDGES),
            output_mode="complete",
        ),
    )
    store = drained.select(
        _ntz("window_start"), "grp", "bin", "cnt"
    ).select(F.to_date("window_start").alias("day"), "grp", "bin", "cnt")
    pivot = store.groupBy("grp", "day").agg(
        F.sum("cnt").alias("n"),
        *[
            F.sum(F.when(F.col("bin") == i, F.col("cnt")).otherwise(F.lit(0))).alias(f"c{i}")
            for i in range(n_bins)
        ],
    )
    # the scoring self-joins the pivot (days vs reference); on a memory-
    # sink view Spark 4 fails to disambiguate the shared lineage —
    # localCheckpoint the (days x types)-row store first (it is tiny)
    return psi_score_pivot(pivot.localCheckpoint(), "2024-01-01", n_bins)


def _attribution_oracle() -> str:
    """Shared by e34 (batch window carry) and e36 (streamed state) —
    the two paths must hash-match the same SQL semantics."""
    return f"""
    WITH tagged AS (
        SELECT user_id, ts, event_type, value,
               LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                               THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS t_ts,
               LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS t_ch
        FROM events
    )
    SELECT CASE WHEN t_ts IS NOT NULL AND t_ts >= ts - INTERVAL 7 DAY
                THEN t_ch ELSE 'direct' END AS channel,
           CAST(COUNT(*) AS BIGINT) AS conversions,
           {oracle_dec_sum('value')} AS revenue
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY 1
    """


@query("e34_last_touch_attribution", oracle=_attribution_oracle())
def e34_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: every purchase credited to the
    user's most recent click/view strictly before it within 7 days,
    'direct' otherwise — the workhorse of marketing analytics. One
    user-keyed window sort carries the preceding touch's (ts, channel)
    as IGNORE-NULLS last() over a 1-PRECEDING frame; no
    conversions⋈touches self-join anywhere
    (operators/analytics.py last_touch_attribution)."""
    from kaylee_spark.operators.analytics import last_touch_attribution

    ev = load_table(spark, sf_dir, "events")
    return last_touch_attribution(ev)


def _hll_shared_oracle() -> str:
    from kaylee_spark.queries.advanced import _hll_oracle

    return _hll_oracle()


@query("e35_streamed_hll_ingest", oracle=_hll_shared_oracle(), extra=True)
def e35_streamed_hll_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL distinct store fed by a TRUE stream: readStream ->
    daily tumbling (event_type, register) MAX(rho) shards
    (streaming/hll_day_registers — the mergeable partials) drained to
    the store, then closed with the SAME hll_estimate_close arithmetic
    as a37 against batch-built direct registers and exact counts — so
    the streamed-ingest path is hash-verified to produce bit-identical
    registers AND estimate to the batch path (oracle shared verbatim
    with a37, whose merge_exact boolean now ALSO proves
    streamed-shards ≡ batch-raw registers). The eighth true
    readStream drain; at 100 TB the stream maintains 256 integers per
    type per day and any window's distinct estimate never rescans
    events."""
    from kaylee_spark.operators.analytics import hll_estimate_close, with_hll_cols

    drained = _drain_staged_stream(
        spark,
        sf_dir,
        # two slices per trigger: MAX-register merges are
        # order-insensitive and idempotent, so batch sizing is purely
        # an overhead dial here (same amortization note as e36)
        lambda ST, staged: ST.run_to_memory(
            ST.hll_day_registers(ST.events_stream(spark, staged, files_per_trigger=2)),
            output_mode="complete",
        ),
    )
    merged = drained.groupBy("grp", "idx").agg(F.max("m_day").alias("m_merged"))
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("grp"), F.col("user_id").alias("uid")
    )
    direct = with_hll_cols(base, "uid").groupBy("grp", "idx").agg(
        F.max("rho").alias("m_direct")
    )
    exact = base.groupBy("grp").agg(F.countDistinct("uid").alias("n_exact"))
    # memory-sink lineage + self-join disambiguation: same localCheckpoint
    # as e32 (the register store is |types| x 256 rows — tiny).
    # coalesce(1) first: the store frame is droplet-sized by design,
    # but its checkpoint inherits the restored 32-wide shuffle layout
    # and every downstream consumer then launches 32 near-empty tasks
    # (4 consumers in the close = ~17 s of executor-time floors per
    # bench pass, measured on e41).
    return hll_estimate_close(
        merged.coalesce(1).localCheckpoint().join(direct, ["grp", "idx"]), exact
    )


@query("e36_streamed_attribution", oracle=_attribution_oracle(), extra=True)
def e36_streamed_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed last-touch attribution — the NINTH true readStream
    drain and the first ORDER-SENSITIVE stateful one: per-user
    applyInPandasWithState carries the most recent touch (ts, channel)
    and attributes each purchase the moment it arrives, append-mode
    (an attribution is final at emission — no later event can precede
    it in event time). Within a batch the group sorts by
    (ts, event_id); across batches the staged source's contiguous
    oldest-first time slices guarantee no time travel — under that
    contract the emitted rows equal e34's batch window carry
    row-for-row, and the drained frame closes with the SAME
    channel-level decimal aggregate against the SAME oracle, so
    stream ≡ batch is hash-verified end to end
    (streaming/stateful.last_touch_state).

    Two slices per trigger: state still crosses a batch boundary (the
    property under test; the restart test exercises three boundaries
    plus a checkpoint recovery), but the fixed per-micro-batch cost of
    a stateful trigger is paid twice instead of four times — measured
    7.9 s -> 3.2 s at sf0.1. At 100 TB the same dial is trigger
    sizing: fewer, larger micro-batches amortize state-store and
    commit overhead until latency SLOs push back."""
    from kaylee_spark.streaming.stateful import last_touch_state

    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            last_touch_state(ST.events_stream(spark, staged, files_per_trigger=2)),
            output_mode="append",
        ),
    )
    return drained.groupBy("channel").agg(
        F.count(F.lit(1)).alias("conversions"),
        dec_sum("value").alias("revenue"),
    )


_RATE_ROWS_PER_BATCH = 500
_RATE_BATCHES = 10

_RATE_ORACLE = f"""
SELECT TIMESTAMP '1970-01-01 00:00:00'
         + (CAST(v AS BIGINT) // {_RATE_ROWS_PER_BATCH}) * INTERVAL 1 HOUR AS batch_hour,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) AS BIGINT) AS sum_value,
       CAST(SUM((v * v) % 97) AS BIGINT) AS chk
FROM range(0, {_RATE_ROWS_PER_BATCH * _RATE_BATCHES}) t(v)
GROUP BY 1
"""


@query("e37_streamed_rate_source", oracle=_RATE_ORACLE, extra=True)
def e37_streamed_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TENTH true streaming drain — and the first with NO file
    staging anywhere: Spark's built-in ``rate-micro-batch`` source
    (streaming/rate_stream), proving the streaming layer is not
    coupled to the staged-fixture harness and exercising the
    continuous-trigger/stop path the file drains skip (a rate source
    never exhausts, so availableNow/processAllAvailable cannot bound
    it — boundedness comes from the QUERY's value-domain filter and a
    fixed-point poll, streaming/run_until_rows).

    Determinism is the source's own contract (probed empirically and
    pinned in rate_stream's docstring): micro-batch b carries values
    [b*R, (b+1)*R) stamped startTimestamp + b*advance, so the
    seed→oracle mapping needs no data files at all — DuckDB replays
    the domain with range(). The stream runs a STATEFUL complete-mode
    aggregation keyed on the batch timestamp; batch commits are
    atomic, so each group materializes whole and polling for the
    known group count is race-free. All measures are integer-exact
    (no decimal needed: sums stay far inside int64).

    Ignores ``sf_dir`` by design — the domain is the generator's.
    At 100 TB this shape is the backpressure rehearsal rig: per-trigger
    volume is a dial, and the same checkpoint/restart guarantees the
    file drains rely on are exercised against replayable integer
    offsets (restart-tested in tests/test_streaming.py).
    """
    from kaylee_spark import streaming as ST

    n_total = _RATE_ROWS_PER_BATCH * _RATE_BATCHES
    with scoped_conf(spark, _drain_confs()):
        v = F.col("value")
        agg = (
            ST.rate_stream(spark, _RATE_ROWS_PER_BATCH)
            .filter(v < n_total)
            .groupBy("timestamp")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(v).alias("sum_value"),
                F.sum((v * v) % 97).alias("chk"),
            )
        )
        drained = ST.run_until_rows(agg, _RATE_BATCHES, output_mode="complete")
        return drained.select(
            _ntz("timestamp").alias("batch_hour"), "n_rows", "sum_value", "chk"
        ).localCheckpoint()


@query("e38_streamed_upsert_snapshot", oracle=CDC_UPSERT_ORACLE)
def e38_streamed_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ELEVENTH streaming drain and the first with an EXTERNAL
    batch sink: CDC change deliveries arrive as a key-sliced file
    stream and a checkpointed foreachBatch applies each micro-batch
    to a versioned copy-on-write parquet snapshot
    (streaming/streamed_upsert_snapshot) — `MERGE INTO` fed by a
    stream, the lakehouse maintenance loop.

    The change fixture and the oracle are SHARED VERBATIM with the
    one-shot batch row d09 (maintenance.CDC_UPSERT_ORACLE), so the
    hash gate proves incremental-stream ≡ single-batch for the merge
    semantics; hash slicing puts each key in exactly one delivery, so
    the equality is arrival-order-free. Exactly-once comes from
    foreachBatch idempotence — batch b rewrites version v{b+1} as a
    pure function of (v{b}, batch b), so at-least-once replays
    overwrite their own output (restart-tested in
    tests/test_streaming.py).
    """
    import os
    import tempfile
    import uuid

    from kaylee_spark import streaming as ST
    from kaylee_spark.operators.maintenance import cdc_change_batch

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes_dir = ST.stage_change_batches(cdc_change_batch(base), n_files=4)
    workdir = os.path.join(
        tempfile.gettempdir(), f"kaylee_cow_{uuid.uuid4().hex[:8]}"
    )
    # pin the drain's shuffle width like _drain_staged_stream: each
    # foreachBatch round is a droplet-sized upsert join + COW version
    # write, and at the batch-tuned 32 every version lands as 32 tiny
    # files whose write/read commits dominate the drain. The returned
    # frame is a parquet read of the final version — independent of
    # the conf the scope restores.
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": DRAIN_WIDTH}):
        return ST.streamed_upsert_snapshot(
            spark,
            base,
            changes_dir,
            keys="o_orderkey",
            workdir=workdir,
            tombstone_col="deleted",
        )


_E39_ORACLE = """
    SELECT p.user_id,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase'
    """


@query("e39_streamed_outer_join", oracle=_E39_ORACLE)
def e39_streamed_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the streaming
    semantics inner joins don't exercise: an unmatched purchase can
    only be DECLARED unmatched once the watermark has passed its whole
    30-minute match window, so outer rows trail the watermark and live
    in state until then. The drain therefore reads the flush-sentinel
    staging (streaming/stage_events_with_flush): far-future sentinel
    PAIRS (one per side's event type — Catalyst pushes each side's
    type filter below the watermark node, so only rows a side selects
    can advance its watermark; probed) in TWO separate trailing
    batches — watermarks take effect one batch late and no bounded
    drain waits for a no-data finalization batch (probed: with one
    flush batch the last unmatched purchases stayed in state). The
    second flush batch runs under the first's raised watermark and
    emits the complete unmatched tail, making the streamed result
    EXACTLY the batch LEFT JOIN, which is the oracle (NULL click
    columns for unmatched purchases included in the hash; the
    user_id -1 sentinels are dropped from the result).

    State stays bounded on an infinite stream by the same
    watermark+interval horizon as the inner join (e09); at 100 TB the
    sentinel's role is played by ordinary arrivals — outer results
    are simply ready one watermark-delay later than inner ones, which
    is the latency/completeness trade the operator exists to make
    explicit."""
    from kaylee_spark import streaming as ST

    # two data slices (+ the two sentinel batches) instead of four:
    # join state still crosses a data-batch boundary (the property
    # under test) and the sentinels still flush in separate trailing
    # batches, but the fixed per-micro-batch cost of a stateful
    # stream-stream trigger is paid 4x instead of 6x — the e36/e35
    # amortization dial applied here (measured 8.1 s -> ~5 s at sf0.1)
    staged = ST.stage_events_with_flush(spark, sf_dir, n_files=2)
    # 4 sequential micro-batches x join-state tasks at DRAIN_WIDTH (its
    # A/B was measured on this drain): a symmetric-hash outer join
    # commits FOUR state stores per partition per side per trigger, so
    # the width multiplies straight into commit machinery.
    with scoped_conf(spark, _drain_confs()):
        # one file per trigger: the two sentinels MUST land in separate
        # batches for the tail flush (see stage_events_with_flush).
        # Watermark BEFORE the side filters — a watermark operator only
        # sees rows that reach it, and the sentinels match no side
        # filter by design (the watermark-first, route-after shape).
        ev = ST.events_stream(spark, staged, files_per_trigger=1).withWatermark(
            "ts", "2 hours"
        )
        joined = ST.stream_stream_join(
            ev.filter(F.col("event_type") == "purchase"),
            ev.filter(F.col("event_type") == "click"),
            watermark=None,
            how="leftOuter",
        )
        drained = ST.run_to_memory(joined, output_mode="append")
    return (
        drained.filter(F.col("user_id") >= 0)  # drop the flush sentinels
        .select(
            "user_id",
            F.col("l_event_id").alias("purchase_id"),
            _ntz("l_ts").alias("purchase_ts"),
            F.col("r_event_id").alias("click_id"),
            _ntz("r_ts").alias("click_ts"),
        )
        .localCheckpoint()
    )


_E40_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
           CAST(SUM(user_id) AS BIGINT) AS sum_user
    FROM events
    """


@query("e40_streamed_observed_metrics", oracle=_E40_ORACLE)
def e40_streamed_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING observability — p03's twin on the readStream path:
    ``DataFrame.observe`` metrics ride each micro-batch and surface in
    StreamingQueryProgress.observedMetrics, so a pipeline's health
    counters (rows ingested, per-type counts, checksums) cost ZERO
    extra scans and no second query — the monitoring story a 100 TB
    ingest needs (per-batch metrics feed alerting; the alternative, a
    parallel counting query, doubles the read). A
    StreamingQueryListener accumulates the per-batch observed rows
    (one tiny dict per batch) — NOT q.recentProgress, which is a ring
    buffer capped at spark.sql.streaming.numRecentProgressUpdates
    (default 100) and would silently drop early batches on a long
    drain (ADVICE r12). The listener bus delivers events in order, so
    the QueryTerminated event is the barrier proving every progress
    event was summed; the hash gate then verifies the piggybacked
    totals equal DuckDB's recompute over the same fixture — no batch
    missed, double-counted, or partially observed. Integer-exact.
    """
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from kaylee_spark import streaming as ST

    staged = ST.stage_events_dir(spark, sf_dir)
    ev = ST.events_stream(spark, staged, files_per_trigger=2)
    observed = ev.observe(
        "m",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_clicks"),
        F.sum("user_id").alias("sum_user"),
    )

    class _Acc(StreamingQueryListener):
        """Accumulates observed metrics PER query id (ADVICE r13: a
        start-time qid filter leaves a window where a concurrent
        stream's events would be folded in — bucketing by the event's
        own id instead makes the filter a read-time select, race-free
        by construction)."""

        def __init__(self):
            import collections

            self.by_qid = collections.defaultdict(
                lambda: {"n_rows": 0, "n_clicks": 0, "sum_user": 0}
            )
            self.terminated: set[str] = set()
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            m = p.observedMetrics.get("m") if p.observedMetrics else None
            if m is not None:
                with self.cond:
                    tot = self.by_qid[str(p.id)]
                    for k in tot:
                        tot[k] += int(m[k] or 0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.terminated.add(str(event.id))
                self.cond.notify_all()

        def __str__(self):  # listener bus logs repr on errors
            return "e40_observed_metrics_accumulator"

    acc = _Acc()
    spark.streams.addListener(acc)
    try:
        q = (
            observed.writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
        )
        qid = str(q.id)
        q.awaitTermination()
        # listener events are async: wait for OUR query's in-order
        # terminated event, which proves all its progress events were
        # delivered. Explicit raise, not assert — the barrier must
        # survive `python -O` (ADVICE r13).
        with acc.cond:
            delivered = acc.cond.wait_for(
                lambda: qid in acc.terminated, timeout=60
            )
        if not delivered:
            raise RuntimeError(
                "e40: listener termination event not delivered within 60s"
            )
        tot = acc.by_qid[qid]
    finally:
        spark.streams.removeListener(acc)
    from kaylee_spark.functions import literal_frame

    # literal_frame, not createDataFrame: one literal totals row must
    # not plan a Python-worker scan
    return literal_frame(
        spark,
        [(tot["n_rows"], tot["n_clicks"], tot["sum_user"])],
        "n_rows long, n_clicks long, sum_user long",
    )


def _a40_shared_oracle() -> str:
    from kaylee_spark.queries.advanced import _A40_ORACLE

    return _A40_ORACLE


@query("e41_streamed_quantile_ingest", oracle=_a40_shared_oracle())
def e41_streamed_quantile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-fencepost quantile store fed by a TRUE stream:
    readStream -> daily tumbling (event_type, bucket) COUNT shards
    (streaming/quantile_day_buckets — the mergeable partials) drained
    to the store, then closed with the SAME quantile_store_close
    arithmetic as a40 against batch-built direct counts and exact
    rank values — so the streamed-ingest path is hash-verified to
    produce bit-identical bucket counts AND quantiles to the batch
    path (oracle shared verbatim with a40, whose merge_exact boolean
    now ALSO proves streamed-shards ≡ batch-raw counts). At 100 TB
    the stream maintains |types| × |buckets| integers per day and any
    window's latency percentile never rescans events.

    Two slices per trigger: COUNT shards are owned by disjoint
    (day, bucket) windows and complete-mode re-emission replaces, so
    batch sizing is purely an overhead dial (same amortization note
    as e35/e36)."""
    from kaylee_spark.operators.analytics import quantile_store_close

    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.quantile_day_buckets(
                ST.events_stream(spark, staged, files_per_trigger=2)
            ),
            output_mode="complete",
        ),
    )
    merged = drained.groupBy("grp", "b").agg(F.sum("n_day").alias("n"))
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = ev.select(F.col("event_type").alias("grp"), cents.alias("c"))
    # memory-sink lineage + self-join disambiguation: same
    # localCheckpoint as e32/e35 (the store is |types| x |buckets|
    # rows — tiny)
    return quantile_store_close(merged.coalesce(1).localCheckpoint(), base)


def _a39_shared_oracle() -> str:
    from kaylee_spark.queries.advanced import _A39_ORACLE

    return _A39_ORACLE


@query("e42_streamed_moment_ingest", oracle=_a39_shared_oracle())
def e42_streamed_moment_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The moment store fed by a TRUE stream — completing the
    store × ingest matrix (a37/e35 distinct, a40/e41 quantile,
    a39/THIS moments): readStream -> daily tumbling (event_type)
    exact power-sum shards (streaming/moment_day_shards — n, S1, S2
    in cents) drained to the store, then closed with the SAME merge
    + direct-comparison arithmetic as a39 (oracle shared verbatim),
    so the streamed-ingest path is hash-verified to produce
    bit-identical registers to the batch path, and a39's merge_exact
    boolean now ALSO proves streamed-shards ≡ batch-raw sums. At
    100 TB the stream maintains three integers per type per day and
    any window's mean/variance never rescans events.

    Two slices per trigger: SUM shards are owned by disjoint day
    windows and complete-mode re-emission replaces, so batch sizing
    is purely an overhead dial (same amortization note as e35/e41)."""
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.moment_day_shards(ST.events_stream(spark, staged, files_per_trigger=2)),
            output_mode="complete",
        ),
    )
    merged = drained.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_day").alias("n"),
        F.sum("s1_day").alias("s1_cents"),
        F.sum("s2_day").alias("s2_cents"),
    )
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    direct = (
        ev.select(F.col("event_type").alias("grp"), cents.alias("c"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("dn"),
            F.sum("c").alias("ds1"),
            F.sum(F.col("c") * F.col("c")).alias("ds2"),
        )
    )
    # memory-sink lineage + self-join disambiguation (e32/e35/e41 note)
    return merged.coalesce(1).localCheckpoint().join(direct, "grp").select(
        F.col("grp").alias("event_type"),
        "n_days",
        "n",
        "s1_cents",
        "s2_cents",
        (
            (F.col("n") == F.col("dn"))
            & (F.col("s1_cents") == F.col("ds1"))
            & (F.col("s2_cents") == F.col("ds2"))
        ).alias("merge_exact"),
    )


_E43_ORACLE = """
    WITH b AS (
        SELECT event_type AS grp, date_trunc('day', ts) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS x,
               CAST(datepart('hour', ts) * 60
                    + datepart('minute', ts) AS BIGINT) AS y
        FROM events
    ),
    shards AS (
        SELECT grp, day, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM b GROUP BY grp, day
    ),
    merged AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(sx) AS BIGINT) AS sx,
               CAST(SUM(sy) AS BIGINT) AS sy,
               SUM(CAST(sxy AS HUGEINT)) AS msxy,
               SUM(CAST(sxx AS HUGEINT)) AS msxx,
               SUM(CAST(syy AS HUGEINT)) AS msyy
        FROM shards GROUP BY grp
    ),
    direct AS (
        SELECT grp, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM b GROUP BY grp
    )
    SELECT m.grp AS event_type, m.n_days, m.n, m.sx, m.sy,
           CAST(m.msxy AS VARCHAR) AS sxy_str,
           CAST(m.msxx AS VARCHAR) AS sxx_str,
           CAST(m.msyy AS VARCHAR) AS syy_str,
           ROUND(
               (CAST(m.n AS DOUBLE) * CAST(m.msxy AS DOUBLE)
                - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
               / sqrt(CAST(m.n AS DOUBLE) * CAST(m.msxx AS DOUBLE)
                      - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
               / sqrt(CAST(m.n AS DOUBLE) * CAST(m.msyy AS DOUBLE)
                      - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)),
               6) AS corr_r,
           (m.n = d.n AND m.sx = d.sx AND m.sy = d.sy
            AND m.msxy = d.sxy AND m.msxx = d.sxx AND m.msyy = d.syy)
               AS merge_exact
    FROM merged m JOIN direct d USING (grp)
    """


@query("e43_streamed_comoment_ingest", oracle=_E43_ORACLE)
def e43_streamed_comoment_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-moment store fed by a TRUE stream — a41's mechanics on
    the events stream (x = value cents, y = minute-of-day: the
    diurnal-correlation drift readout): readStream -> daily tumbling
    exact co-moment shards (streaming/comoment_day_shards) drained to
    the store, merged in DECIMAL(38,0) by addition, Pearson r derived
    from merged registers, and the in-query merge_exact comparing the
    streamed-merged registers against a batch single-pass over the
    same fixture — so the streamed-ingest path is hash-verified
    register-exact. Squared-sum registers are emitted as strings to
    stay exact past 2^53 (the a41 convention). The store x ingest
    matrix is now complete in both directions: distinct a37/e35,
    moments a39/e42, quantiles a40/e41, co-moments a41/THIS."""
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.comoment_day_shards(
                ST.events_stream(spark, staged, files_per_trigger=2)
            ),
            output_mode="complete",
        ),
    )
    d38 = "decimal(38,0)"
    merged = drained.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_day").alias("n"),
        F.sum("sx_day").alias("sx"),
        F.sum("sy_day").alias("sy"),
        F.sum(F.col("sxy_day").cast(d38)).alias("msxy"),
        F.sum(F.col("sxx_day").cast(d38)).alias("msxx"),
        F.sum(F.col("syy_day").cast(d38)).alias("msyy"),
    )
    ev = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("bigint")
    y = (F.hour("ts") * 60 + F.minute("ts")).cast("bigint")
    base = ev.select(F.col("event_type").alias("grp"), x.alias("x"), y.alias("y"))
    direct = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("dn"),
        F.sum("x").alias("dsx"),
        F.sum("y").alias("dsy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("dsxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("dsxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("dsyy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("msxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    dx = F.sqrt(nd * F.col("msxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
    dy = F.sqrt(nd * F.col("msyy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    # memory-sink lineage + self-join disambiguation (e32/e35/e41 note)
    return merged.coalesce(1).localCheckpoint().join(direct, "grp").select(
        F.col("grp").alias("event_type"),
        "n_days",
        "n",
        "sx",
        "sy",
        F.col("msxy").cast("string").alias("sxy_str"),
        F.col("msxx").cast("string").alias("sxx_str"),
        F.col("msyy").cast("string").alias("syy_str"),
        F.round(num / dx / dy, 6).alias("corr_r"),
        (
            (F.col("n") == F.col("dn"))
            & (F.col("sx") == F.col("dsx"))
            & (F.col("sy") == F.col("dsy"))
            & (F.col("msxy") == F.col("dsxy"))
            & (F.col("msxx") == F.col("dsxx"))
            & (F.col("msyy") == F.col("dsyy"))
        ).alias("merge_exact"),
    )


@query("e44_quantile_store_reopen", oracle=_a40_shared_oracle(), extra=True)
def e44_quantile_store_reopen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SESSION store round-trip — the monitoring deployment shape
    the a37-a41 family promises but (until this query) never proved
    end-to-end: the STREAMED ingest leg (e41's readStream -> daily
    tumbling (grp, bucket) COUNT shards) PERSISTS its day shards to a
    day-partitioned parquet store, and a SEPARATE session (a bare
    ``spark.newSession()`` — fresh session state, no shared temp views
    or conf, exactly the nightly-ingest/ad-hoc-reader split) reopens
    the files with a plain ``spark.read.parquet`` and closes them with
    the BATCH closer (operators/analytics.quantile_store_close).
    Oracle shared VERBATIM with a40/e41, so the persisted-reopened
    path is hash-verified to produce bit-identical bucket counts and
    quantiles to both the batch and the in-memory streamed paths:
    ``merge_exact`` now additionally proves the parquet round-trip is
    lossless, and ``bracket_exact`` re-pins the rank arithmetic on the
    reader's side.

    At 100 TB this is THE store contract: a nightly stream appends one
    day=... partition of |types| x |buckets| integers; any later
    reader merges partitions by ADDITION without rescanning events.
    The day-partitioned layout means a reader asking for a window
    prunes to its days at the parquet-partition level.
    """
    import os
    import tempfile

    from kaylee_spark.operators.analytics import quantile_store_close
    from kaylee_spark.sources import table_path

    # ---- leg 1: the ingest session (streamed drain -> persisted store)
    drained = _drain_staged_stream(
        spark,
        sf_dir,
        lambda ST, staged: ST.run_to_memory(
            ST.quantile_day_buckets(
                ST.events_stream(spark, staged, files_per_trigger=2)
            ),
            output_mode="complete",
        ),
    )
    # store path keyed by fixture + pid + mtime (the relational
    # _stage_tag convention: concurrent-process isolation + staleness
    # invalidation when the fixture regenerates mid-process)
    mt = int(os.path.getmtime(table_path(sf_dir, "events")))
    tag = (
        os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
        + f"_p{os.getpid()}_m{mt}"
    )
    store = os.path.join(tempfile.gettempdir(), f"kaylee_qstore_{tag}")
    (
        drained.withColumn("day", F.to_date("window_start"))
        .select("day", "grp", "b", "n_day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(store)
    )

    # ---- leg 2: a later ad-hoc session reopens and closes the store
    reader = spark.newSession()
    shards = reader.read.parquet(store)
    merged = shards.groupBy("grp", "b").agg(F.sum("n_day").alias("n"))
    ev = load_table(reader, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = ev.select(F.col("event_type").alias("grp"), cents.alias("c"))
    return quantile_store_close(merged, base)


def _a46_shared_oracle() -> str:
    from kaylee_spark.queries.advanced import _A46_ORACLE

    return _A46_ORACLE


@query("e45_streamed_view_maintenance", oracle=_a46_shared_oracle(), extra=True)
def e45_streamed_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a46's maintained view fed by a TRUE stream — and the first
    drain whose streaming STATE carries NEGATIVE multiplicities: the
    five-batch CDC history (four insert slices + the retraction
    batch, mult = −1) lands as a file stream and a complete-mode
    stateful aggregation folds Σmult / Σmult·cents per group across
    micro-batches, so deletes retract inside streaming state rather
    than via tombstone compaction. Oracle shared VERBATIM with a46,
    proving streamed-fold ≡ batch-replay ≡ direct-over-survivors for
    the Z-relation algebra; file slicing is arrival-order-free
    because addition commutes (the e38 hash-slice argument, for
    registers instead of keys).

    At 100 TB the state is |groups| rows of integer registers — the
    streamed view never rescans history, and a delete storm costs the
    same as an insert storm (no vacuum step, the a46 point made
    continuous)."""
    import os
    import tempfile
    import uuid

    from kaylee_spark import streaming as ST

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents.alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    inserts = base.withColumn("mult", F.lit(1))
    retractions = base.filter(F.col("k") % 10 == 3).withColumn(
        "mult", F.lit(-1)
    )
    deltas = inserts.unionByName(retractions).select("grp", "cents", "mult")
    staged = os.path.join(
        tempfile.gettempdir(), f"kaylee_viewdeltas_{uuid.uuid4().hex[:8]}"
    )
    deltas.repartition(4).write.mode("overwrite").parquet(staged)

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": DRAIN_WIDTH}):
        stream = (
            spark.readStream.schema(deltas.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(staged)
        )
        regs = stream.groupBy("grp").agg(
            F.sum("mult").cast("bigint").alias("n"),
            F.sum(F.col("mult") * F.col("cents")).cast("bigint").alias(
                "revenue_cents"
            ),
        )
        view = ST.run_to_memory(regs, output_mode="complete")

    direct = (
        base.filter(F.col("k") % 10 != 3)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("dn"),
            F.sum("cents").cast("bigint").alias("drevenue"),
        )
    )
    # memory-sink lineage + self-join disambiguation (e32/e35/e41 note)
    return view.coalesce(1).localCheckpoint().join(direct, "grp").select(
        F.col("grp").alias("o_orderpriority"),
        "n",
        "revenue_cents",
        (
            (F.col("n") == F.col("dn"))
            & (F.col("revenue_cents") == F.col("drevenue"))
        ).alias("maintain_exact"),
    )
