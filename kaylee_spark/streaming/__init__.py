"""Structured Streaming operators over the events table.

The reference has NO stream semantics — its closest analogue is
incremental task streaming over sockets, which is scheduling, not
streaming (SURVEY.md §2.3). This module supplies the streaming layer a
user of the engine needs: event-time windows (tumbling / session),
watermarks for late data, and stateful dedup against a corpus.

Correctness statement (tested in tests/test_streaming.py): because
Spark's batch and streaming share one semantics, each streaming
aggregation here must produce exactly the batch result of the same
window function once the stream is fully consumed (availableNow
trigger + complete/append output).

Scale notes: state store size is bounded by the watermark horizon —
at 100 TB/day ingest, a 2h watermark keeps state at ~8% of daily key
cardinality; session windows use ``session_window`` (native state
merge) rather than applyInPandasWithState when the built-in suffices.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaylee_spark.functions import dec_sum
from kaylee_spark.sources import load_table

# ts is LTZ here (not NTZ like the batch fixture loader): Spark's
# event-time watermark machinery requires TIMESTAMP. Stream and batch
# sides of every test read through this same schema, so the
# interpretation is consistent whatever the session timezone.
EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def stage_events_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Materialize the events fixture as a multi-file parquet directory
    (the shape a streaming file source expects). Files are CONTIGUOUS
    TIME SLICES written oldest-first, so replaying file-by-file follows
    event time and the watermark advances monotonically — the realistic
    arrival order. (A plain repartition would round-robin rows: every
    file spans the full range, batch 1 slams the watermark to the end,
    and all later batches arrive 'late'.)

    Slice boundaries come from one quantile aggregation over ts and
    each slice is an independent parallel range-filtered write — no
    global sort anywhere, so this staging shape survives any input
    size (an earlier ntile-over-global-Window version funneled the
    whole fixture through one sort partition). Slice sizes are only
    approximately equal (boundary ties stay in one slice), which is
    all replay needs.

    The staged directory is CACHED per (fixture file, mtime, n_files)
    for the process lifetime: files-on-disk are the file source's
    PRECONDITION, not part of the streaming computation, and five
    streamed queries (e07/e08/e09/e10/e18) plus every bench pass read
    the identical staging — re-materializing it each time measured
    ~2 s of pure test plumbing per drain. The mtime key makes fixture
    drift invalidate the cache.
    """
    src = os.path.join(sf_dir, "events.parquet")
    key = (os.path.realpath(src), os.path.getmtime(src), n_files)
    cached = _STAGE_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    out = os.path.join(tempfile.gettempdir(), f"kaylee_events_{uuid.uuid4().hex[:8]}")
    import time as _time_mod

    _base = _time_mod.time() - 3600  # past-dated: never ahead of wall clock
    _stamped: set[str] = set()
    ev = load_table(spark, sf_dir, "events")
    fracs = [i / n_files for i in range(1, n_files)]
    bounds = ev.select(
        F.percentile_approx("ts", fracs, 10_000).alias("b")
    ).first()["b"]
    edges = [None, *bounds, None]
    for i in range(n_files):
        lo, hi = edges[i], edges[i + 1]
        sl = ev
        if lo is not None:
            sl = sl.filter(F.col("ts") > F.lit(lo))
        if hi is not None:
            sl = sl.filter(F.col("ts") <= F.lit(hi))
        # sequential writes -> increasing file mtimes -> the streaming
        # file source replays slices oldest-first
        sl.coalesce(1).write.mode("append").parquet(out)
        # ...but Spark's file source orders candidate files by mtime
        # with NO tiebreak, and filesystem mtime granularity can tie
        # two back-to-back writes — a tie may deliver slices
        # NEWEST-first. Watermark-only consumers tolerate that (late
        # rows are still within the watermark); the ORDER-SENSITIVE
        # stateful drains (e36's attribution carry) must not see time
        # travel, so stamp each slice's part files with an explicitly
        # strictly-increasing mtime.
        for name in os.listdir(out):
            p = os.path.join(out, name)
            if name.startswith("part-") and p not in _stamped:
                os.utime(p, (_base + i, _base + i))
                _stamped.add(p)
    _STAGE_CACHE[key] = out
    return out


#: staged-events directories by (fixture path, mtime, n_files); the
#: dirs live in tempdir for the process lifetime (a few MB at sf0.1)
_STAGE_CACHE: dict[tuple[str, float, int], str] = {}


def events_stream(spark: SparkSession, events_dir: str, files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a staged events directory."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_dir)
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window counts per event type, late data
    dropped past the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows (dynamic gap-merged state) per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), F.col("w.end").alias("session_end"), "n_events")
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    within: str = "30 minutes",
    watermark: str | None = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each left event matched to
    right events of the same key whose timestamp falls in
    (left.ts - within, left.ts].

    This is Spark's bounded-state stream-stream join shape: BOTH sides
    carry a watermark and the join condition bounds right_ts relative
    to left_ts, so the state store only retains rows inside the
    watermark + interval horizon — the property that keeps a joined
    pair of infinite streams in finite memory at scale. Without the
    time bound Spark would have to buffer one side forever.

    ``how="leftOuter"`` adds the outer semantics streams make hard:
    an unmatched left row can only be DECLARED unmatched once the
    watermark has passed its entire match window — so outer results
    trail the watermark, and a bounded drain must push the watermark
    past the data's end to flush the tail (see
    stage_events_with_flush's sentinel).

    ``watermark=None`` means the inputs arrive ALREADY watermarked —
    the production shape when one ingest point assigns the watermark
    and downstream routing filters branch from it. This also matters
    mechanically: a watermark operator only sees rows that REACH it,
    so a flush sentinel filtered out upstream of a per-side
    withWatermark would never advance anything (probed; the e39
    lesson) — watermark first, filter after.

    Output: (on, left event_id/ts, matched right event_id/ts —
    NULLs for unmatched lefts under leftOuter).
    """
    if watermark is not None:
        left = left.withWatermark("ts", watermark)
        right = right.withWatermark("ts", watermark)
    lw = left.select(
        F.col(on).alias("k"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    )
    rw = right.select(
        F.col(on).alias("rk"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    cond = (
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") > F.col("l_ts") - F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how).select(
        F.col("k").alias(on), "l_event_id", "l_ts", "r_event_id", "r_ts"
    )


def stage_events_with_flush(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """The staged events directory PLUS trailing flush-sentinel files:
    events 10/20 days past the fixture's max ts (user_id -1,
    event_type 'sentinel' — excluded by any real filter, so the
    consumer must watermark BEFORE filtering for them to count). Their
    arrival advances the watermark beyond every real row's match
    window, so stateful operators whose results TRAIL the watermark
    (outer stream-stream joins, late-window finalization) flush their
    complete tail before a bounded drain ends. This is the standard
    bounded-drain answer for watermark-trailing semantics; on an
    unbounded production stream the next real arrivals play this role.

    TWO sentinel files, delivered in separate trailing micro-batches
    (consume with files_per_trigger=1): watermarks take effect one
    batch late — batch N+1 runs with the watermark computed from what
    batch N saw — so the FIRST sentinel's raise only governs the
    batch after it, and neither availableNow nor processAllAvailable
    waits for a no-data finalization batch (probed: the outer tail
    stayed in state with one sentinel). The second sentinel's batch
    executes under the first's raised watermark and flushes the tail.

    Cached per (fixture, mtime, n_files) like stage_events_dir; the
    sentinel files are stamped with the latest mtimes so the file
    source delivers them LAST, in order.
    """
    src = os.path.join(sf_dir, "events.parquet")
    key = ("flush", os.path.realpath(src), os.path.getmtime(src), n_files)
    cached = _STAGE_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    import shutil

    staged = stage_events_dir(spark, sf_dir, n_files)
    out = os.path.join(tempfile.gettempdir(), f"kaylee_evflush_{uuid.uuid4().hex[:8]}")
    shutil.copytree(staged, out)
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    for days in (10, 20):
        # one sentinel row PER CONSUMER-SIDE TYPE, not a synthetic
        # 'sentinel' type: Catalyst pushes a consumer's event_type
        # filter below the watermark operator into the scan, so a row
        # of a type no side selects never reaches ANY watermark node
        # (probed — the tail stayed in state). user_id -1 marks them
        # for exclusion from final results; under a leftOuter join the
        # click sentinel matches only its paired purchase sentinel.
        sentinel = spark.createDataFrame(
            [
                (-1, max_ts, -1, "purchase", 0.0, "{}"),
                (-2, max_ts, -1, "click", 0.0, "{}"),
            ],
            EVENTS_SCHEMA,
        ).withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
        sentinel.coalesce(1).write.mode("append").parquet(out)
        # stamp in write order so far: slices keep their relative
        # order, sentinel 1 after them, sentinel 2 strictly last
        names = sorted(
            (n for n in os.listdir(out) if n.startswith("part-")),
            key=lambda n: os.path.getmtime(os.path.join(out, n)),
        )
        base_t = __import__("time").time() - 3600
        for i, n in enumerate(names):
            os.utime(os.path.join(out, n), (base_t + i, base_t + i))
    _STAGE_CACHE[key] = out
    return out


DOCUMENTS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stage_documents_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Materialize the documents fixture as contiguous doc_id slices —
    the arrival shape of a batched corpus ingest (each file = one
    delivery). Same caching contract as stage_events_dir."""
    src = os.path.join(sf_dir, "documents.parquet")
    key = (os.path.realpath(src), os.path.getmtime(src), n_files)
    cached = _STAGE_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    out = os.path.join(tempfile.gettempdir(), f"kaylee_docs_{uuid.uuid4().hex[:8]}")
    docs = spark.read.parquet(src)
    fracs = [i / n_files for i in range(1, n_files)]
    bounds = docs.select(F.percentile_approx("doc_id", fracs, 10_000).alias("b")).first()["b"]
    edges = [None, *bounds, None]
    for i in range(n_files):
        lo, hi = edges[i], edges[i + 1]
        sl = docs
        if lo is not None:
            sl = sl.filter(F.col("doc_id") > F.lit(int(lo)))
        if hi is not None:
            sl = sl.filter(F.col("doc_id") <= F.lit(int(hi)))
        sl.coalesce(1).write.mode("append").parquet(out)
    _STAGE_CACHE[key] = out
    return out


def documents_stream(spark: SparkSession, docs_dir: str, files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a staged documents directory."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(docs_dir)
    )


def ingest_dedup(stream_docs: DataFrame, corpus_hashes: DataFrame) -> DataFrame:
    """Streaming near-dup ingest — the pipeline a 100 TB corpus runs
    daily: documents arrive as a stream, reduce to their 32-byte
    content hash, drop everything the EXISTING corpus already has
    (stream-static join against the corpus hash set), then dedup
    WITHIN the stream so each new content item is admitted once no
    matter how many deliveries repeat it.

    Operator order is the scale decision: the stream-static anti join
    runs FIRST (it is stateless — each micro-batch joins against the
    static side and forgets), so the stateful dropDuplicates keys only
    content that is genuinely new to the corpus — state grows with the
    NOVELTY rate, not the arrival rate. (A replayed/backfilled feed is
    mostly already-seen content; keying dedup state on it would grow
    state with the feed.) ``corpus_hashes`` is a static (content_sha)
    frame — e.g. ``exact_dedup(corpus,...).select("content_sha")`` or
    the running output parquet of prior ingests.

    Output: one (content_sha) row per new-to-corpus content item —
    key-only, so the emitted SET equals batch
    ``DISTINCT minus corpus`` regardless of arrival order (the same
    order-independence trick as the e18 drain), which is what lets a
    SQL oracle verify a streaming state machine exactly. Downstream,
    land it with stream_to_parquet for the exactly-once restart
    contract (tested), joining payloads back by hash where needed.

    The stream-side anti join is expressed as left_outer + IS NULL —
    identical semantics to left_anti, and it stays on the officially
    supported stream-static join matrix.
    """
    from kaylee_spark.operators.dedup import content_hash

    hashed = stream_docs.select(content_hash("text").alias("content_sha"))
    static = F.broadcast(
        corpus_hashes.select(F.col(corpus_hashes.columns[0]).alias("_seen_sha"))
    )
    novel = (
        hashed.join(static, hashed.content_sha == F.col("_seen_sha"), "left_outer")
        .filter(F.col("_seen_sha").isNull())
        .select("content_sha")
    )
    return novel.dropDuplicates(["content_sha"])


def stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    partition_by: list[str] | None = None,
    available_now: bool = True,
):
    """Checkpointed parquet file sink — the durable landing zone of a
    streaming pipeline, with END-TO-END EXACTLY-ONCE semantics: the
    file source is replayable, offsets + file-commit metadata live in
    the ``checkpoint`` dir (WAL + _spark_metadata), so a restart after
    any crash or a re-run of a fully-drained stream resumes from the
    recorded offsets and never re-emits rows already committed —
    readers of ``path`` see each input row exactly once. This is the
    property that makes incremental 100 TB ingestion restartable; the
    memory sink (run_to_memory) is for verification only.

    Returns the started StreamingQuery; with ``available_now`` the
    caller should ``awaitTermination()`` (drain-batch semantics), else
    it runs continuously until stopped.
    """
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    checkpoint: str,
    available_now: bool = True,
):
    """Checkpointed foreachBatch sink — the exactly-once bridge to any
    BATCH writer (JDBC, custom formats, multi-table fan-out) that has
    no native streaming sink.

    ``batch_fn(batch_df, batch_id)`` runs once per micro-batch.
    Spark's guarantee here is at-least-once on batch_fn (a crash after
    the write but before the checkpoint commit replays the SAME
    batch_id with the SAME data), so end-to-end exactly-once requires
    batch_fn to be IDEMPOTENT PER batch_id: overwrite a
    batch_id-keyed partition / use `INSERT ... ON CONFLICT` keyed on
    batch_id / check a committed-ids table — then replays are no-ops.
    The restart test encodes exactly this pattern with a
    batch_id-partitioned parquet overwrite.

    Returns the started StreamingQuery.
    """
    w = (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run_to_memory(stream_df: DataFrame, output_mode: str = "append", name: str | None = None) -> DataFrame:
    """Drain the stream with availableNow into a memory sink; returns
    the result as a batch DataFrame (test/verification helper)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def run_all_to_memory(
    stream_df: DataFrame, output_mode: str = "append", name: str | None = None
) -> DataFrame:
    """Drain the stream to EXHAUSTION into a memory sink and return
    the result as a batch DataFrame.

    Differs from run_to_memory's availableNow trigger, which caps the
    run at the offset already prefetched when the query starts — for a
    SimpleDataSourceStreamReader source that is exactly ONE micro-batch
    (its latestOffset advances one ``read`` per tick). Here the query
    runs on the default trigger and ``processAllAvailable()`` blocks
    until the source stops advancing, which for a bounded source
    (datafn's ``max_rows``) means the full domain has been committed
    batch by batch — the behavior under test for the incremental
    work-unit stream."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def rate_stream(
    spark,
    rows_per_batch: int,
    advance_ms: int = 3_600_000,
    num_partitions: int = 4,
    start_timestamp: int = 0,
) -> DataFrame:
    """Spark's built-in ``rate-micro-batch`` source — a TRUE streaming
    source with NO file staging anywhere: micro-batch b deterministically
    carries values [b*rows_per_batch, (b+1)*rows_per_batch) all stamped
    ``start_timestamp + b*advance_ms`` (probed empirically; the
    value→batch→timestamp law is what makes a seed→oracle mapping
    possible). Offsets are replayable integers, so checkpoint restarts
    resume mid-domain exactly-once — the property the e37 restart test
    pins. At 100 TB the same shape is the load-generator / backpressure
    rehearsal rig: per-trigger volume is a dial, not a file count."""
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", num_partitions)
        .option("startTimestamp", start_timestamp)
        .option("advanceMillisPerBatch", advance_ms)
        .load()
    )


def run_until_rows(
    stream_df: DataFrame,
    target_rows: int,
    output_mode: str = "append",
    name: str | None = None,
    timeout_s: float = 120.0,
    poll_s: float = 0.2,
) -> DataFrame:
    """Drain an UNBOUNDED source into a memory sink until the sink
    holds ``target_rows`` rows, then stop. processAllAvailable (and
    availableNow) never terminate on a rate source — its latestOffset
    advances every trigger forever — so boundedness must come from the
    QUERY (a value-domain filter) and the drain polls the sink for the
    filter's known fixed point. Deterministic: once every row of the
    filtered domain has been committed, later batches contribute
    nothing, so the drained table is the same set regardless of when
    within a trailing batch the stop lands."""
    import time as _time

    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    spark = stream_df.sparkSession
    try:
        deadline = _time.time() + timeout_s
        while spark.table(name).count() < target_rows:
            if _time.time() > deadline:
                raise TimeoutError(
                    f"rate drain: {spark.table(name).count()}/{target_rows} "
                    f"rows after {timeout_s}s"
                )
            _time.sleep(poll_s)
    finally:
        q.stop()
    q.awaitTermination()
    return spark.table(name)


def drift_bin_counts(events: DataFrame, edges: tuple, watermark: str = "2 hours") -> DataFrame:
    """Streamed ingestion leg of the PSI drift store: per (event_type,
    day, value-bin) counts over daily tumbling event-time windows —
    exactly the mergeable partials psi_score_pivot consumes. State key
    cardinality = |types| x |days in watermark horizon| x |bins|
    (tiny), so the store stays bounded on an infinite stream.
    """
    v = F.col("value")
    b = F.lit(0)
    for i, e in enumerate(edges):
        b = F.when(v < F.lit(float(e)), b).otherwise(F.lit(i + 1))
    return (
        events.filter(v.isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.col("event_type").alias("grp"),
            b.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "grp", "bin", "cnt")
    )


def hll_day_registers(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streamed ingestion leg of the HLL distinct store: per
    (event_type, day, register-index) MAX(rho) over daily tumbling
    event-time windows — the mergeable register shards
    hll_estimate_close consumes. The register coordinates are the
    row-local integer pipeline shared with the batch operator
    (operators/analytics.py with_hll_cols), so the streamed shards are
    bit-identical to batch-built ones. State key cardinality =
    |types| x |days in watermark horizon| x 256 registers — bounded on
    an infinite stream; MAX is the idempotent merge, so replays and
    late arrivals can only re-assert, never corrupt.
    """
    from kaylee_spark.operators.analytics import with_hll_cols

    base = events.select(
        F.col("event_type").alias("grp"),
        F.col("ts"),
        F.col("user_id").alias("uid"),
    )
    return (
        with_hll_cols(base, "uid")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "grp", "idx")
        .agg(F.max("rho").alias("m_day"))
        .select(F.col("w.start").alias("window_start"), "grp", "idx", "m_day")
    )


def stage_change_batches(changes: DataFrame, n_files: int = 4) -> str:
    """Materialize a CDC change batch as ``n_files`` key-hash-sliced
    parquet files — the shape a change FEED delivers to a streaming
    file source. Hash slicing (repartition on the keys) puts each key
    in exactly one delivery, so per-key upserts across micro-batches
    commute and the final snapshot is delivery-order-insensitive (no
    mtime stamping needed, unlike the order-sensitive event staging).

    A fresh uuid directory per call: change feeds are transient by
    nature and tiny relative to the snapshot (the normal CDC regime),
    so there is nothing to cache across drains.
    """
    out = os.path.join(tempfile.gettempdir(), f"kaylee_changes_{uuid.uuid4().hex[:8]}")
    changes.repartition(n_files, changes.columns[0]).write.mode("overwrite").parquet(out)
    return out


def streamed_upsert_snapshot(
    spark: SparkSession,
    base: DataFrame,
    changes_dir: str,
    keys: list[str] | str,
    workdir: str,
    tombstone_col: str | None = None,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Copy-on-write snapshot maintained by a foreachBatch upsert —
    the streaming twin of operators/maintenance.upsert_snapshot and
    the lakehouse `MERGE INTO`-from-a-stream shape.

    Version chain: ``v0`` = base; micro-batch ``b`` reads ``v{b}``,
    applies the batch's changes with the batch upsert operator, and
    writes ``v{b+1}`` with mode=overwrite. foreachBatch is
    at-least-once (a crash after the write but before the checkpoint
    commit replays the SAME batch_id with the SAME data), and the
    rewrite is a pure function of (v{b}, batch b), so a replay
    overwrites its own output — idempotent, hence end-to-end
    exactly-once (restart-tested in tests/test_streaming.py).

    At 100 TB the full-snapshot rewrite per batch becomes a
    partition-scoped one: the base lands partitioned/bucketed
    (sinks.write_parquet/write_bucketed_table), each micro-batch
    touches only the partitions its keys hash to (dynamic partition
    overwrite), and the upsert's anti-join keeps base payload columns
    out of every shuffle. The version pointer swap is the atomic
    commit — exactly how copy-on-write lakehouse tables execute
    streaming MERGE.

    Returns the FINAL snapshot as a batch DataFrame (the highest
    committed version).
    """
    from kaylee_spark.operators.maintenance import upsert_snapshot

    base.write.mode("overwrite").parquet(os.path.join(workdir, "v0"))
    schema = spark.read.parquet(changes_dir).schema

    def apply_batch(batch_df, batch_id: int):
        prev = spark.read.parquet(os.path.join(workdir, f"v{batch_id}"))
        nxt = upsert_snapshot(prev, batch_df, keys=keys, tombstone_col=tombstone_col)
        nxt.write.mode("overwrite").parquet(os.path.join(workdir, f"v{batch_id + 1}"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(changes_dir)
    )
    q = stream_foreach_batch(
        stream, apply_batch, checkpoint=os.path.join(workdir, "ckpt")
    )
    q.awaitTermination()
    versions = [
        int(d[1:])
        for d in os.listdir(workdir)
        if d.startswith("v") and d[1:].isdigit()
    ]
    return spark.read.parquet(os.path.join(workdir, f"v{max(versions)}"))


def quantile_day_buckets(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streamed ingestion leg of the fixed-fencepost quantile store:
    per (event_type, day, bucket) COUNT over daily tumbling event-time
    windows — the mergeable count shards quantile_store_close
    consumes. The bucket coordinate is the row-local integer pipeline
    shared with the batch operator (operators/analytics.py
    quantile_buckets: cents div width), so streamed shards are
    bit-identical to batch-built ones. State key cardinality =
    |types| × |days in watermark horizon| × |buckets| — bounded on an
    infinite stream; COUNT shards merge by addition downstream, and
    within the store a (day, bucket) cell is owned by exactly one
    window, so complete-mode emission replays exact counts.
    """
    from kaylee_spark.operators.analytics import QSTORE_WIDTH_CENTS

    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.select(F.col("event_type").alias("grp"), F.col("ts"), cents.alias("c"))
        .withColumn("b", F.expr(f"c div {QSTORE_WIDTH_CENTS}"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "grp", "b")
        .agg(F.count(F.lit(1)).alias("n_day"))
        .select(F.col("w.start").alias("window_start"), "grp", "b", "n_day")
    )


def moment_day_shards(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streamed ingestion leg of the moment store (a39): per
    (event_type, day) exact integer power sums (n, S1 = Σc, S2 = Σc²,
    c = value in cents) over daily tumbling event-time windows — the
    mergeable register shards the batch operator
    (operators/analytics.py moment_registers) builds. The cents
    quantization is the shared row-local pipeline, so streamed shards
    are bit-identical to batch-built ones. State key cardinality =
    |types| × |days in watermark horizon|; sums merge by addition
    downstream, and a (type, day) cell is owned by exactly one window,
    so complete-mode emission replays exact registers. Same int64
    envelope precondition as the batch operator (S2 < 2^63 per shard).
    """
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.select(F.col("event_type").alias("grp"), F.col("ts"), cents.alias("c"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "grp")
        .agg(
            F.count(F.lit(1)).alias("n_day"),
            F.sum("c").alias("s1_day"),
            F.sum(F.col("c") * F.col("c")).alias("s2_day"),
        )
        .select(
            F.col("w.start").alias("window_start"), "grp", "n_day", "s1_day", "s2_day"
        )
    )


def comoment_day_shards(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streamed ingestion leg of the co-moment store (a41's mechanics
    on the events stream): per (event_type, day) exact integer sums
    (n, Sx, Sy, Sxy, Sxx, Syy) over x = value-in-cents and
    y = minute-of-day — the diurnal-correlation drift readout — over
    daily tumbling event-time windows. Both coordinates are row-local
    integer projections, so streamed shards are bit-identical to
    batch-built ones; sums merge by addition downstream and a
    (type, day) cell is owned by one window, so complete-mode
    emission replays exact registers. Int64 envelope: x² ≤ 2.4e9 per
    row at the fixture's value domain — ~3.8e9 rows per (type, day)
    shard before 2^63.
    """
    x = F.round(F.col("value") * 100).cast("bigint")
    y = (F.hour("ts") * 60 + F.minute("ts")).cast("bigint")
    return (
        events.select(
            F.col("event_type").alias("grp"), F.col("ts"), x.alias("x"), y.alias("y")
        )
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "grp")
        .agg(
            F.count(F.lit(1)).alias("n_day"),
            F.sum("x").alias("sx_day"),
            F.sum("y").alias("sy_day"),
            F.sum(F.col("x") * F.col("y")).alias("sxy_day"),
            F.sum(F.col("x") * F.col("x")).alias("sxx_day"),
            F.sum(F.col("y") * F.col("y")).alias("syy_day"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "grp",
            "n_day",
            "sx_day",
            "sy_day",
            "sxy_day",
            "sxx_day",
            "syy_day",
        )
    )
