"""Structured Streaming tests: the streamed result of each windowed
aggregation must equal the batch result of the same function — Spark's
unified semantics make this the correctness statement; plus watermark
late-data behavior."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from kaylee_spark import streaming as ST
from kaylee_spark.sources import load_table


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    d = ST.stage_events_dir(spark, sf_dir, n_files=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _batch_events(spark, events_dir):
    return spark.read.schema(ST.EVENTS_SCHEMA).parquet(events_dir)


def canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events_dir):
    streamed = ST.run_to_memory(ST.tumbling_counts(ST.events_stream(spark, events_dir)), output_mode="complete")
    batch = ST.tumbling_counts(_batch_events(spark, events_dir), watermark="0 seconds")
    assert canon(streamed) == canon(batch)


def test_session_stream_equals_batch(spark, events_dir):
    streamed = ST.run_to_memory(ST.session_counts(ST.events_stream(spark, events_dir)), output_mode="complete")
    batch = ST.session_counts(_batch_events(spark, events_dir), watermark="0 seconds")
    assert canon(streamed) == canon(batch)


def test_late_data_dropped_past_watermark(spark, tmp_path):
    # file 1: events at 10:00-10:30; file 2: a very late event at 09:00
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 10:30:00", 1, "click", 1.0, "{}"),
         (3, "2024-01-01 12:00:00", 2, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    late = spark.createDataFrame(
        [(9, "2024-01-01 09:00:00", 3, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d = str(tmp_path / "stream_in")
    on_time.coalesce(1).write.mode("overwrite").parquet(d)
    late.coalesce(1).write.mode("append").parquet(d)

    out = ST.run_to_memory(
        ST.tumbling_counts(ST.events_stream(spark, d, files_per_trigger=1), window="1 hour", watermark="1 hour"),
        output_mode="complete",
    )
    rows = {(str(r["window_start"]), r["event_type"]): r["n_events"] for r in out.collect()}
    # the 09:00 event may be dropped (if its file lands after the
    # watermark advanced past 10:00) or kept (single-batch ingest) —
    # but the on-time windows must always be complete and correct
    assert rows[("2024-01-01 10:00:00", "click")] == 2
    assert rows[("2024-01-01 12:00:00", "view")] == 1


def test_stateful_running_totals_equals_batch(spark, events_dir):
    """applyInPandasWithState fold: the final per-user emission must
    equal the batch groupBy aggregate (unified-semantics check for the
    custom stateful path)."""
    from pyspark.sql import Window

    from kaylee_spark.streaming.stateful import user_running_totals

    streamed = ST.run_to_memory(
        user_running_totals(ST.events_stream(spark, events_dir, files_per_trigger=2)),
        output_mode="update",
    )
    # update mode appends one emission per (user, batch); keep the last
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        streamed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )
    batch = (
        _batch_events(spark, events_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert set(got) == set(want)
    for uid, (n, total) in want.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(total, rel=1e-9)


def test_file_sink_exactly_once_on_restart(spark, events_dir, tmp_path):
    """The checkpointed parquet sink must be exactly-once across
    restarts: drain, restart the same (source, checkpoint, sink)
    triple, and the restarted query must commit NOTHING new — then
    appending one late file and restarting again must emit exactly
    that file's rows. This is the recovery contract a 100 TB
    incremental ingest depends on."""
    src = str(tmp_path / "src")  # private copy: the late-file append
    shutil.copytree(events_dir, src)  # must not mutate the shared fixture
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = ST.stream_to_parquet(
            ST.events_stream(spark, src, files_per_trigger=2), out, ckpt
        )
        q.awaitTermination()

    n_src = _batch_events(spark, src).count()
    drain()
    first = spark.read.parquet(out).count()
    assert first == n_src
    drain()  # restart with nothing new: no duplicates
    assert spark.read.parquet(out).count() == n_src
    # late-arriving file: restart picks up exactly its rows
    late = spark.createDataFrame(
        [(10**9, "2030-01-01 00:00:00", 1, "late", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    late.coalesce(1).write.mode("append").parquet(src)
    drain()
    assert spark.read.parquet(out).count() == n_src + 1


def test_foreach_batch_idempotent_restart(spark, events_dir, tmp_path):
    """foreachBatch with a batch_id-keyed overwrite is exactly-once
    across restarts: re-running the drained triple writes nothing new,
    and a replayed batch_id would overwrite its own partition rather
    than duplicate it."""
    src = str(tmp_path / "src")
    shutil.copytree(events_dir, src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def write_batch(batch_df, batch_id):
        # idempotence pattern: each batch owns its partition; a replay
        # of the same batch_id overwrites, never appends
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(out))

    def drain():
        q = ST.stream_foreach_batch(
            ST.events_stream(spark, src, files_per_trigger=2), write_batch, ckpt
        )
        q.awaitTermination()

    n_src = _batch_events(spark, src).count()
    drain()
    result = spark.read.parquet(out)
    assert result.count() == n_src
    assert result.select("batch_id").distinct().count() == 2  # 4 files / 2 per trigger
    drain()  # restart: no new batches, no duplicates
    assert spark.read.parquet(out).count() == n_src


def test_stream_stream_join_equals_batch(spark, events_dir):
    """Watermarked stream-stream interval join drained with availableNow
    equals the same join expressed over the batch data — Spark's
    unified semantics, and the proof the time-bound keeps results
    complete (nothing dropped by state eviction at these watermarks)."""
    from pyspark.sql import functions as F

    def split(df):
        clicks = df.filter(F.col("event_type") == "click")
        views = df.filter(F.col("event_type") == "view")
        return clicks, views

    s_clicks, s_views = split(ST.events_stream(spark, events_dir))
    streamed = ST.run_to_memory(ST.stream_stream_join(s_clicks, s_views))
    b_clicks, b_views = split(_batch_events(spark, events_dir))
    batch = ST.stream_stream_join(b_clicks, b_views)
    assert len(canon(streamed)) > 0
    assert canon(streamed) == canon(batch)


def test_ingest_dedup_stream_matches_batch_and_restarts_exactly_once(spark, sf_dir, tmp_path):
    """The streaming near-dup ingest pipeline (hash -> stream-static
    anti vs corpus -> stateful dedup -> checkpointed parquet) must
    (a) land exactly the batch DISTINCT-minus-corpus hash set,
    (b) commit NOTHING new on a restart with no new files, and
    (c) admit a late delivery's genuinely-new content exactly once —
    re-delivered duplicates and corpus-known content both drop."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    increment = docs.filter(F.col("doc_id") % 10 == 0)
    from kaylee_spark.operators.dedup import content_hash

    corpus_hashes = corpus.select(content_hash("text").alias("content_sha"))

    src = str(tmp_path / "src")
    # two deliveries, the second re-delivers half of the first
    increment.filter(F.col("doc_id") % 20 == 0).coalesce(1).write.mode("append").parquet(src)
    increment.coalesce(1).write.mode("append").parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = ST.stream_to_parquet(
            ST.ingest_dedup(ST.documents_stream(spark, src), corpus_hashes), out, ckpt
        )
        q.awaitTermination()

    drain()
    want = {
        r["content_sha"]
        for r in increment.select(content_hash("text").alias("content_sha"))
        .join(corpus_hashes, "content_sha", "left_anti")
        .distinct()
        .collect()
    }
    landed = [r["content_sha"] for r in spark.read.parquet(out).collect()]
    assert set(landed) == want
    assert len(landed) == len(want)  # each new content item exactly once
    drain()  # restart with nothing new: no duplicates
    assert spark.read.parquet(out).count() == len(want)
    # late delivery: one corpus-known doc (drops) + one genuinely new doc
    known_text = corpus.select("text").first()["text"]
    late = spark.createDataFrame(
        [(10**9, known_text, "en", "late", len(known_text)),
         (10**9 + 1, "entirely novel late content", "en", "late", 27)],
        ST.DOCUMENTS_SCHEMA,
    )
    late.coalesce(1).write.mode("append").parquet(src)
    drain()
    assert spark.read.parquet(out).count() == len(want) + 1


def test_drift_store_restart_no_double_count(spark, events_dir, tmp_path):
    """The e32 drift store (streamed day x (type, bin) counts) must
    survive a mid-stream kill-and-resume without double-counting: the
    windowed-count state recovers from the checkpoint, the offset log
    prevents re-reading committed files, and the batch_id-keyed
    complete-mode overwrite makes the landing idempotent — so the
    final store equals the batch-computed counts exactly."""
    import time

    from kaylee_spark.operators.analytics import PSI_BIN_EDGES

    out, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    def start():
        counts = ST.drift_bin_counts(
            ST.events_stream(spark, events_dir, files_per_trigger=1), PSI_BIN_EDGES
        )

        def land(batch_df, batch_id):
            # complete mode: each commit carries the FULL corrected
            # store, so overwrite is idempotent across replays
            batch_df.write.mode("overwrite").parquet(out)

        return (
            counts.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(land)
            .start()
        )

    # first run: kill after at least one batch committed, before all 4
    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["batchId"] >= 1:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    # resume from the checkpoint and drain the remaining files
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    q2.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    got = {
        (str(r["window_start"]), r["grp"], r["bin"]): r["cnt"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (str(r["window_start"]), r["grp"], r["bin"]): r["cnt"]
        for r in ST.drift_bin_counts(
            _batch_events(spark, events_dir), PSI_BIN_EDGES, watermark="0 seconds"
        ).collect()
    }
    assert got == want  # no missing windows, no double-counted bins


def test_streamed_attribution_state_survives_restart(spark, tmp_path):
    """e36's order-sensitive state must survive a checkpoint restart:
    a touch ingested before the shutdown must attribute a purchase
    that only arrives after the restart — and the union of emissions
    across both runs must equal the brute-force attribution of the
    full stream, exactly once."""
    import os
    import time as _t

    from datetime import datetime, timedelta

    from kaylee_spark.streaming import events_stream, stream_to_parquet
    from kaylee_spark.streaming.stateful import last_touch_state

    base = datetime(2024, 1, 1)
    types = ["click", "view", "purchase", "signup"]
    rows, x = [], 9
    for i in range(160):
        x = (x * 48271) % 2147483647
        rows.append((i, base + timedelta(minutes=(x // 5) % 5000), x % 4,
                     types[(x // 7) % 4], float(x % 89)))
    rows.sort(key=lambda r: (r[1], r[0]))
    half = len(rows) // 2
    # planted cross-restart pair: user 99 clicks at the very end of
    # phase 1, purchases at the very start of phase 2
    t_cut = rows[half - 1][1]
    rows.insert(half, (900, t_cut + timedelta(seconds=1), 99, "click", 0.0))
    rows.insert(half + 1, (901, t_cut + timedelta(seconds=2), 99, "purchase", 50.0))
    half += 1  # click stays in phase 1, purchase opens phase 2

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    schema = "event_id long, user_id long, event_type string, value double"

    def write_phase(phase_rows, mtime):
        df = spark.createDataFrame(
            [(i, ts.strftime("%Y-%m-%d %H:%M:%S"), u, ty, v)
             for (i, ts, u, ty, v) in phase_rows],
            "event_id long, ts string, user_id long, event_type string, value double",
        ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
                     "event_type", "value")
        df.coalesce(1).write.mode("append").parquet(src)
        for name in os.listdir(src):
            p = os.path.join(src, name)
            if name.startswith("part-"):
                cur = os.path.getmtime(p)
                if cur > mtime - 0.5:  # only stamp the new file once
                    os.utime(p, (mtime, mtime))

    def drain():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        q = stream_to_parquet(last_touch_state(stream), out, ckpt)
        q.awaitTermination()

    t0 = _t.time() - 3600
    write_phase(rows[:half], t0)
    drain()
    write_phase(rows[half:], t0 + 10)
    drain()

    got = {
        (r["user_id"], r["channel"], round(r["value"], 2))
        for r in spark.read.parquet(out).collect()
    }
    # brute force over the full ordered stream
    expected, last = set(), {}
    for i, ts, u, ty, v in rows:
        if ty == "purchase":
            t = last.get(u)
            ch = t[1] if t and (ts - t[0]).total_seconds() <= 7 * 86400 else "direct"
            expected.add((u, ch, round(v, 2)))
        if ty in ("click", "view"):
            last[u] = (ts, ty)
    assert got == expected
    # the planted purchase attributed to the PRE-RESTART click
    assert (99, "click", 50.0) in got
    assert spark.read.parquet(out).count() == sum(1 for r in rows if r[3] == "purchase")


def test_streamed_attribution_preserves_null_values(spark, tmp_path):
    """A NULL conversion value must stream through as NULL, matching
    the batch twin's semantics (dec_sum skips NULLs) — pandas would
    otherwise coerce it to NaN (ADVICE r11)."""
    import math
    import os

    from kaylee_spark.streaming import stream_to_parquet
    from kaylee_spark.streaming.stateful import last_touch_state

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0),
            (2, "2024-01-01 10:05:00", 7, "purchase", None),
            (3, "2024-01-01 10:10:00", 7, "purchase", 5.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type", "value"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).parquet(src)
    q = stream_to_parquet(last_touch_state(stream), out, ckpt)
    q.awaitTermination()

    got = sorted(
        ((r["channel"], r["value"]) for r in spark.read.parquet(out).collect()),
        key=lambda t: (t[0], t[1] is not None, t[1] or 0.0),
    )
    assert got == [("click", None), ("click", 5.0)], f"NULL must stay NULL, got {got}"
    assert not any(v is not None and math.isnan(v) for _, v in got)


def test_hamming_guard_degenerate_bits(spark):
    """bits < max_hamming + 1 must fail loudly, not silently run a
    full cross product with zero-width chunk keys (ADVICE r11)."""
    import pytest

    from kaylee_spark.operators import dedup as D
    from kaylee_spark.operators.dedup import hamming_probe

    df = spark.createDataFrame([(1, 3), (2, 5)], ["vid", "sig"])
    with pytest.raises(ValueError, match="bits >= max_hamming"):
        hamming_probe(df, df, max_hamming=24, bits=24)
    with pytest.raises(ValueError, match="bits >= max_hamming"):
        D.hamming_pairs(df, 24, 24, blocks=25, id_col="vid", sig_col="sig")


def test_rate_source_drain_survives_checkpoint_restart(spark, tmp_path):
    """e37's source decoupling, restart leg: a rate-micro-batch drain
    stopped mid-domain and resumed from its checkpoint must deliver
    the whole filtered domain EXACTLY ONCE — replayable integer
    offsets + file-sink commit log, no staged files anywhere."""
    import time as _t

    import pyspark.sql.functions as F

    from kaylee_spark.streaming import rate_stream

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    R, N = 200, 2000

    def start():
        shaped = rate_stream(spark, R).filter(F.col("value") < N).select(
            "timestamp", "value"
        )
        return (
            shaped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    deadline = _t.time() + 90
    # stop mid-domain: some batches committed, not all
    while _t.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= N // 4:
                break
        except Exception:
            pass
        _t.sleep(0.2)
    q.stop()
    q.awaitTermination()
    n_before = spark.read.parquet(out).count()
    assert 0 < n_before < N, f"stop must land mid-domain, got {n_before}"

    q2 = start()
    deadline = _t.time() + 90
    while _t.time() < deadline and spark.read.parquet(out).count() < N:
        _t.sleep(0.2)
    q2.stop()
    q2.awaitTermination()

    rows = spark.read.parquet(out).collect()
    values = sorted(r["value"] for r in rows)
    assert values == list(range(N)), "exactly-once: every value once"
    # the batch->timestamp law holds across the restart boundary
    assert all(
        int(r["timestamp"].timestamp()) == (r["value"] // R) * 3600 for r in rows
    )


def test_streamed_upsert_snapshot_restart_exactly_once(spark, tmp_path):
    """e38's copy-on-write chain must survive a checkpoint restart:
    change deliveries applied before the shutdown stay applied, ones
    delivered after land on top, and a drain with nothing new changes
    nothing — the final snapshot equals the ONE-SHOT batch upsert of
    all changes (incremental ≡ batch), exactly once."""
    import os

    from kaylee_spark import streaming as ST
    from kaylee_spark.operators.maintenance import cdc_change_batch, upsert_snapshot

    base = spark.createDataFrame(
        [(k, "O", float(k) + 0.25) for k in range(200)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    changes = cdc_change_batch(base)
    changes_dir = str(tmp_path / "changes")
    workdir = str(tmp_path / "cow")
    os.makedirs(changes_dir, exist_ok=True)

    def deliver(pred):
        changes.filter(pred).coalesce(1).write.mode("append").parquet(changes_dir)

    def drain():
        return ST.streamed_upsert_snapshot(
            spark, base, changes_dir, keys="o_orderkey",
            workdir=workdir, tombstone_col="deleted",
        )

    def snap_set(df):
        return {(r["o_orderkey"], r["o_orderstatus"], r["o_totalprice"])
                for r in df.collect()}

    from pyspark.sql import functions as F

    deliver(F.col("o_orderkey") < 100)
    mid = drain()
    want_mid = upsert_snapshot(
        base, changes.filter(F.col("o_orderkey") < 100),
        keys="o_orderkey", tombstone_col="deleted",
    )
    assert snap_set(mid) == snap_set(want_mid)

    deliver(F.col("o_orderkey") >= 100)  # post-restart deliveries
    final = drain()
    want_final = upsert_snapshot(
        base, changes, keys="o_orderkey", tombstone_col="deleted"
    )
    assert snap_set(final) == snap_set(want_final)
    # deleted keys are gone entirely; surviving updated keys carry the
    # new payload (not a duplicate of the base row)
    final_keys = {k for (k, _, _) in snap_set(final)}
    assert not any(k % 21 == 0 for k in final_keys if k % 7 == 0)
    assert (7, "X", 8.25) in snap_set(final)
    assert (7, "O", 7.25) not in snap_set(final)

    again = drain()  # restart with nothing new: a pure no-op
    assert snap_set(again) == snap_set(want_final)


def test_flush_staging_contract(spark):
    """stage_events_with_flush must deliver: the real slices first (in
    time order), then two sentinel files in separate mtime positions,
    each carrying one row per consumer-side type — the preconditions
    e39's tail flush is built on."""
    import os

    from kaylee_spark import streaming as ST

    staged = ST.stage_events_with_flush(spark, "/root/testdata/sf0.001")
    parts = sorted(
        (n for n in os.listdir(staged) if n.startswith("part-")),
        key=lambda n: os.path.getmtime(os.path.join(staged, n)),
    )
    assert len(parts) == 6  # 4 slices + 2 flush files
    mtimes = [os.path.getmtime(os.path.join(staged, n)) for n in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 6  # strict order
    import pyarrow.parquet as pq

    # the two newest files are the sentinels: one purchase + one click
    # row each, user_id -1, and the second strictly later in event time
    sent = [pq.read_table(os.path.join(staged, n)).to_pylist() for n in parts[-2:]]
    for rows in sent:
        assert sorted(r["event_type"] for r in rows) == ["click", "purchase"]
        assert all(r["user_id"] == -1 for r in rows)
    assert max(r["ts"] for r in sent[1]) > max(r["ts"] for r in sent[0])
    # and every real slice holds only non-negative user ids
    for n in parts[:4]:
        t = pq.read_table(os.path.join(staged, n), columns=["user_id"])
        assert min(t.column("user_id").to_pylist()) >= 0


@pytest.mark.parametrize(
    "builder,keycols",
    [
        ("quantile_day_buckets", ("window_start", "grp", "b")),
        ("moment_day_shards", ("window_start", "grp")),
        ("comoment_day_shards", ("window_start", "grp")),
    ],
)
def test_store_ingest_restart_no_double_count(
    spark, events_dir, tmp_path, builder, keycols
):
    """The round-13 store-ingest legs (e41 quantile buckets, e42
    moment sums, e43 co-moment sums) must survive a mid-stream
    kill-and-resume without double-counting: windowed COUNT/SUM state
    recovers from the checkpoint, the offset log prevents re-reading
    committed files, and the complete-mode overwrite landing is
    idempotent — the recovered store equals batch-built shards
    EXACTLY (integer registers, so equality is exact, not approx)."""
    import time

    fn = getattr(ST, builder)
    out = str(tmp_path / f"store_{builder}")
    ckpt = str(tmp_path / f"ckpt_{builder}")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    def start():
        shards = fn(ST.events_stream(spark, events_dir, files_per_trigger=1))

        def land(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(out)

        return (
            shards.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(land)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["batchId"] >= 1:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    q2.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    def keyed(df):
        rows = df.collect()
        return {
            tuple(str(r[c]) for c in keycols): tuple(
                r[c] for c in df.columns if c not in keycols
            )
            for r in rows
        }

    got = keyed(spark.read.parquet(out))
    want = keyed(fn(_batch_events(spark, events_dir), watermark="0 seconds"))
    assert got == want


def test_view_maintenance_fold_restarts_exactly_once(spark, sf_dir, tmp_path):
    """e45's checkpointed form: the complete-mode register fold must
    (a) after the first delivery equal the inserts-only registers,
    (b) after a RETRACTION delivery resume from the checkpoint and
    equal the direct aggregate over the survivors (deletes retract
    in recovered state — no reprocessing of delivery 1), and
    (c) commit nothing new on a restart with no new files."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents.alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    inserts = base.withColumn("mult", F.lit(1)).select("grp", "cents", "mult")
    retr = (
        base.filter(F.col("k") % 10 == 3)
        .withColumn("mult", F.lit(-1))
        .select("grp", "cents", "mult")
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    inserts.coalesce(2).write.mode("append").parquet(src)

    def drain(name):
        stream = (
            spark.readStream.schema(inserts.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        regs = stream.groupBy("grp").agg(
            F.sum("mult").cast("bigint").alias("n"),
            F.sum(F.col("mult") * F.col("cents")).cast("bigint").alias("rc"),
        )
        q = (
            regs.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["grp"]: (r["n"], r["rc"]) for r in spark.table(name).collect()}

    def direct(df):
        return {
            r["grp"]: (r["n"], r["rc"])
            for r in df.groupBy("grp")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("rc"),
            )
            .collect()
        }

    assert drain("vm1") == direct(base)
    retr.coalesce(1).write.mode("append").parquet(src)
    survivors = direct(base.filter(F.col("k") % 10 != 3))
    assert drain("vm2") == survivors
    # restart with nothing new: availableNow fires no batch, so the
    # fresh memory table stays empty — and the checkpoint must NOT
    # have advanced past truth. Prove state recovery (not reset) by
    # delivering a NET-ZERO delta (+1/-1 of the same row): the fold
    # re-emits, and the totals must still equal the survivors.
    assert drain("vm3") == {}
    one = base.orderBy("k").limit(1).select("grp", "cents")
    noop = one.withColumn("mult", F.lit(1)).unionByName(
        one.withColumn("mult", F.lit(-1))
    )
    noop.coalesce(1).write.mode("append").parquet(src)
    assert drain("vm4") == survivors
