"""Reference-contract tests for the MapReduce core: the
datafn/mapfn/reducefn surface of `/root/reference/example.py:15-45`
plus the associativity laws its README asserts (README.md:20-24)."""

from __future__ import annotations

import pickle
from collections import Counter

import pytest

from kaylee_spark.core import mapreduce as MR
from kaylee_spark.core.mapreduce import MapReduceJob, word_count

CORPUS = [
    "the quick brown fox",
    "the lazy dog",
    "the quick dog jumps",
    "fox and dog and fox",
]


def expected_counts() -> dict[str, int]:
    c: Counter = Counter()
    for line in CORPUS:
        c.update(w for w in line.split() if w)
    return dict(c)


def make_job(spark, **kw) -> MapReduceJob:
    def datafn():
        # the reference's datafn yields (line_number, line) lazily
        # (example.py:15-20)
        for i, line in enumerate(CORPUS):
            yield i, line

    def mapfn(k, v):
        # 1->N generator, as example.py:23-25
        for tok in v.split():
            yield tok, 1

    def reducefn(k, values):
        return sum(values)

    return MapReduceJob(spark, datafn=datafn, mapfn=mapfn, reducefn=reducefn, **kw)


def test_holistic_reducer_path(spark):
    # no combiner declared -> every value reaches reducefn, exact
    # reference semantics
    assert make_job(spark).results() == expected_counts()


def test_associative_combiner_path(spark):
    assert make_job(spark, combiner=lambda a, b: a + b).results() == expected_counts()


@pytest.mark.parametrize("n", [1, 2, 7])
def test_partition_count_invariance(spark, n):
    # README.md:20-24: associative+commutative reducers must be
    # partition-invariant
    assert make_job(spark, combiner=lambda a, b: a + b, num_partitions=n).results() == expected_counts()


def test_input_order_invariance(spark):
    def datafn():
        for i, line in enumerate(reversed(CORPUS)):
            yield i, line

    job = MapReduceJob(
        spark,
        datafn=datafn,
        mapfn=lambda k, v: ((t, 1) for t in v.split()),
        reducefn=lambda k, vs: sum(vs),
        combiner=lambda a, b: a + b,
    )
    assert job.results() == expected_counts()


def test_custom_partition_fn(spark):
    job = make_job(spark, combiner=lambda a, b: a + b, num_partitions=3, partition_fn=lambda k: len(k))
    assert job.results() == expected_counts()
    # each key sits in reduce partition partition_fn(k) % n
    parts = job.run().glom().collect()
    assert len(parts) == 3
    assert sorted(k for part in parts for k, _ in part) == sorted(expected_counts())
    for b, part in enumerate(parts):
        assert all(len(k) % 3 == b for k, _ in part)


# keys a dict merges (1 == True == 1.0) and keys whose builtin hash
# differs per process on CPython < 3.12 (None, tuples holding None)
MIXED_KEYS = [1, True, 1.0, None, (None, "a"), (None, 1), (None, True), (1, None), "x", 2, 2.0]


def mixed_records() -> list[tuple[int, object]]:
    return [(i, MIXED_KEYS[i % len(MIXED_KEYS)]) for i in range(5 * len(MIXED_KEYS))]


def fold(records, combiner) -> dict:
    """The plain-Python reference: one dict over every record."""
    groups: dict = {}
    for i, key in records:
        groups.setdefault(key, []).append(i)
    return {k: sum(vs) if combiner else sorted(vs) for k, vs in groups.items()}


def index_by_key():
    # nested, so cloudpickle ships it by value to the workers
    def mapfn(i, key):
        yield key, i

    return mapfn


@pytest.mark.parametrize("combiner", [lambda a, b: a + b, None], ids=["combiner", "holistic"])
def test_mixed_keys_merge_as_a_dict_does(spark, combiner):
    records = mixed_records()
    job = MapReduceJob(
        spark,
        datafn=lambda: iter(records),
        mapfn=index_by_key(),
        reducefn=(lambda k, vs: sum(vs)) if combiner else (lambda k, vs: sorted(vs)),
        combiner=combiner,
        num_partitions=3,
    )
    got = job.results()
    assert got == fold(records, combiner)
    # 1/True/1.0, 2/2.0 and (None, 1)/(None, True) each merge to one key
    assert len(got) == 7


@pytest.mark.parametrize("combiner", [lambda a, b: a + b, None], ids=["combiner", "holistic"])
def test_early_flush_keeps_the_result(spark, combiner):
    """A map task over its memory bound flushes partials early; the
    reducer merges them (and spills past the same bound) to the same
    dict, and a holistic reducefn still sees every value."""
    sc = spark.sparkContext
    records = [(i, i % 50) for i in range(6000)]
    source = sc.parallelize(records, 2)
    n = 3

    def chunks(limit_mb):
        return source.mapPartitions(MR._map_task(index_by_key(), combiner, MR._hash, n, limit_mb))

    unbounded = chunks(float("inf")).collect()
    flushed = chunks(0).collect()
    assert len(unbounded) == 2 * n  # one chunk per bucket and task
    assert len(flushed) > len(unbounded)  # the check at record 1000 flushed

    reducefn = (lambda k, vs: sum(vs)) if combiner else (lambda k, vs: sorted(vs))
    reduced = chunks(0).partitionBy(n, MR._bucket).mapPartitions(MR._reduce_task(reducefn, combiner, 1))
    got: dict = {}
    for chunk in reduced.collect():
        got.update(pickle.loads(chunk))
    assert got == fold(records, combiner)


def test_partition_hash_is_portable():
    """Equal keys get one hash in every process, though CPython < 3.12
    hashes None (and so a tuple holding None) by address."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json; from kaylee_spark.core.mapreduce import _hash; "
        "print(json.dumps([_hash(k) for k in "
        "[None, (None, 1), (None, True), ((None,), 'a'), (1, (2, None)), ('a', 1), 'a', 1, True, 1.0]]))"
    )
    env = {**os.environ, "PYTHONHASHSEED": "0", "PYTHONPATH": root}
    runs = [
        json.loads(subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True).stdout)
        for _ in range(2)
    ]
    assert runs[0] == runs[1]
    h = runs[0]
    assert h[1] == h[2] and h[7] == h[8] == h[9]  # (None, 1) == (None, True); 1 == True == 1.0


def test_hash_seed_checked_once_per_task(monkeypatch):
    from pyspark.errors import PySparkRuntimeError

    task = MR._map_task(index_by_key(), None, MR._hash, 2, float("inf"))
    records = [(i, i % 7) for i in range(100)]
    monkeypatch.delenv("PYTHONHASHSEED", raising=False)
    with pytest.raises(PySparkRuntimeError, match="PYTHON_HASH_SEED_NOT_SET"):
        list(task(iter(records)))

    monkeypatch.setenv("PYTHONHASHSEED", "0")
    calls = []
    monkeypatch.setattr(MR, "portable_hash", lambda x: calls.append(x) or 0)
    assert len(list(task(iter(records)))) == 2
    assert calls == [None]  # once for the task, not once per key


@pytest.mark.parametrize("combiner", [lambda a, b: a + b, None], ids=["combiner", "holistic"])
def test_empty_datafn_returns_empty_dict(spark, combiner):
    job = make_job(spark, combiner=combiner)
    job.datafn = lambda: iter(())
    assert job.results() == {}
    assert job.run().collect() == []


def test_holistic_reducer_gets_full_iterator(spark):
    # a genuinely non-associative reducer: median
    def mapfn(k, v):
        for tok in v.split():
            yield len(tok) % 2, len(tok)

    def median(k, values):
        vs = sorted(values)
        return vs[len(vs) // 2]

    job = MapReduceJob(spark, datafn=lambda: ((i, l) for i, l in enumerate(CORPUS)), mapfn=mapfn, reducefn=median)
    res = job.results()
    lens = [len(t) for line in CORPUS for t in line.split()]
    for parity in (0, 1):
        vs = sorted(v for v in lens if v % 2 == parity)
        assert res[parity] == vs[len(vs) // 2]


def test_from_dataframe_source(spark):
    df = spark.createDataFrame([(i, line) for i, line in enumerate(CORPUS)], ["id", "line"])
    job = MapReduceJob(
        spark,
        mapfn=lambda k, v: ((t, 1) for t in v.split()),
        reducefn=lambda k, vs: sum(vs),
        combiner=lambda a, b: a + b,
    ).from_dataframe(df, "id", "line")
    assert job.results() == expected_counts()


def test_word_count_dataframe_golden(spark):
    df = spark.createDataFrame([(line,) for line in CORPUS], ["value"])
    rows = word_count(spark, df, "value").collect()
    assert {r["word"]: r["count"] for r in rows} == expected_counts()
    top2 = word_count(spark, df, "value", top_k=2).collect()
    # dog/fox/the all count 3 -> alphabetical tie-break picks dog, fox
    assert [(r["word"], r["count"]) for r in top2] == [("dog", 3), ("fox", 3)]


def test_to_dataframe(spark):
    df = make_job(spark, combiner=lambda a, b: a + b).to_dataframe("word", "n")
    assert {r["word"]: r["n"] for r in df.collect()} == expected_counts()


def test_pydatasource_partitions_and_determinism(spark):
    from kaylee_spark.sources.pydatasource import line_for, register

    register(spark)
    df = (
        spark.read.format("kaylee_datafn")
        .option("splits", 4)
        .option("rows_per_split", 25)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4          # real input splits
    rows = {r["key"]: (r["split"], r["line"]) for r in df.collect()}
    assert len(rows) == 100
    # executor records match the driver-side generator definition
    for key in (0, 26, 99):
        s = key // 25
        want_key, want_line = line_for(s, key % 25, 25)
        assert want_key == key and rows[key] == (s, want_line)


def test_pydatasource_filter_prunes_partitions(spark):
    from kaylee_spark.sources.pydatasource import register

    register(spark)
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        df = (
            spark.read.format("kaylee_datafn")
            .option("splits", 8)
            .option("rows_per_split", 10)
            .option("pushdown", "true")
            .load()
        )
        pruned = df.filter("split = 3")
        rows = pruned.collect()
        assert len(rows) == 10 and all(r["split"] == 3 for r in rows)
        # the pushed equality prunes the scan to ONE input partition
        assert pruned.rdd.getNumPartitions() == 1
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


def test_m06_pushdown_query_leaves_conf_restored(spark):
    """m06 plans the pushdown read inside a set/restore conf bracket:
    after the query function returns, the session conf must be back to
    its prior value AND the returned frame must still execute (the
    filterPushdown conf is consumed at plan time, not execution time —
    this is exactly the driver's collect-after-return flow)."""
    from kaylee_spark.queries.mapreduce import m06_pushdown_datafn_wordcount
    from kaylee_spark.sources.pydatasource import words_for

    key = "spark.sql.python.filterPushdown.enabled"
    before = spark.conf.get(key)
    out = m06_pushdown_datafn_wordcount(spark, "unused")
    assert spark.conf.get(key) == before  # bracket restored it
    counts = {r["word"]: r["n"] for r in out.collect()}  # executes post-restore
    # exactly split 3's slice: 1000 lines x 6 words
    assert sum(counts.values()) == 6000
    expect = {}
    for k in range(3000, 4000):
        for w in words_for(k).split(" "):
            expect[w] = expect.get(w, 0) + 1
    assert counts == expect


def test_pydatasource_stream_equals_batch(spark):
    """The streaming datafn source must emit bit-identical records to
    the batch scan of the same domain (kaylee's one-record-per-tick
    pull, server.py:209, re-expressed as micro-batch offsets)."""
    from kaylee_spark import streaming as ST
    from kaylee_spark.sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("kaylee_datafn")
        .option("rows_per_batch", 40)
        .option("max_rows", 100)
        .option("rows_per_split", 25)
        .load()
    )
    streamed = {
        (r["split"], r["key"], r["line"]) for r in ST.run_all_to_memory(stream).collect()
    }
    batch = (
        spark.read.format("kaylee_datafn")
        .option("splits", 4)
        .option("rows_per_split", 25)
        .load()
    )
    want = {(r["split"], r["key"], r["line"]) for r in batch.collect()}
    assert streamed == want
    assert len(streamed) == 100  # exactly once, no batch-boundary dupes


def test_pydatasource_stream_restart_exactly_once(spark, tmp_path):
    """Kill the datafn stream mid-domain and resume from the
    checkpoint: the landed parquet must hold every key EXACTLY once —
    readBetweenOffsets replays a partially-committed batch
    identically, and the offset log prevents double-commits. This is
    the honest Spark translation of kaylee's duplicate-map-ack guard
    (server.py:238-247)."""
    import time

    from kaylee_spark.sources.pydatasource import register

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.format("kaylee_datafn")
            .option("rows_per_batch", 200)
            .option("max_rows", 2000)
            .load()
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # first run: stop as soon as at least one batch has committed
    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["sink"].get("numOutputRows", 0) not in (0, -1):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    landed_mid = spark.read.parquet(out).count()
    assert 0 < landed_mid  # genuinely mid-stream (not a full drain)

    # resume: same (source, checkpoint, sink) triple, drain to the end
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    q2.awaitTermination()
    keys = [r["key"] for r in spark.read.parquet(out).collect()]
    assert sorted(keys) == list(range(2000))  # every key exactly once

    # third start with nothing left: commits nothing new
    q3 = start()
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    q3.awaitTermination()
    assert spark.read.parquet(out).count() == 2000


def test_results_sink_writes_commits_and_reads_back(spark, tmp_path):
    """The kaylee_results Python DataSource writer: JSONL parts + a
    driver-written manifest naming exactly the committed parts; the
    roundtrip must equal the source rows."""
    from kaylee_spark.sources.pydatasource import read_results, register

    register(spark)
    out = str(tmp_path / "wc_out")
    counts = (
        spark.read.format("kaylee_datafn")
        .option("rows", 200)
        .option("splits", 4)
        .load()
        .selectExpr("explode(split(line, ' ')) AS word")
        .groupBy("word")
        .count()
    )
    expected = sorted(map(tuple, counts.collect()))
    counts.write.format("kaylee_results").option("path", out).mode("append").save()
    back = read_results(spark, out, "word string, count bigint")
    assert sorted(map(tuple, back.collect())) == expected
    # manifest totals agree with what the tasks committed
    import json
    import os

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["total_rows"] == len(expected)
    assert all(name.endswith(".jsonl") for name in manifest["parts"])


def test_results_sink_manifest_ignores_orphan_parts(spark, tmp_path):
    """The straggler/duplicate guard (SURVEY §2.1 #8): a part file NOT
    named in the manifest — a speculative twin's output, or an aborted
    attempt — must be invisible to read_results."""
    from kaylee_spark.sources.pydatasource import read_results, register

    register(spark)
    out = str(tmp_path / "guarded")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v bigint")
    df.write.format("kaylee_results").option("path", out).mode("append").save()
    # plant an orphan: a duplicate task's output that never committed
    with open(f"{out}/part-orphan-duplicate.jsonl", "w") as f:
        f.write('{"k": "a", "v": 1}\n')  # would DOUBLE-COUNT row a
    back = read_results(spark, out, "k string, v bigint")
    assert sorted(map(tuple, back.collect())) == [("a", 1), ("b", 2)]


def test_results_sink_overwrite_replaces_generation(spark, tmp_path):
    """mode('overwrite') drops the previous committed generation before
    any task writes; a missing manifest (write never ran) raises."""
    import pytest

    from kaylee_spark.sources.pydatasource import read_results, register

    register(spark)
    out = str(tmp_path / "gen")
    one = spark.createDataFrame([("x", 1)], "k string, v bigint")
    two = spark.createDataFrame([("y", 2), ("z", 3)], "k string, v bigint")
    one.write.format("kaylee_results").option("path", out).mode("append").save()
    two.write.format("kaylee_results").option("path", out).mode("overwrite").save()
    back = read_results(spark, out, "k string, v bigint")
    assert sorted(map(tuple, back.collect())) == [("y", 2), ("z", 3)]
    with pytest.raises(FileNotFoundError, match="never committed"):
        read_results(spark, str(tmp_path / "nowhere"), "k string, v bigint")


def test_stream_results_sink_manifest_replacement_exactly_once(spark, tmp_path):
    """The STREAMING writer's exactly-once mechanism is manifest
    REPLACEMENT: a replayed micro-batch writes fresh uniquely-named
    parts and rewrites its own _MANIFEST-{batchId}.json to name only
    them, so the first attempt's files become invisible orphans.
    Exercised at the protocol level: two write attempts for the same
    batch, commit names only the second — the reader must see exactly
    the second attempt's rows, once."""
    from pyspark.sql import Row

    from kaylee_spark.sources.pydatasource import (
        JsonlResultsStreamWriter,
        read_stream_results,
    )

    out = str(tmp_path / "out")
    w = JsonlResultsStreamWriter({"path": out})
    first = w.write(iter([Row(word="stale"), Row(word="stale")]))
    replay = w.write(iter([Row(word="alpha"), Row(word="bravo")]))
    assert first.name != replay.name  # fresh parts per attempt
    w.commit([replay], batchId=0)  # the replay is what commits
    w.commit([w.write(iter([Row(word="charlie")]))], batchId=1)

    back = read_stream_results(spark, out, "word string")
    got = sorted(r["word"] for r in back.collect())
    assert got == ["alpha", "bravo", "charlie"]  # no 'stale' anywhere
    # the orphan file exists on disk but no manifest points to it
    import os

    assert os.path.exists(os.path.join(out, first.name))


def test_stream_results_sink_restart_commits_nothing_new(spark, tmp_path):
    """End-to-end restart leg: drain the bounded datafn stream into the
    streaming results sink, restart the same (source, checkpoint, sink)
    triple — the second run must add no manifests and no rows."""
    import glob
    import os

    from pyspark.sql import functions as F

    from kaylee_spark.sources.pydatasource import read_stream_results, register

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.format("kaylee_datafn")
            .option("rows_per_batch", 500)
            .option("max_rows", 2000)
            .load()
        )
        words = stream.select(F.explode(F.split("line", " ")).alias("word"))
        q = (
            words.writeStream.format("kaylee_results")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination()

    drain()
    n_manifests = len(glob.glob(os.path.join(out, "_MANIFEST-*.json")))
    n_rows = read_stream_results(spark, out, "word string").count()
    assert n_rows > 0 and n_manifests > 1  # real multi-batch run
    drain()  # restart: offsets exhausted, nothing recommits
    assert len(glob.glob(os.path.join(out, "_MANIFEST-*.json"))) == n_manifests
    assert read_stream_results(spark, out, "word string").count() == n_rows
