"""Spark 4 Python DataSource implementing the reference's ``datafn``
contract natively.

sdiehl/kaylee's input side IS a Python generator: the user assigns
``s.datafn`` (example.py:15-20, a generator yielding (key, line)) and
the server pulls one record per scheduler tick on the DRIVER
(server.py:209, ``self.map_iter = self.datafn()``) — single-threaded,
single-split by construction. This module re-expresses that contract
as a registered Spark data source: the generator's domain is cut into
``splits`` real input partitions, each executor materializes only its
own slice, and everything downstream (wordcount, any relational op)
is ordinary DataFrame planning — filter pushdown, column pruning, and
parallel scan included.

The generated records are deterministic integer arithmetic (an LCG
over a fixed 8-word vocabulary), so an external SQL engine can replay
the ENTIRE source from `range()` — the source itself is
oracle-verifiable, not just the query over it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

#: LCG parameters (minstd) and the fixed vocabulary — shared verbatim
#: with the SQL oracle twin (queries/mapreduce.py m04).
LCG_MULT = 48271
LCG_MOD = 2147483647
VOCAB = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")
WORDS_PER_LINE = 6


def words_for(key: int) -> str:
    """The deterministic line for a global row id: WORDS_PER_LINE
    vocabulary words walked by the LCG seeded at key+1. Shared by the
    batch reader, the stream reader, and (as SQL) the DuckDB oracle —
    all three replay the identical record."""
    x = key + 1
    words = []
    for _ in range(WORDS_PER_LINE):
        x = (x * LCG_MULT) % LCG_MOD
        words.append(VOCAB[x % len(VOCAB)])
    return " ".join(words)


def line_for(split: int, pos: int, rows_per_split: int) -> tuple:
    """The deterministic record for (split, pos): key = global row id,
    line = WORDS_PER_LINE vocabulary words walked by the LCG."""
    key = split * rows_per_split + pos
    return key, words_for(key)


class _Split(InputPartition):
    def __init__(self, split: int, rows_per_split: int):
        self.split = split
        self.rows_per_split = rows_per_split


class DatafnReader(DataSourceReader):
    def __init__(self, options):
        self.splits = int(options.get("splits", 4))
        self.rows_per_split = int(options.get("rows_per_split", 1000))
        self.split_eq = None

    def partitions(self):
        ids = range(self.splits)
        if self.split_eq is not None:
            ids = [s for s in ids if s == self.split_eq]
        return [_Split(s, self.rows_per_split) for s in ids]

    def read(self, partition):
        s, n = partition.split, partition.rows_per_split
        for pos in range(n):
            key, line = line_for(s, pos, n)
            yield (s, key, line)


class PushdownDatafnReader(DatafnReader):
    """Opt-in pushdown variant (``.option("pushdown", "true")``): a
    ``split = k`` equality prunes the partition list at the source —
    the custom-source analogue of parquet partition pruning. Kept as a
    SEPARATE reader because Spark 4.1 REFUSES any reader that defines
    pushFilters while ``spark.sql.python.filterPushdown.enabled`` is
    false (the default) — the base reader must stay vanilla-session
    safe (the config-independence rule: session configs are never
    load-bearing for the driver-facing path)."""

    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("split",) and isinstance(f.value, int):
                self.split_eq = f.value
                # keep Spark evaluating it too (cheap, and the filter
                # remains correct if the pruning contract ever drifts)
                yield f
            else:
                yield f


class DatafnStreamReader(SimpleDataSourceStreamReader):
    """The STREAMING half of the datafn contract: sdiehl/kaylee's
    scheduler streams work units incrementally — ``server.py:209``
    pulls ONE record from the generator per scheduler tick, and the
    client consumes map atoms as a stream (``client.py:190-202``).
    This is that exact behavior as a Spark 4 structured-streaming
    source: each micro-batch advances a single integer offset
    ``pos`` through the same LCG record domain the batch reader
    scans, so stream and batch are replay-identical row for row.

    Offset law: records of micro-batch ``[start, end)`` are a pure
    function of the row id — so ``readBetweenOffsets`` (the restart /
    replay path Spark calls when recovering a partially-committed
    batch from the checkpoint's offset log) regenerates EXACTLY the
    rows of the original batch. Exactly-once lands for free from
    determinism + offset tracking, which is the honest Spark
    translation of kaylee's at-least-once dedup guard
    (``server.py:238-247`` drops duplicate map acks by key).

    Boundedness: ``max_rows`` caps the domain (the reference
    generator is finite too — StopIteration at ``server.py:216``
    flips the job to the reduce phase); once ``pos == max_rows``
    every further ``read`` returns an empty batch with an unchanged
    offset, so ``processAllAvailable``/availableNow drains terminate.
    At 100 TB the analogue is an unbounded offset with rows_per_batch
    sized to the cluster's per-batch ingest budget; state stays O(1)
    (one integer offset in the checkpoint, no source-side state).
    """

    def __init__(self, options):
        self.rows_per_batch = int(options.get("rows_per_batch", 1000))
        self.max_rows = int(options.get("max_rows", 8000))
        self.rows_per_split = int(options.get("rows_per_split", 1000))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _rows(self, start: int, end: int):
        # a list_iterator, not a generator: Spark's simple-reader
        # wrapper requires an iterator AND pickles the prefetched
        # batch to ship it executor-side (generators don't pickle)
        rps = self.rows_per_split
        return iter([(key // rps, key, words_for(key)) for key in range(start, end)])

    def read(self, start: dict):
        s = int(start["pos"])
        e = min(s + self.rows_per_batch, self.max_rows)
        return self._rows(s, e), {"pos": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(int(start["pos"]), int(end["pos"]))

    def commit(self, end: dict) -> None:
        pass


class DatafnSource(DataSource):
    """``spark.read.format("kaylee_datafn")`` — the datafn generator as
    a first-class partitioned source."""

    @classmethod
    def name(cls):
        return "kaylee_datafn"

    def schema(self):
        return "split int, key bigint, line string"

    def reader(self, schema):
        if str(self.options.get("pushdown", "")).lower() == "true":
            return PushdownDatafnReader(self.options)
        return DatafnReader(self.options)

    def simpleStreamReader(self, schema):
        return DatafnStreamReader(self.options)


@dataclass
class _PartCommit(WriterCommitMessage):
    """One task's committed output: the part file it wrote and the row
    count inside. Only parts named in a commit message reach the
    manifest — an aborted or speculative duplicate task's file exists
    on disk but is invisible to readers."""

    name: str
    count: int


class JsonlResultsWriter(DataSourceWriter):
    """Distributed JSONL sink with an explicit task-commit protocol —
    the reference's collect sink (``results() -> dict``,
    `/root/reference/kaylee/server.py:174-178,300`) re-expressed as
    durable, parallel output instead of a driver dict. Each task
    writes one uniquely-named part file and returns it in its commit
    message; the DRIVER's ``commit`` then writes ``_MANIFEST.json``
    naming exactly the committed parts. That manifest IS the
    straggler/duplicate guard (SURVEY §2.1 #8): a speculative twin of
    a task leaves an orphan part file that no manifest entry points
    to, so ``read_results`` never sees duplicated rows — the same
    task-commit idea Spark's own FileOutputCommitter implements,
    demonstrated here at the Python DataSource API level.
    """

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kaylee_results writer requires option 'path'")
        if overwrite and os.path.isdir(self.path):
            # driver-side, before any task runs: drop prior committed
            # state so a re-run can't mix generations
            for f in os.listdir(self.path):
                if f.endswith(".jsonl") or f == "_MANIFEST.json":
                    os.remove(os.path.join(self.path, f))
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator):
        import json
        import uuid

        name = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _PartCommit(name=name, count=n)

    def commit(self, messages):
        import json

        manifest = {
            "parts": sorted(m.name for m in messages),
            "total_rows": int(sum(m.count for m in messages)),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages):
        # leave orphan part files in place: the missing manifest (or a
        # manifest that doesn't name them) makes them unreadable, which
        # is the whole point of the protocol — cleanup is a janitor
        # concern, correctness is the manifest's
        pass


class JsonlResultsStreamWriter(DataSourceStreamWriter):
    """STREAMING leg of the results sink — the same task-commit
    manifest protocol per MICRO-BATCH: each task writes a
    uniquely-named part and returns it in its commit message; the
    driver's ``commit(messages, batchId)`` writes
    ``_MANIFEST-{batchId}.json`` naming exactly that batch's committed
    parts. Exactly-once under Spark's at-least-once replay falls out
    of manifest REPLACEMENT: a replayed batch writes fresh
    uniquely-named parts and rewrites its own manifest to name only
    them, so the earlier attempt's files become orphans no reader
    sees — idempotence by pointer swap, not by file overwrite, the
    same commit shape the batch writer and streaming file sinks use.
    ``read_stream_results`` reads the union of batch manifests.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kaylee_results stream writer requires option 'path'")
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator):
        import json
        import uuid

        name = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _PartCommit(name=name, count=n)

    def commit(self, messages, batchId: int) -> None:
        import json

        manifest = {
            "batch_id": int(batchId),
            "parts": sorted(m.name for m in messages if m is not None),
            "total_rows": int(sum(m.count for m in messages if m is not None)),
        }
        with open(os.path.join(self.path, f"_MANIFEST-{batchId}.json"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages, batchId: int) -> None:
        # same janitor-vs-correctness split as the batch writer: the
        # unwritten (or soon-replaced) batch manifest keeps every
        # aborted part invisible
        pass


class JsonlResultsSource(DataSource):
    """``df.write.format("kaylee_results").option("path", p).save()``
    (batch) and ``df.writeStream.format("kaylee_results")...`` (the
    per-micro-batch manifest twin)."""

    @classmethod
    def name(cls):
        return "kaylee_results"

    def writer(self, schema, overwrite: bool):
        return JsonlResultsWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return JsonlResultsStreamWriter(self.options)


def read_results(spark, path: str, schema: str):
    """Read back ONLY the committed parts of a kaylee_results sink —
    the manifest is the source of truth; orphan files from aborted or
    speculative tasks are ignored. An explicit schema keeps the read
    deterministic (no sampling-based inference)."""
    import json

    manifest_path = os.path.join(path, "_MANIFEST.json")
    if not os.path.exists(manifest_path):
        raise FileNotFoundError(
            f"no _MANIFEST.json under {path}: the write never committed"
        )
    with open(manifest_path) as f:
        manifest = json.load(f)
    parts = [os.path.join(path, name) for name in manifest["parts"]]
    if not parts:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(parts)


def read_stream_results(spark, path: str, schema: str):
    """Read back ONLY the committed parts of a STREAMED kaylee_results
    sink: the union of every ``_MANIFEST-{batchId}.json``'s parts.
    Each batch's manifest is the last write for that batchId, so a
    replayed batch's earlier attempt (orphan parts it no longer names)
    is invisible — the reader sees each input row exactly once."""
    import glob
    import json

    manifests = sorted(glob.glob(os.path.join(path, "_MANIFEST-*.json")))
    if not manifests:
        raise FileNotFoundError(
            f"no _MANIFEST-*.json under {path}: no stream batch ever committed"
        )
    parts: list[str] = []
    for mp in manifests:
        with open(mp) as f:
            parts.extend(os.path.join(path, name) for name in json.load(f)["parts"])
    if not parts:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(parts)


def register(spark) -> None:
    """Idempotently register the sources on a session, and make it the
    calling thread's ACTIVE JVM session.

    The sink lookup of a write or writeStream consults the thread's
    active session (a JVM ThreadLocal), not the frame's. Each streaming
    query runs on a session CLONE whose dataSourceManager was copied at
    clone time, and a long run can leave such a stale clone active on
    the py4j thread; the lookup then misses registrations made on the
    real session (reproduced at 150+ prior queries: DATA_SOURCE_NOT_FOUND
    for kaylee_results with register() one line above; re-registering
    alone did NOT help, which is what points at the thread-local).
    """
    spark.dataSource.register(DatafnSource)
    spark.dataSource.register(JsonlResultsSource)
    try:
        # Spark 4.x internal package path (absent under Spark Connect
        # or a future rename) — if the hook is gone, degrade to the
        # documented DATA_SOURCE_NOT_FOUND on stale clones instead of
        # an AttributeError here.
        spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            spark._jsparkSession
        )
    except Exception:
        pass
