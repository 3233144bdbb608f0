"""Reference-faithful MapReduce API, RDD-backed.

The reference's entire user contract is a ``(datafn, mapfn, reducefn)``
triple assigned to the server (`/root/reference/example.py:35-37`,
fields at `/root/reference/kaylee/server.py:64-66`) whose result is a
``dict`` of per-key reduced values (`server.py:174-178,300`):

- ``datafn :: () -> iter[(k1, v1)]``        (example.py:15-20)
- ``mapfn  :: (k1, v1) -> iter[(k2, v2)]``  (example.py:23-25; 1->N)
- ``reducefn :: (k2, iter[v2]) -> v3``      (example.py:28-29)

This class keeps that contract exactly but swaps the single-node
ZMQ shuffle (`server.py:212,287` — a driver-side defaultdict the
README itself calls "the main bottleneck", README.md:10-16) for
Spark's distributed shuffle.

Execution: one RDD path for every source (100 TB design point).

- MAP. One ``mapPartitions`` task runs ``mapfn`` over its records and
  folds the pairs into a plain dict. With ``combiner=`` (an
  associative binary op, the README's own correctness condition,
  README.md:20-24, made explicit) it combines per key; without one it
  keeps every value in a list per key, because ``reducefn`` in the
  reference receives the FULL value iterator (`client.py:204-208`) —
  a holistic reducer. Every ``_CHECK_EVERY`` input records the task
  reads the worker's memory and, once it is over
  ``spark.python.worker.memory`` (the bound PySpark's ExternalMerger
  spills at), flushes what it holds early. The reducer merges partials
  anyway, so a flush cannot change a result. A flush buckets the keys
  by partition hash and emits one pickled list of ``(key, partial)``
  per bucket.
- SHUFFLE. ``partitionBy`` on the bucket ids: PySpark hashes one int
  per chunk instead of every record's key.
- REDUCE. PySpark's ``ExternalMerger`` (combiner) or
  ``ExternalGroupBy`` (holistic) merges the chunks and spills to disk
  past the same bound. ``reducefn`` gets ``(k, iter([combined]))``
  with a combiner and ``(k, iter(every value))`` without one, so
  holistic post-processing (e.g. a final normalize) keeps working.
  The results leave as pickled chunks: ``results()`` builds the dict
  on the driver, ``run()`` and ``to_dataframe()`` unpack them into
  pairs.
- Keys stay Python objects and both sides group by dict equality, so
  ``1``, ``True`` and ``1.0`` merge as a dict merges them. The
  partition hash is PySpark's ``portable_hash`` (equal keys, ``None``
  and tuples holding ``None`` included, land in the same bucket on
  every worker) with its ``PYTHONHASHSEED`` check run once per task
  instead of once per key.
- ``partition_fn``/``num_partitions`` expose the PARTITION stage the
  reference delegates to ZMQ round-robin (`server.py:243-247`): a key
  goes to bucket ``partition_fn(k) % num_partitions``.
- Function shipping (``marshal`` bytecode, `server.py:306-310`) is
  replaced by PySpark's cloudpickle — no code required.
- The dedup guard for duplicate task results (`server.py:296-301`) is
  subsumed by Spark's task-commit protocol.

``datafn`` runs on the driver (it's a Python generator, inherently
single-node — same as the reference); for at-scale sources use
``from_dataframe``/``from_rdd`` instead, which keep the scan
distributed.
"""

from __future__ import annotations

import pickle
import sys
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.rdd import RDD, portable_hash
from pyspark.shuffle import ExternalGroupBy, ExternalMerger, SimpleAggregator, get_used_memory
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import _parse_memory

#: input records between two reads of the worker's memory, the
#: interval PySpark's own shuffle writer checks at
_CHECK_EVERY = 1000


def _hash(x: Any) -> int:
    """The partition hash: equal keys get equal values on every worker.

    The builtin hash, except where it is not portable: ``None`` hashes
    by address before CPython 3.12, so it hashes to 0, and a tuple
    holding ``None`` or a nested tuple folds its items' hashes the way
    ``portable_hash`` does. Unlike ``portable_hash`` it does not check
    ``PYTHONHASHSEED`` per call; the map task does that once.
    """
    if x is None:
        return 0
    if isinstance(x, tuple):
        if None not in x:
            for i in x:
                if isinstance(i, tuple):
                    break
            else:
                return hash(x)
        h = 0x345678
        for i in x:
            h ^= _hash(i)
            h *= 1000003
            h &= sys.maxsize
        return h ^ len(x)
    return hash(x)


def _bucket(b: int) -> int:
    """The shuffle's partition function: the map task already chose the bucket."""
    return b


def _next_limit(limit_mb: float) -> float:
    """ExternalMerger's rule after a spill: the bound rises to 5% over
    what the worker still holds, so memory the allocator keeps does
    not force a flush at every check."""
    return max(limit_mb, get_used_memory() * 1.05)


def _dumps(pairs: list) -> bytes:
    return pickle.dumps(pairs, pickle.HIGHEST_PROTOCOL)


def _map_task(mapfn: Callable, combiner: Callable | None, bucket_of: Callable, n: int, limit_mb: float):
    """The MAP side as a ``mapPartitions`` function: ``mapfn`` over the
    task's records, folded into one dict and flushed as
    ``(bucket, pickled [(key, partial), ...])`` chunks."""

    def flush(acc: dict):
        buckets = defaultdict(list)
        for kv in acc.items():
            buckets[bucket_of(kv[0]) % n].append(kv)
        acc.clear()
        for b, pairs in buckets.items():
            yield b, _dumps(pairs)

    def task(records: Iterable) -> Iterator[tuple[int, bytes]]:
        if bucket_of is _hash:
            portable_hash(None)  # raises as portable_hash does when PYTHONHASHSEED is unset
        acc: dict = {}
        limit = limit_mb
        for i, (k1, v1) in enumerate(records, 1):
            if combiner is None:
                for k, v in mapfn(k1, v1):
                    vs = acc.get(k)
                    if vs is None:
                        acc[k] = [v]
                    else:
                        vs.append(v)
            else:
                for k, v in mapfn(k1, v1):
                    acc[k] = combiner(acc[k], v) if k in acc else v
            if i % _CHECK_EVERY == 0 and get_used_memory() > limit:
                yield from flush(acc)
                limit = _next_limit(limit)
        yield from flush(acc)

    return task


def _extend(a: list, b: list) -> list:
    a.extend(b)
    return a


def _reduce_task(reducefn: Callable, combiner: Callable | None, limit_mb: float):
    """The REDUCE side as a ``mapPartitions`` function: merge the
    bucket's chunks, apply ``reducefn`` per key, emit pickled lists
    of ``(key, result)``."""

    def task(chunks: Iterable[tuple[int, bytes]]) -> Iterator[bytes]:
        if combiner is None:
            merger = ExternalGroupBy(SimpleAggregator(_extend), limit_mb)
        else:
            merger = ExternalMerger(SimpleAggregator(combiner), limit_mb)
        merger.mergeCombiners(kv for _b, chunk in chunks for kv in pickle.loads(chunk))
        out, limit = [], limit_mb
        for i, (k, v) in enumerate(merger.items(), 1):
            out.append((k, reducefn(k, iter(v if combiner is None else [v]))))
            if i % _CHECK_EVERY == 0 and get_used_memory() > limit:
                yield _dumps(out)
                out, limit = [], _next_limit(limit)
        if out:
            yield _dumps(out)

    return task


class MapReduceJob:
    """A kaylee-style MapReduce job on Spark.

    >>> job = MapReduceJob(spark, datafn=lines, mapfn=tokenize,
    ...                    reducefn=lambda k, vs: sum(vs),
    ...                    combiner=lambda a, b: a + b)
    >>> counts: dict = job.results()
    """

    def __init__(
        self,
        spark: SparkSession,
        datafn: Callable[[], Iterable[tuple[Any, Any]]] | None = None,
        mapfn: Callable[[Any, Any], Iterable[tuple[Any, Any]]] | None = None,
        reducefn: Callable[[Any, Iterator[Any]], Any] | None = None,
        combiner: Callable[[Any, Any], Any] | None = None,
        num_partitions: int | None = None,
        partition_fn: Callable[[Any], int] | None = None,
    ) -> None:
        self.spark = spark
        self.datafn = datafn
        self.mapfn = mapfn
        self.reducefn = reducefn
        self.combiner = combiner
        self.num_partitions = num_partitions
        self.partition_fn = partition_fn
        self._source_rdd: RDD | None = None

    # -- sources ---------------------------------------------------------

    def from_rdd(self, rdd: RDD) -> "MapReduceJob":
        """Use a distributed pair RDD as the source instead of datafn."""
        self._source_rdd = rdd
        return self

    def from_dataframe(self, df: DataFrame, key_col: str, value_col: str) -> "MapReduceJob":
        """Use a DataFrame's (key, value) columns as the source —
        the scale path: the scan stays partitioned and columnar."""
        self._source_rdd = df.select(key_col, value_col).rdd
        return self

    def _source(self) -> RDD:
        if self._source_rdd is not None:
            return self._source_rdd
        if self.datafn is None:
            raise ValueError("MapReduceJob needs datafn, from_rdd, or from_dataframe")
        sc = self.spark.sparkContext
        data = list(self.datafn())
        return sc.parallelize(data, self.num_partitions or sc.defaultParallelism)

    # -- execution -------------------------------------------------------

    def _chunks(self) -> RDD:
        """The lineage (lazy; mirrors the reference's 6-state machine
        START->MAP->SHUFFLE->PARTITION->REDUCE->COLLECT, `server.py:23-30`,
        as two RDD stages split at the shuffle): pickled lists of
        ``(key, result)``, reduce partition ``b`` holding bucket ``b``."""
        if self.mapfn is None or self.reducefn is None:
            raise ValueError("MapReduceJob needs mapfn and reducefn")
        sc = self.spark.sparkContext
        n = self.num_partitions or sc.defaultParallelism
        limit_mb = _parse_memory(sc.getConf().get("spark.python.worker.memory", "512m"))
        mapped = self._source().mapPartitions(
            _map_task(self.mapfn, self.combiner, self.partition_fn or _hash, n, limit_mb)
        )
        return mapped.partitionBy(n, _bucket).mapPartitions(_reduce_task(self.reducefn, self.combiner, limit_mb))

    def run(self) -> RDD:
        """The reduced ``(key, result)`` pairs as an RDD (lazy)."""
        return self._chunks().flatMap(pickle.loads)

    def results(self) -> dict:
        """COLLECT: one result per reduce key, as the reference's
        ``Server.results()`` dict (`server.py:174-178`)."""
        out: dict = {}
        for chunk in self._chunks().collect():
            out.update(pickle.loads(chunk))
        return out

    def to_dataframe(self, key_name: str = "key", value_name: str = "value") -> DataFrame:
        """Lift the reduced output into a DataFrame (engine-native path)."""
        return self.run().toDF([key_name, value_name])


def word_count(spark: SparkSession, df: DataFrame, text_col: str = "value", top_k: int | None = None):
    """The reference's one end-to-end workload (example.py:15-45):
    tokenize on whitespace, count per word, optionally top-k by count.

    DataFrame-native version — stays entirely JVM-side (no Python UDF):
    scan -> explode(split) -> partial+final hash agg -> TakeOrdered.
    """
    from pyspark.sql import functions as F

    words = df.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word")).filter(F.col("word") != "")
    counts = words.groupBy("word").agg(F.count("*").alias("count"))
    if top_k is not None:
        # deterministic tie-break on word so results are stable
        counts = counts.orderBy(F.desc("count"), F.asc("word")).limit(top_k)
    return counts
