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

Scale notes (100 TB design point):

- ``reducefn`` in the reference receives the FULL value iterator for a
  key (`client.py:204-208`) — a holistic reducer. Blindly using
  ``groupByKey`` materializes every value for a key on one executor;
  fine for holistic reducers (median), catastrophic for associative
  ones (sum) at scale. So the user declares associativity: with
  ``combiner=`` (an associative binary op) we run ``reduceByKey``
  (map-side partial aggregation, no value lists ever built); without
  it we fall back to ``groupByKey().mapValues`` preserving exact
  reference semantics. This is the README's own correctness condition
  ("reduce fn ... commutative and associative", README.md:20-24) made
  explicit instead of implicit.
- ``partition_fn``/``num_partitions`` expose the PARTITION stage the
  reference delegates to ZMQ round-robin (`server.py:243-247`).
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

from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.rdd import RDD, portable_hash
from pyspark.sql import DataFrame, SparkSession


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
        self._source_rdd = df.select(key_col, value_col).rdd.map(tuple)
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

    def run(self) -> RDD:
        """Build the lineage (lazy; mirrors the reference's 6-state
        machine START->MAP->SHUFFLE->PARTITION->REDUCE->COLLECT,
        `server.py:23-30`, as RDD stages split at the shuffle)."""
        mapfn, reducefn, combiner = self.mapfn, self.reducefn, self.combiner
        if mapfn is None or reducefn is None:
            raise ValueError("MapReduceJob needs mapfn and reducefn")

        rdd = self._source()
        # MAP: kaylee's mapfn is 1->N (a generator), so flatMap not map.
        mapped = rdd.flatMap(lambda kv: mapfn(kv[0], kv[1]))

        n = self.num_partitions or self.spark.sparkContext.defaultParallelism
        # portable_hash is PySpark's own default partitioner
        part = self.partition_fn or portable_hash
        if combiner is not None:
            # SHUFFLE+REDUCE with map-side partial aggregation: the
            # distributed fix for the reference's central-dict shuffle.
            reduced = mapped.reduceByKey(combiner, numPartitions=n, partitionFunc=part)
            # reducefn still gets (k, iter-of-partials) so holistic
            # post-processing (e.g. final normalize) keeps working.
            return reduced.map(lambda kv: (kv[0], reducefn(kv[0], iter([kv[1]]))))
        # Holistic reducer: exact reference semantics — full lazy value
        # iterator per key (`client.py:204-208`), distributed + spillable.
        grouped = mapped.groupByKey(numPartitions=n, partitionFunc=part)
        return grouped.map(lambda kv: (kv[0], reducefn(kv[0], iter(kv[1]))))

    def results(self) -> dict:
        """COLLECT: one result per reduce key, as the reference's
        ``Server.results()`` dict (`server.py:174-178`)."""
        return dict(self.run().collect())

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
