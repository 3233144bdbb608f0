"""The benchmark's workloads: which operations run, at which scale, and
how each operation's output is checked.

Each workload is built so that one side of the engine does most of its
work (see ``layers.json`` for the layer each metric belongs to):

- ``driver_bound``: k-core peeling, a fixed-point loop that runs many
  small jobs (the ``queries`` layer's eager per-round actions), and a
  structured-streaming upsert drain that writes checkpoint, WAL and sink
  files per micro-batch (the ``streaming`` layer's commit phases). Both
  leave the executors mostly idle.
- ``executor_x10``: a scan-aggregate query over a x10 fact fixture (the
  final action, i.e. the ``spark`` executors and the ``sources`` scans),
  and the paper's ``datafn``/``mapfn``/``reducefn`` ->
  results-dict contract on the x10 documents (the ``core`` layer, its
  Python workers, the shuffle and the collect into the driver dict).

Every benchmark run starts its own JVM and makes a warm pass, so a run
costs about half a minute before it measures anything; two workloads
keep the full set of runs within the time the benchmark is given. Each
keeps one or two operations of each kind; the list is in ``WORKLOADS``.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq


#: scale of one fixture copy (sf0.1 has 600k lineitems)
SCALE = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    copies: int  # fact-table copies with unique key offsets
    registry_ops: tuple[str, ...] = ()
    mapreduce_ops: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "driver_bound",
            "k-core peeling loop of many small jobs plus a streaming upsert drain that commits files per "
            "micro-batch: driver-side rounds and commit phases dominate",
            copies=1,
            registry_ops=("g06_kcore_peel", "e38_streamed_upsert_snapshot"),
        ),
        Workload(
            "executor_x10",
            "scan-aggregate query plus MapReduce word count and term frequency on a x10 fixture: "
            "executor tasks, Python workers and shuffle dominate",
            copies=10,
            registry_ops=("q01_pricing_summary",),
            mapreduce_ops=("wc_frame_holistic", "tf_datafn"),
        ),
    )
}


# -- MapReduce shapes -----------------------------------------------------
# Module-level functions so that Spark ships them to Python workers by
# reference instead of pickling closures.


def words(doc_id, text):
    for tok in text.split(" "):
        if tok:
            yield tok, 1


def doc_terms(doc_id, text):
    for tok in text.split(" "):
        if tok:
            yield (doc_id, tok), 1


def total(key, values):
    return sum(values)


def add(a, b):
    return a + b


@dataclass
class Corpus:
    """The documents table held on the driver, for ``datafn`` sources
    and for the plain-Python reference counts."""

    pairs: list[tuple[int, str]]
    _expected: dict = field(default_factory=dict)

    @classmethod
    def read(cls, fixture_dir: str) -> "Corpus":
        t = pq.read_table(f"{fixture_dir}/documents.parquet", columns=["doc_id", "text"])
        return cls(list(zip(t["doc_id"].to_pylist(), t["text"].to_pylist())))

    def expected(self, shape: str) -> dict:
        """Reference result of a MapReduce shape: a ``Counter`` over the corpus."""
        kind = shape.split("_", 1)[0]
        if kind not in self._expected:
            mapfn = words if kind == "wc" else doc_terms
            self._expected[kind] = Counter(k for d, t in self.pairs for k, _ in mapfn(d, t))
        return self._expected[kind]


def mapreduce_job(shape: str, spark, fixture_dir: str, corpus: Corpus):
    """Build the ``MapReduceJob`` for one named shape.

    ``<wc|tf>_<datafn|frame>[_<combiner|holistic>]``: word count or
    per-document term frequency, fed from a driver-side ``datafn`` or
    from the distributed documents scan, reduced with a map-side
    combiner or by the holistic ``reducefn`` alone.
    """
    from kaylee_spark.core.mapreduce import MapReduceJob
    from kaylee_spark.sources import load_table

    parts = shape.split("_")
    kind, source = parts[0], parts[1]
    holistic = parts[-1] == "holistic"
    job = MapReduceJob(
        spark,
        datafn=(lambda: iter(corpus.pairs)) if source == "datafn" else None,
        mapfn=words if kind == "wc" else doc_terms,
        reducefn=total,
        combiner=None if holistic else add,
    )
    if source == "frame":
        job.from_dataframe(load_table(spark, fixture_dir, "documents"), "doc_id", "text")
    return job


def check_results(got: dict, want: dict) -> list[str]:
    """Problems with a MapReduce results dict, empty when it matches."""
    if got == want:
        return []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    wrong = [k for k in want.keys() & got.keys() if got[k] != want[k]]
    problems = []
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {next(iter(missing))!r}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {next(iter(extra))!r}")
    if wrong:
        k = wrong[0]
        problems.append(f"{len(wrong)} wrong counts, e.g. {k!r}: {got[k]} != {want[k]}")
    return problems

