"""File and table sinks.

The reference's only sink is the coordinator-side results dict exposed
by ``Server.results()`` (`/root/reference/kaylee/server.py:174-178`,
`300`) — a driver-memory collect. These sinks are its distributed
replacement: executors write partitioned columnar files directly, so
results never funnel through one process.

Scale guidance encoded here:
- parquet + partitionBy(low-cardinality cols) -> partition pruning on
  read; never partition by a high-cardinality key (file explosion).
- bucketBy(key) pre-shuffles ONCE at write; later joins/aggs on that
  key skip their Exchange entirely (asserted in tests/test_sinks.py).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Columnar sink; optional hive-style partition layout.

    ``max_records_per_file`` caps file size at scale (with AQE-coalesced
    writes a single task can otherwise emit a multi-GB file).
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~target-size files; returns the
    new file count.

    The operational complement of a streaming sink: every micro-batch
    commit leaves one file per (batch, partition), and at 100 TB a
    landing zone degrades into millions of KB-sized files whose
    open/footer overhead dominates scan time. Compaction reads the
    directory once, repartitions to ceil(bytes / target), and swaps
    directories.

    The swap here (write temp dir -> remove old -> rename) is the
    LOCAL-FILESYSTEM shape and is not atomic for concurrent readers;
    on object storage at scale, write to a NEW location and flip the
    catalog/manifest pointer instead — same dataflow, different commit.
    Readers mid-swap are the reason real deployments use table formats
    with snapshot isolation for this.
    """
    total_bytes = sum(
        e.stat().st_size for e in os.scandir(path) if e.name.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_files


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (pre-shuffled) managed table.

    Bucketing pays the shuffle once at write time: every later join or
    aggregation keyed on ``bucket_cols`` reads co-located buckets and
    plans WITHOUT an Exchange — at 100 TB this converts the nightly
    fact⋈fact join from a full-network shuffle into a local zip of
    bucket files. sortBy additionally enables merge-join without sort.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str] | str,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout for min/max data skipping.

    ``repartitionByRange(sort_cols)`` range-partitions the data (one
    sampled range boundary set, one shuffle), then
    ``sortWithinPartitions`` orders rows inside each file WITHOUT any
    global single-partition sort. The result: every file (and every
    row group inside it) covers a narrow, near-disjoint slice of the
    sort key's domain, so parquet footer min/max statistics let a
    point or range predicate skip whole row groups — at 100 TB a
    selective scan touches the few files whose range intersects the
    predicate instead of all of them. This is the single-column
    special case of Z-ordering; asserted real (disjoint file ranges +
    fewer row groups scanned) in tests/test_sinks.py.

    Cluster by what you FILTER by (event date, language, source
    domain), partitionBy what you prune coarsely; the two compose.
    """
    cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_key(col_a, col_b, bits: int = 16):
    """Z-order (Morton) key: bit-interleave two rank-normalized
    dimensions into one clustering key.

    Inputs must already be integers in [0, 2**bits); use
    ``_normalize_dim`` to map arbitrary numeric columns onto that
    range. The interleave is a single unrolled codegen expression
    (2*bits shifts + ORs) — pure JVM arithmetic, no UDF.
    """
    from pyspark.sql import functions as F

    a = col_a if not isinstance(col_a, str) else F.col(col_a)
    b = col_b if not isinstance(col_b, str) else F.col(col_b)
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        # .bitwiseOR, not `|`: the Python operator on Columns is
        # logical OR and fails analysis on integral types
        key = key.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(a.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(b.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def _equimass_bucket(col, boundaries: list[float]):
    """Map a numeric column onto dense equi-MASS bucket ids [0, 256).

    ``boundaries`` are the 255 inner quantile cut points of the
    dimension (driver-side approxQuantile — sample-sized, the same
    trick production OPTIMIZE ZORDER implementations use via range
    partition ids). Equi-mass matters: min/max scaling collapses a
    skewed dimension onto a few low bits and the interleave loses all
    resolution there (measured: an exponential value column left 7/8
    files overlapping any band).

    The id is "number of boundaries <= x": an 8-step binary search
    expressed as ONE aggregate() fold over the step array. The fold
    matters structurally, not just aesthetically — a Python-side
    unrolled loop embeds the previous accumulator tree twice per step
    (probe + add), i.e. 2^8 copies of the 255-literal boundary array,
    and analysis alone took minutes; the HOF keeps the tree O(255)
    and iterates at RUNTIME (8 comparisons per row, no UDF).
    """
    from pyspark.sql import functions as F

    assert len(boundaries) == 255
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    steps = F.array(*[F.lit(s) for s in (128, 64, 32, 16, 8, 4, 2, 1)])
    return F.aggregate(
        steps,
        F.lit(0),
        lambda acc, s: acc
        + F.when(
            ((acc + s) <= F.lit(255)) & (col >= F.element_at(arr, (acc + s).cast("int"))),
            s,
        ).otherwise(F.lit(0)),
    ).cast("bigint")


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    mode: str = "overwrite",
    relative_error: float = 0.001,
) -> None:
    """Two-dimensional Z-order clustered parquet layout.

    Range-clustering (write_sorted_parquet) gives perfect skipping on
    ONE column and none on a second independent one; interleaving the
    two dimensions' equi-mass bucket ids (8 bits each — 256 buckets,
    plenty for any realistic file count) makes file min/max ranges
    tight on BOTH — a selective predicate on either column skips most
    files (the Delta/Iceberg OPTIMIZE ZORDER layout, built from
    public Morton arithmetic).

    Cost: one approxQuantile pass per dimension (sample-sized driver
    result), then the same single range-shuffle + within-partition
    sort as the 1-D layout. The z key is dropped before write.
    """
    from pyspark.sql import functions as F

    qs = [i / 256 for i in range(1, 256)]
    bounds_a = df.approxQuantile(col_a, qs, relative_error)
    bounds_b = df.approxQuantile(col_b, qs, relative_error)
    keyed = df.withColumn(
        "__zkey",
        zorder_key(
            _equimass_bucket(F.col(col_a).cast("double"), bounds_a),
            _equimass_bucket(F.col(col_b).cast("double"), bounds_b),
            bits=8,
        ),
    )
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )
