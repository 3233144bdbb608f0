"""Sink tests: partitioned/bucketed/compacted parquet writes.

The bucketed-join test is the scale proof: a join between two tables
bucketed on the join key must plan with NO Exchange (shuffle) — the
write-once-shuffle contract that matters at 100 TB."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from kaylee_spark.sources import load_table, sinks


def test_partitioned_parquet_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "li_part")
    li = load_table(spark, sf_dir, "lineitem")
    sinks.write_parquet(li, out, partition_by=["l_returnflag"])
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    # partition pruning: the flag predicate must dissolve into the
    # directory listing, not a post-scan filter
    plan = back.filter(F.col("l_returnflag") == "R")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan or "l_returnflag#" in plan.split("PartitionFilters")[1][:200]


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    try:
        sinks.write_bucketed_table(li, "li_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"], path=str(tmp_path / "li_b"))
        sinks.write_bucketed_table(orders, "ord_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"], path=str(tmp_path / "ord_b"))
        # disable broadcast so the join would otherwise shuffle both sides
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("li_b").join(
                spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey")
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() > 0
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    """A many-small-files directory (streaming-sink shape) compacts to
    the computed file count with byte-identical content."""
    import os

    from kaylee_spark.sources import load_table
    from kaylee_spark.sources.sinks import compact_parquet

    out = str(tmp_path / "landing")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(16).write.mode("overwrite").parquet(out)
    n_before = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert n_before == 16
    before = sorted(map(tuple, spark.read.parquet(out).collect()))

    n_target = compact_parquet(spark, out, target_file_bytes=1 << 30)
    n_after = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert n_target == n_after == 1
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_write_sorted_parquet_enables_data_skipping(spark, sf_dir, tmp_path):
    """Range-clustered layout: file-level min/max stats must slice the
    key domain into near-disjoint ranges so a selective predicate can
    skip almost every file, and Spark must push the predicate down to
    the parquet reader that consumes those stats."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "orders_sorted")
    orders = load_table(spark, sf_dir, "orders")
    sinks.write_sorted_parquet(orders, out, "o_orderkey", n_files=8)

    back = spark.read.parquet(out)
    assert back.count() == orders.count()

    import os

    ranges = []
    for name in os.listdir(out):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, name)).metadata
        idx = md.schema.to_arrow_schema().get_field_index("o_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 8
    # files are range-disjoint: sorted by min, each file starts after
    # the previous one ends
    ranges.sort()
    for (_, prev_max), (cur_min, _) in zip(ranges, ranges[1:]):
        assert cur_min > prev_max

    # a narrow range predicate intersects exactly one file's range
    lo, hi = ranges[3][0], min(ranges[3][0] + 5, ranges[3][1])
    touched = sum(1 for mn, mx in ranges if not (hi < mn or lo > mx))
    assert touched == 1

    # and Spark pushes that predicate into the scan (PushedFilters),
    # so the reader actually consults the stats that make skipping real
    plan = (
        back.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters:" in plan and "GreaterThanOrEqual(o_orderkey" in plan


def test_zorder_key_is_morton_interleave(spark):
    """zorder_key must equal the reference Morton interleave."""
    def morton(a, b, bits=16):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(0, 0), (1, 0), (0, 1), (5, 9), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select("a", "b", sinks.zorder_key("a", "b").alias("z")).collect()
    for r in got:
        assert r["z"] == morton(r["a"], r["b"]), (r["a"], r["b"])


def test_write_zorder_parquet_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    """The 2-D layout must give file-level min/max skipping on EACH of
    the two clustering columns, where the 1-D range layout helps only
    its own sort key."""
    import os

    import pyarrow.parquet as pq

    ev = load_table(spark, sf_dir, "events")
    n_files = 8

    def file_ranges(path, col):
        ranges = []
        for name in os.listdir(path):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, name)).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            ranges.append((min(mins), max(maxs)))
        return ranges

    def touched(ranges, lo, hi):
        return sum(1 for mn, mx in ranges if not (hi < mn or lo > mx))

    zdir = str(tmp_path / "ev_z")
    sinks.write_zorder_parquet(ev, zdir, "user_id", "value", n_files=n_files)
    back = spark.read.parquet(zdir)
    assert back.count() == ev.count()

    u_lo, u_hi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    # equal-MASS slices, not equal-range: value is exponentially
    # distributed, so the low 1/8 of its range holds most rows and no
    # layout could skip it — a narrow quantile band is the honest probe
    v_band_lo, v_band_hi = ev.approxQuantile("value", [0.45, 0.55], 0.001)
    u_span = (u_hi - u_lo) / 8
    u_ranges = file_ranges(zdir, "user_id")
    v_ranges = file_ranges(zdir, "value")
    assert len(u_ranges) == n_files
    # each dim's selective predicate must skip at least a third of the
    # files (1-D layouts give NO skipping on their non-sort dimension)
    assert touched(u_ranges, u_lo, u_lo + u_span) <= 2 * n_files // 3
    assert touched(v_ranges, v_band_lo, v_band_hi) <= 2 * n_files // 3

    # contrast: the 1-D layout on user_id leaves value unskippable
    sdir = str(tmp_path / "ev_s")
    sinks.write_sorted_parquet(ev, sdir, "user_id", n_files=n_files)
    v_ranges_1d = file_ranges(sdir, "value")
    assert touched(v_ranges_1d, v_band_lo, v_band_hi) == n_files
