"""Relational operator queries (SURVEY.md §2.2 derived surface + §2.3).

The reference expresses all of these only implicitly through its
MapReduce algebra (`/root/reference/README.md:27-45`): filter/project
as mapfn emission, grouped aggregation as the canonical map+reduce
(`example.py:23-29`), co-group joins as tag-by-source reduce, sort and
top-k driver-side (`example.py:45`). Here each is a first-class
DataFrame operator; Catalyst provides pushdown, pruning, join
selection, and AQE.

Scale notes per query are in docstrings: join strategy choices assume
lineitem/orders are the 100 TB fact tables and region/nation/supplier
(fixed-size) plus part/customer (much smaller) are broadcastable or
shuffle-join dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaylee_spark.functions import dec_avg, dec_sum, money_sum, oracle_dec_avg, oracle_dec_sum
from kaylee_spark.queries import query
from kaylee_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


#: staged-layout dirs (bucketed tables, partitioned facts, z-order)
#: already written by THIS process — layout writes are ingest-time
#: work, reused across reruns like any production table
_STAGED_ONCE: set[str] = set()


def _stage_tag(sf_dir: str, *tables: str) -> str:
    """Staging tag for layout dirs: fixture basename + pid (concurrent-
    process isolation, ADVICE r11) + the max mtime over every staged
    source table, so regenerating ANY input fixture mid-process
    restages instead of silently reusing a stale layout (ADVICE r12;
    widened from lineitem-only per ADVICE r13 — q34 also stages
    orders, and a lone orders regen must invalidate too)."""
    import os

    from kaylee_spark.sources import table_path

    mt = max(
        int(os.path.getmtime(table_path(sf_dir, t)))
        for t in (tables or ("lineitem",))
    )
    return (
        os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
        + f"_p{os.getpid()}_m{mt}"
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dec_sum('l_quantity')} AS sum_qty,
           {oracle_dec_sum('l_extendedprice')} AS sum_base_price,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {oracle_dec_avg('l_quantity')} AS avg_qty,
           {oracle_dec_avg('l_extendedprice')} AS avg_price,
           {oracle_dec_avg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan -> filter -> hash agg.

    Scale: partial aggregation is map-side (2x3 groups), so the shuffle
    carries only per-partition partials — bytes, not rows. The shipdate
    filter pushes into the parquet scan (below the fan_out, verified in
    plans/r15).

    fan_out on the narrow projection (r15): the fixture arrives as ONE
    parquet row group, so the eight decimal aggregates over ~590k rows
    all ran on one core; fan_out spreads that compute-dense partial agg
    across the cores for the cost of a narrow row shuffle (measured
    interleaved at sf0.1, median of 5: 1.68 -> 1.34 s). Identity at
    100 TB (scan already has >= defaultParallelism splits). The same
    probe REJECTED fan_out for q39's broadcast-probe+agg (median 1.11
    -> 1.81 s: its map-side agg already collapses to ~20k groups, so
    the added exchange outweighs the spread work) — join-bearing
    siblings keep their r14 shape.
    """
    from kaylee_spark.operators.skew import fan_out

    li = fan_out(
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate",
        )
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dec_sum("l_quantity").alias("sum_qty"),
        dec_sum("l_extendedprice").alias("sum_base_price"),
        dec_sum(disc_price).alias("sum_disc_price"),
        dec_sum(charge).alias("sum_charge"),
        dec_avg("l_quantity").alias("avg_qty"),
        dec_avg("l_extendedprice").alias("avg_price"),
        dec_avg("l_discount").alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q06_revenue_forecast",
    oracle=f"""
    SELECT {oracle_dec_sum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
    extra=True,
)
def q06_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style filter-heavy single aggregate.

    Scale: all four predicates push to the parquet scan (min/max row
    group skipping on shipdate); no shuffle at all beyond the final
    single-row partial merge.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q08_nation_having",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(24,6))), 2) AS DOUBLE) AS total_acctbal
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) >= 3
    """,
    extra=True,
)
def q08_nation_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING — post-aggregation predicate."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"), dec_sum("c_acctbal").alias("total_acctbal"))
        .filter(F.col("n_customers") >= 3)
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "q03_top_orders",
    oracle=f"""
    SELECT l_orderkey,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: filtered dim -> fact joins -> agg -> top-k.

    Scale: customer (filtered on segment) broadcasts into orders;
    orders⋈lineitem is the one big shuffle, on the join key both sides
    already share. Top-k plans as TakeOrderedAndProject (no global
    sort materialization). Unique tie-break on l_orderkey keeps the
    LIMIT deterministic.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q05_region_revenue",
    oracle=f"""
    SELECT n_name,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """, extra=True)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two snowflake dims, dims broadcast.

    Scale: region/nation/supplier are fixed-size — broadcasting them
    turns the whole star into a single pass over lineitem with zero
    shuffle before the tiny final agg.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    """, extra=True)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS subquery as a LEFT SEMI join (TPC-H Q4 shape).

    Scale: semi join short-circuits per key — no fact-side row
    multiplication, and only the orderkey column of lineitem is read.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate)
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q16_customers_no_orders",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers_without_orders
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    extra=True,
)
def q16_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a LEFT ANTI join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    extra=True,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: outer join preserving empty groups, then a
    second-level aggregation (distribution of counts)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q19_theta_join",
    oracle=f"""
    SELECT p_brand,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
                 AND l_quantity >= p_size / 10.0
                 AND l_quantity <= p_size / 10.0 + 20
    WHERE p_size BETWEEN 10 AND 40
    GROUP BY p_brand
    """,
    extra=True,
)
def q19_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi key + non-equi range residual (TPC-H Q19 shape).

    Scale: the equi component (partkey) drives the join strategy —
    Spark plans a broadcast/sort-merge join on it and applies the range
    residual as a post-join filter, so this stays a key join rather
    than a cross product.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size").between(10, 40))
    cond = (
        (li.l_partkey == part.p_partkey)
        & (li.l_quantity >= part.p_size / 10.0)
        & (li.l_quantity <= part.p_size / 10.0 + 20)
    )
    return (
        li.join(F.broadcast(part), cond)
        .groupBy("p_brand")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------


@query(
    "q17_above_avg_parts",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_expensive
    FROM part
    WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
    GROUP BY p_brand
    """,
    extra=True,
)
def q17_above_avg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery via cross-joined 1-row aggregate (broadcast).

    Note: AVG here is a plain double avg used only as a comparison
    threshold — both engines compute it over the same values; the
    comparison outcome is stable because no p_retailprice sits within
    float-noise of the mean (verified in tests).
    """
    part = _t(spark, sf_dir, "part")
    avg_price = part.agg(F.avg("p_retailprice").alias("threshold"))
    return (
        part.join(F.broadcast(avg_price))
        .filter(F.col("p_retailprice") > F.col("threshold"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_expensive"))
    )


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c_name, o_orderkey, o_totalprice,
           {oracle_dec_sum('l_quantity')} AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 100
    )
    GROUP BY c_name, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
    extra=True,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery on an aggregate (TPC-H Q18) as semi join.

    Scale: the HAVING subquery aggregates lineitem once (map-side
    partials), and its small result semi-joins back — Spark reuses the
    shuffle on l_orderkey for both the filter and the final agg.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")).filter(F.col("q") > 100).select("l_orderkey")
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(dec_sum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Set operations, distinct, union
# ---------------------------------------------------------------------------


@query(
    "q20_set_intersect",
    oracle="""
    SELECT 'retained' AS cohort, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    UNION ALL
    SELECT 'churned' AS cohort, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    """,
    extra=True,
)
def q20_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator surface in one driver-verified query: INTERSECT
    (retained customers), EXCEPT (churned customers), and the tagged
    unionByName of the two cohorts. The single-purpose variants live on
    as extra-registry queries q21_set_except and q22_union (the latter
    unions heterogeneous sources)."""
    orders = _t(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp_ntz"))
        ).select("o_custkey")

    retained = year(1996).intersect(year(1997)).select(F.lit("retained").alias("cohort"), "o_custkey")
    churned = year(1996).subtract(year(1997)).select(F.lit("churned").alias("cohort"), "o_custkey")
    return retained.unionByName(churned)


@query(
    "q21_set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
    extra=True,
)
def q21_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics) — churned customers."""
    orders = _t(spark, sf_dir, "orders")

    def year(y: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp_ntz"))
        ).select("o_custkey")

    return year(1996).subtract(year(1997))


@query(
    "q07_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    # demoted to extra in round 7 to free a driver slot for
    # t24_dsir_score: DISTINCT stays driver-covered through q20's set
    # ops and d01's dedup-by-key, and q07 remains locally oracle-gated
    extra=True,
)
def q07_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT as shuffle-free-ish hash agg (map-side partial dedup)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "q22_union",
    oracle="""
    SELECT party_key, party_name, kind FROM (
      SELECT c_custkey AS party_key, c_name AS party_name, 'customer' AS kind FROM customer
      UNION ALL
      SELECT s_suppkey AS party_key, s_name AS party_name, 'supplier' AS kind FROM supplier
    )
    """,
    extra=True,
)
def q22_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName of heterogeneous sources projected to one schema."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("party_key"), F.col("c_name").alias("party_name"), F.lit("customer").alias("kind")
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("party_key"), F.col("s_name").alias("party_name"), F.lit("supplier").alias("kind")
    )
    return cust.unionByName(sup)


# ---------------------------------------------------------------------------
# Grouping sets / cube / rollup
# ---------------------------------------------------------------------------


@query(
    "q11_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_dec_sum('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    extra=True,
)
def q11_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims (all 4 grouping sets in one shuffle)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dec_sum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
    )


@query(
    "q12_rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(24,6))), 2) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    extra=True,
)
def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP along the region -> nation hierarchy, dims broadcast."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), dec_sum("c_acctbal").alias("total_bal"))
    )


# ---------------------------------------------------------------------------
# Scalar function surface (string / date / conditional / math)
# ---------------------------------------------------------------------------


@query(
    "q14_conditional_agg",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           {oracle_dec_sum("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END")} AS urgent_revenue,
           {oracle_dec_sum('o_totalprice')} AS total_revenue,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished
    FROM orders
    GROUP BY year(o_orderdate)
    """,
    extra=True,
)
def q14_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN inside aggregates + date part extraction."""
    orders = _t(spark, sf_dir, "orders")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).otherwise(F.lit(0.0))
    return (
        orders.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            dec_sum(urgent).alias("urgent_revenue"),
            dec_sum("o_totalprice").alias("total_revenue"),
            F.count(F.when(F.col("o_orderstatus") == "F", F.lit(1))).alias("n_finished"),
        )
    )


@query(
    "q15_string_funcs",
    oracle="""
    SELECT UPPER(SUBSTRING(p_type, 1, 5)) AS type_prefix,
           COUNT(DISTINCT p_brand) AS n_brands,
           MIN(LENGTH(p_name)) AS min_name_len,
           MAX(CONCAT(p_brand, ':', CAST(p_size AS VARCHAR))) AS max_brand_size,
           CAST(SUM(CAST(ROUND(SQRT(p_retailprice), 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_sqrt_price,
           MAX(ABS(p_size - 25)) AS max_size_dev,
           CAST(FLOOR(AVG(CAST(p_size AS DOUBLE))) AS BIGINT) AS floor_avg_size,
           MAX(regexp_replace(p_name, '[aeiou]', '', 'g')) AS max_consonant_name,
           MAX(regexp_extract(p_type, '^([a-z]+)', 1)) AS max_type_head
    FROM part
    WHERE p_name LIKE '%a%'
    GROUP BY UPPER(SUBSTRING(p_type, 1, 5))
    """,
    extra=True,
)
def q15_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface in one driver-verified query:
    string (UPPER/SUBSTRING/LENGTH/CONCAT/LIKE), math
    (SQRT/ROUND/ABS/FLOOR — all codegen'd), and regexp
    (extract/replace, restricted to the RE2/Java common subset).
    The single-purpose variants live on as extra-registry queries
    q24_math_funcs and a11_regexp."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    prefix = F.upper(F.substring("p_type", 1, 5)).alias("type_prefix")
    sqrt_price = F.round(F.sqrt("p_retailprice"), 4).cast("decimal(18,4)")
    return part.groupBy(prefix).agg(
        F.count_distinct("p_brand").alias("n_brands"),
        F.min(F.length("p_name")).alias("min_name_len"),
        F.max(F.concat(F.col("p_brand"), F.lit(":"), F.col("p_size").cast("string"))).alias("max_brand_size"),
        F.sum(sqrt_price).cast("double").alias("sum_sqrt_price"),
        F.max(F.abs(F.col("p_size") - 25)).alias("max_size_dev"),
        F.floor(F.avg(F.col("p_size").cast("double"))).cast("bigint").alias("floor_avg_size"),
        F.max(F.regexp_replace("p_name", "[aeiou]", "")).alias("max_consonant_name"),
        F.max(F.regexp_extract("p_type", r"^([a-z]+)", 1)).alias("max_type_head"),
    )


@query(
    "q23_date_trunc",
    oracle=f"""
    SELECT date_trunc('month', o_orderdate) AS order_month,
           COUNT(*) AS n_orders,
           {oracle_dec_sum('o_totalprice')} AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY date_trunc('month', o_orderdate)
    """,
    extra=True,  # round 6: demoted (scalar surface overlaps q15) to free
    # the driver slot for g01_pagerank — the canonical iterative workload
)
def q23_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date truncation to month buckets (calendar-window aggregation).

    date_trunc coerces TIMESTAMP_NTZ to session-zone TIMESTAMP; the
    cast back to NTZ round-trips through the same session zone, so the
    month bucket is the wall-clock month start under ANY driver
    timezone (caught by the non-UTC probe in the verify recipe).
    """
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
    month = F.date_trunc("month", "o_orderdate").cast("timestamp_ntz")
    return orders.groupBy(month.alias("order_month")).agg(
        F.count("*").alias("n_orders"), dec_sum("o_totalprice").alias("revenue")
    )


@query(
    "q24_math_funcs",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(ROUND(SQRT(p_retailprice), 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_sqrt_price,
           MAX(ABS(p_size - 25)) AS max_size_dev,
           CAST(FLOOR(AVG(CAST(p_size AS DOUBLE))) AS BIGINT) AS floor_avg_size
    FROM part
    GROUP BY p_brand
    """,
    extra=True,
)
def q24_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function surface: SQRT/ROUND/ABS/FLOOR (all codegen'd)."""
    part = _t(spark, sf_dir, "part")
    sqrt_price = F.round(F.sqrt("p_retailprice"), 4).cast("decimal(18,4)")
    return part.groupBy("p_brand").agg(
        F.sum(sqrt_price).cast("double").alias("sum_sqrt_price"),
        F.max(F.abs(F.col("p_size") - 25)).alias("max_size_dev"),
        F.floor(F.avg(F.col("p_size").cast("double"))).cast("bigint").alias("floor_avg_size"),
    )


# ---------------------------------------------------------------------------
# Correlated-subquery / multi-join shapes (TPC-H Q2/Q9/Q10 adapted to the
# fixture star schema — it has no partsupp table, so supply cost is
# derived from lineitem)
# ---------------------------------------------------------------------------


@query(
    "q02_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               MIN(l_extendedprice) AS supply_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT partkey, MIN(supply_cost) AS supply_cost FROM cost GROUP BY partkey
    ),
    chosen AS (
        SELECT c.partkey, c.supply_cost, MIN(c.suppkey) AS suppkey
        FROM cost c JOIN best b ON c.partkey = b.partkey AND c.supply_cost = b.supply_cost
        GROUP BY c.partkey, c.supply_cost
    )
    SELECT p_partkey, p_name, supply_cost, s_suppkey, s_name, n_name
    FROM chosen JOIN part ON p_partkey = partkey
                JOIN supplier ON s_suppkey = suppkey
                JOIN nation ON s_nationkey = n_nationkey
    WHERE p_size <= 20
    """,
    extra=True,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier (correlated
    MIN subquery), suppkey tie-break for determinism.

    Scale: the correlated MIN is a window-min over the (part,supp)
    aggregate — ONE shuffle on partkey serves both the per-part
    aggregation and the min-filter (vs. the self-join the SQL spells);
    supply_cost is a MIN of stored doubles (no arithmetic), so the
    equality filter is float-exact on both engines. part/supplier/
    nation broadcast into the tiny chosen set.
    """
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    cost = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min("l_extendedprice").alias("supply_cost"))
    w = Window.partitionBy("partkey")
    chosen = (
        cost.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .groupBy("partkey", "supply_cost")
        .agg(F.min("suppkey").alias("suppkey"))
    )
    return (
        chosen.join(F.broadcast(part), part.p_partkey == F.col("partkey"))
        .join(F.broadcast(sup), sup.s_suppkey == F.col("suppkey"))
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("p_partkey", "p_name", "supply_cost", "s_suppkey", "s_name", "n_name")
    )


@query(
    "q09_nation_year_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS sum_profit
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%a%'
    GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT)
    """,
    extra=True,
)
def q09_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year.

    Scale: part (name-filtered), supplier, nation broadcast — the only
    shuffle is lineitem⋈orders on orderkey, then a tiny (nation, year)
    hash agg with map-side partials. The LIKE filter prunes part
    BEFORE the broadcast, shrinking the build side.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_profit"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """, extra=True)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost revenue from returned items, top 20
    customers.

    Scale: returnflag + orderdate predicates push to the scans;
    nation broadcasts; orders⋈lineitem is the one big shuffle. Top-20
    plans as TakeOrderedAndProject; decimal-accumulated revenue makes
    the sort key bit-identical across engines so the LIMIT cut is
    deterministic (custkey tie-break).
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q25_salted_join",
    oracle=f"""
    SELECT s_nationkey, {oracle_dec_sum('l_extendedprice')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
    extra=True,
)
def q25_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join (operators/skew.salted_join) — result must be
    identical to the plain equi-join, which is exactly what the oracle
    checks. The salt splits each hot probe key n_salts ways at the cost
    of replicating the small side; here it demonstrates the rewrite is
    semantics-preserving (fixtures aren't skewed — the skewed-input
    equivalence test lives in tests/test_operators.py). Uses the
    DETERMINISTIC salt (salt_on: pmod(xxhash64(row id cols), n)) so the
    driver row also covers the retry-stable assignment path.
    """
    from kaylee_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
    return (
        salted_join(li, sup, "l_suppkey", how="inner", n_salts=4, salt_on=["l_orderkey", "l_linenumber"])
        .groupBy("s_nationkey")
        .agg(dec_sum("l_extendedprice").alias("revenue"), F.count("*").alias("n_items"))
    )


@query(
    "q26_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(year FROM l_shipdate) AS INT)
    """,
    extra=True,
)
def q26_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border revenue by (supplier nation,
    customer nation, ship year) — the same dimension table joined twice
    under different roles.

    Scale: both nation copies and supplier broadcast; lineitem⋈orders
    and ⋈customer are the shuffles, each on a key the fact rows
    already carry. The inequality filter runs after the broadcasts —
    a residual predicate, never a join explosion.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q27_market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(
             CAST(ROUND(SUM(CASE WHEN r_name = 'ASIA'
                      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))
                      ELSE CAST(0 AS DECIMAL(24,6)) END), 2) AS DOUBLE)
             / CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))), 2) AS DOUBLE)
           AS DOUBLE) AS asia_share
    FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    GROUP BY CAST(EXTRACT(year FROM o_orderdate) AS INT)
    """,
    extra=True,
)
def q27_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one region's revenue share per order year —
    a ratio of two conditional aggregates in a single pass.

    Scale: the share is ONE hash agg (two exact money sums per year),
    not two scans; snowflake dims broadcast; the only shuffle is
    lineitem⋈orders. Numerator and denominator are both exact
    (``dec_sum``), so the final double division is bit-identical to
    the oracle's.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                dec_sum(F.when(F.col("r_name") == "ASIA", disc).otherwise(0.0))
                / dec_sum(disc)
            ).cast("double").alias("asia_share")
        )
    )


@query(
    "q28_multi_supplier_orders",
    oracle="""
    SELECT s_nationkey, COUNT(DISTINCT l1.l_orderkey) AS n_shared_orders
    FROM lineitem l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s_nationkey
    """,
    extra=True,
)
def q28_multi_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with an inequality on the correlated table
    (the TPC-H Q21 family): per supplier nation, orders the supplier
    shared with at least one OTHER supplier. The exists compiles to a
    left-semi self-join on (orderkey, suppkey<>suppkey) — equi on the
    order key, inequality as residual; no driver-side subquery loop."""
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey")
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    shared = l1.join(
        l2, (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2), "left_semi"
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return (
        shared.join(F.broadcast(sup), "l_suppkey")
        .groupBy("s_nationkey")
        .agg(F.count_distinct("l_orderkey").alias("n_shared_orders"))
    )


@query(
    "q29_top_revenue_suppliers",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey, {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    extra=True,
)
def q29_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery over a DERIVED aggregate (the TPC-H Q15 'top
    supplier view' family): revenue per supplier, keep the max.
    Decimal accumulation makes the max tie-exact across engines; the
    scalar max compiles to a 1-row broadcast join against the reused
    aggregate, not a second scan."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("m"))
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), F.col("s_name")
    )
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("m"))
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q30_large_volume_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, {oracle_dec_sum('l_quantity')} AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING {oracle_dec_sum('l_quantity')} > 250.0
    )
    SELECT c_custkey, o_orderkey, o_totalprice, sum_qty FROM (
        SELECT c_custkey, o_orderkey, o_totalprice, sum_qty,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        FROM big JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
    ) WHERE rk <= 100
    """,
    extra=True,
)
def q30_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    line quantity exceeds 250, top-100 by order value. The quantity
    aggregate runs FIRST and its HAVING prunes before any join — only
    the ~1% surviving orderkeys reach the orders/customer joins — and
    the top-100 is a TakeOrderedAndProject (per-partition heaps), not
    a global sort. Deterministic under ties via the orderkey
    tie-break; quantity sums through exact decimal (dec_sum)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    joined = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    )
    return joined.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(100)


@query(
    "q31_dormant_rich_customers",
    oracle=f"""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {oracle_dec_sum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT {oracle_dec_avg('c_acctbal')}
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '2000-01-01')
    GROUP BY c_nationkey
    """,
    extra=True,
)
def q31_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive account balance and NO RECENT orders
    (none since 2000-01-01), counted per nation. Dormancy is a
    recency window rather than Q22's literal never-ordered test
    because the fixtures assign every customer at least one early
    order — never-ordered selects 0 rows at sf<=0.01, a vacuous
    observable (the fixture-fragile-filter class the three-scale
    gate exists for); the window keeps the anti-join shape and is
    non-empty at every shipped scale (5 / 55 / 646 customers).
    The global average folds into a codegen LITERAL (one
    .first() of an exact decimal sum / count — the 1-row-scalar-attach
    recipe that avoids a BNLJ), the no-recent-orders test is a
    left-anti join on a date-filtered payload-free orders projection
    (the filter pushes to the parquet scan), and the close is one
    map-side-combined aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(dec_avg("c_acctbal")).first()[0]
    return (
        cust.filter(F.col("c_acctbal") > F.lit(avg_bal))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum("c_acctbal").alias("totacctbal"),
        )
    )


@query(
    "q32_sole_fault_suppliers",
    oracle="""
    WITH l1 AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'R' AND o.o_orderstatus = 'F'
    ),
    faulted AS (
        SELECT * FROM l1
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM faulted f
    JOIN supplier s ON s.s_suppkey = f.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_nationkey < 13
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q32_sole_fault_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting) — the
    hardest classic: the fact table self-joined TWICE with EXISTS +
    NOT EXISTS semantics. Per returned ('R') line item on a finished
    ('F') order: EXISTS another supplier's item on the SAME order
    (multi-supplier order), NOT EXISTS another supplier's RETURNED
    item on it (this supplier is the sole fault) — count per supplier,
    top 100. The fault predicate is l_returnflag = 'R' instead of
    Q21's receiptdate > commitdate because the fixture carries no
    receipt/commit dates; it is row-local exactly like the original,
    so the sub-query structure (the thing this query exercises) is
    unchanged. The same shape runs constantly in funnel/attribution
    work ("the only vendor that missed SLA on an otherwise-clean
    shipment").

    Plan shape at 100 TB: both EXISTS branches become one SortMergeJoin
    LeftSemi and one LeftAnti on l_orderkey with the l_suppkey <>
    residual — three co-partitioned passes over the SAME shuffle key,
    never a cartesian; the order-status probe is a semi-join against
    the date-free orders projection; supplier⋈nation is a broadcast;
    the top-100 is TakeOrderedAndProject (per-partition heaps), not a
    global sort. Ties at the cut are impossible to mis-pick: the order
    (numwait DESC, s_name) is total because s_name is unique."""
    li = load_table(spark, sf_dir, "lineitem")
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 13)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    faulted = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        faulted.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


@query(
    "q33_front_loaded_supply",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    qualifying AS (
        SELECT p2.l_partkey, p2.l_suppkey
        FROM pairs p2
        WHERE p2.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'small %')
          AND 2 * (SELECT SUM(CAST(l.l_quantity AS DECIMAL(24,6)))
                   FROM lineitem l
                   WHERE l.l_partkey = p2.l_partkey
                     AND l.l_suppkey = p2.l_suppkey
                     AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
              > (SELECT SUM(CAST(l.l_quantity AS DECIMAL(24,6)))
                 FROM lineitem l
                 WHERE l.l_partkey = p2.l_partkey
                   AND l.l_suppkey = p2.l_suppkey)
    )
    SELECT s.s_name, n.n_name, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM qualifying q
    JOIN supplier s ON s.s_suppkey = q.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY s.s_name, n.n_name
    """,
)
def q33_front_loaded_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess/front-loaded stock): for each
    (part, supplier) pair on 'small %' parts, a CORRELATED SCALAR
    SUBQUERY sums the pair's early shipments (before 1998) and the
    outer predicate compares it against the pair's all-time volume —
    suppliers that front-loaded more than half a part's lifetime
    supply, counted per supplier. The fixture has no partsupp table,
    so availqty is replaced by the pair's all-time shipped quantity;
    the nesting structure (correlated aggregate under an inequality,
    under an IN filter, under a supplier semi-join) is Q20's exactly.

    The oracle states it the classic way: two correlated scalar
    subqueries over lineitem per candidate pair. The Spark plan
    DECORRELATES both into ONE conditional aggregate — a single
    map-side-combined groupBy (l_partkey, l_suppkey) computing
    SUM(qty) FILTER (early) and SUM(qty) side by side, then a plain
    decimal comparison — one fact-table scan and one shuffle where the
    literal nested form would scan lineitem three times. The part-name
    filter is a broadcast semi-join (2k rows), supplier⋈nation a
    broadcast, and the final per-supplier count reuses tiny group
    cardinality. Both quantity sums are exact at scale 6
    (``money_sum``), so the > comparison is bit-identical across
    engines; the NULL case (no early shipments) drops the pair in both
    (NULL comparison is false in WHERE, conditional-sum NULL fails the
    filter).

    100 TB: the only wide shuffle is keyed on (partkey, suppkey) —
    the natural high-cardinality key, skew-free by construction; AQE
    coalesces the post-agg side. Nothing correlated survives into the
    physical plan.
    """
    li = _t(spark, sf_dir, "lineitem")
    small_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small %"))
        .select("p_partkey")
    )
    early = F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    pair_agg = (
        li.join(F.broadcast(small_parts), li.l_partkey == small_parts.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            money_sum(F.when(early, F.col("l_quantity"))).alias("qty_early"),
            money_sum("l_quantity").alias("qty_total"),
        )
        .filter(F.col("qty_early") * 2 > F.col("qty_total"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        pair_agg.join(F.broadcast(sup), pair_agg.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@query(
    "q34_bucketed_colocated_join",
    oracle=f"""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {oracle_dec_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    extra=True,
)
def q34_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join with the shuffle PRE-PAID at write time: both
    sides land as bucketed tables (sinks.write_bucketed_table — 8
    buckets on the join key, sortBy the same key), and the join then
    plans as a SortMergeJoin with NO Exchange on either side — bucket i
    of lineitem zips locally against bucket i of orders
    (plan-asserted in tests/test_sinks.py). The oracle is the plain
    join/agg on the raw parquet, so the result also proves the
    bucketed write+read roundtrip is lossless.

    This is THE 100 TB pattern for a recurring fact⋈fact join (the
    nightly lineitem⋈orders reconciliation): the shuffle happens once
    at ingest instead of on every query; later joins AND groupBys
    keyed on orderkey reuse the co-location for free. The merge hint
    pins the join strategy so the demonstration doesn't silently
    degrade to a broadcast at fixture scale (at 100 TB neither side
    broadcasts, SMJ is what AQE would pick anyway).

    Revenue goes through exact decimal accumulation; group count is 3,
    so the final agg is map-side dominated.
    """
    import os
    import tempfile

    from kaylee_spark.sources.sinks import write_bucketed_table

    # pid suffix keeps concurrent processes on the same fixture from
    # dropping/overwriting each other's bucketed tables mid-query
    # (ADVICE r11); within one process reruns reuse/overwrite the same
    # name, so repeated oracle sweeps don't accumulate temp dirs.
    tag = _stage_tag(sf_dir, "lineitem", "orders")
    base = os.path.join(tempfile.gettempdir(), f"kaylee_bucketed_{tag}")
    # stage ONCE per process: the bucketed write is INGEST-time work —
    # the query-time claim under measurement is the zero-Exchange read
    # join, so reruns (bench passes, oracle sweeps) reuse the layout
    # exactly as a nightly job reuses the bucketed table. The catalog
    # check guards a fresh session in the same process.
    staged = base in _STAGED_ONCE and all(
        spark.catalog.tableExists(f"kaylee_b_{t}_{tag}") for t in ("orders", "lineitem")
    )
    if not staged:
        for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            name = f"kaylee_b_{tbl}_{tag}"
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            write_bucketed_table(
                _t(spark, sf_dir, tbl),
                name,
                [key],
                n_buckets=8,
                sort_cols=[key],
                path=os.path.join(base, tbl),
            )
        _STAGED_ONCE.add(base)
    o = spark.table(f"kaylee_b_orders_{tag}").select("o_orderkey", "o_orderstatus")
    li = spark.table(f"kaylee_b_lineitem_{tag}").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@query(
    "q35_dynamic_partition_pruning",
    oracle=f"""
    WITH fact AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               l_extendedprice, l_discount
        FROM lineitem
    ),
    dim AS (
        SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS ship_month,
               year(l_shipdate) AS ship_year
        FROM lineitem
    )
    SELECT f.ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {oracle_dec_sum('f.l_extendedprice * (1 - f.l_discount)')} AS revenue
    FROM fact f
    JOIN dim d ON d.ship_month = f.ship_month
    WHERE d.ship_year = 1996
    GROUP BY f.ship_month
    """,
)
def q35_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the optimization that makes
    dimensional filters cheap on a partitioned 100 TB fact table. The
    fact (lineitem) lands partitioned by ship month and the month
    dimension carries the year attribute; the query filters the DIM
    (ship_year = 1996) and joins on the partition column. Static
    pruning can't help — no literal predicate touches ship_month —
    but Spark inserts a runtime dynamicpruningexpression(ship_month
    IN dynamicpruning#N) partition filter fed by the dim's broadcast,
    so only the 12 matching partitions of the fact are ever read
    (plan-asserted in tests/test_plans.py; the broadcast is REUSED for
    the join itself, so the pruning subquery costs nothing extra).

    At 100 TB this is the date-dim pattern: facts partitioned by
    day/month key, every dashboard filter expressed on the dimension,
    scan cost proportional to the selected window instead of the full
    table. The write side is sinks-style partitionBy; revenue rides
    exact decimal accumulation.

    The oracle replays the identical semantics on the raw parquet
    (derive month/year, join, filter), proving the partitioned
    write+read roundtrip is lossless too.
    """
    import os
    import tempfile

    # pid suffix (concurrent-process isolation, same as q34) + staged
    # ONCE per process: the partitioned landing is ingest-time work,
    # the measured query is the runtime-pruned scan+join.
    tag = _stage_tag(sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"kaylee_dpp_{tag}")
    if base not in _STAGED_ONCE or not os.path.isdir(os.path.join(base, "dim")):
        li = _t(spark, sf_dir, "lineitem")
        fact = li.withColumn(
            "ship_month", F.date_format("l_shipdate", "yyyy-MM")
        ).select("ship_month", "l_extendedprice", "l_discount", "l_shipdate")
        fact.write.mode("overwrite").partitionBy("ship_month").parquet(
            os.path.join(base, "fact")
        )
        fact.select(
            "ship_month", F.year("l_shipdate").alias("ship_year")
        ).distinct().write.mode("overwrite").parquet(os.path.join(base, "dim"))
        _STAGED_ONCE.add(base)
    f = spark.read.parquet(os.path.join(base, "fact"))
    d = spark.read.parquet(os.path.join(base, "dim")).filter(
        F.col("ship_year") == 1996
    )
    return (
        f.join(d, "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@query(
    "q36_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q36_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): a revenue VIEW aggregated per
    supplier for one quarter, then the supplier(s) achieving the
    GLOBAL MAX of that view — the scalar-subquery-over-an-aggregate
    pattern (distinct from q02's per-group correlated min and q31's
    pre-foldable global average: here the scalar derives from the
    same aggregated frame it filters, so it cannot fold before the
    aggregation runs).

    Spark plan: ONE aggregation pass builds the view; an empty-frame
    window max (no partition keys, but over the |suppliers|-row
    AGGREGATE, never the fact table) attaches the global max without
    a second scan or a self-join — then the equality filter and a
    broadcast join to supplier names. Exact decimal revenue makes the
    max-equality tie semantics identical across engines (Q15's
    documented multi-winner case survives rounding only because the
    compare happens on cent-rounded exact values, not doubles).

    100 TB: the fact scan aggregates map-side into |suppliers| rows;
    the single-partition window runs over THAT (bounded by the
    supplier dimension, ~10M rows worst case — fine for one
    partition); supplier join broadcasts.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    top = revenue.withColumn("_mx", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("_mx")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        top.join(F.broadcast(sup), top.supplier_no == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q37_zorder_box_scan",
    oracle=f"""
    WITH bounds AS (
        SELECT (MAX(l_partkey) * 4) // 10 AS p_lo, (MAX(l_partkey) * 5) // 10 AS p_hi,
               (MAX(l_suppkey) * 4) // 10 AS s_lo, (MAX(l_suppkey) * 5) // 10 AS s_hi
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {oracle_dec_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem, bounds
    WHERE l_partkey BETWEEN p_lo AND p_hi
      AND l_suppkey BETWEEN s_lo AND s_hi
    GROUP BY l_returnflag
    """,
)
def q37_zorder_box_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data-skipping layout as a query row: lineitem
    lands Z-ORDER clustered on (l_partkey, l_suppkey)
    (sinks.write_zorder_parquet — equi-mass bucket ids bit-interleaved
    into one Morton clustering key, one range shuffle, no UDF), then a
    2-D box predicate (the middle decile band of each key's domain,
    ~1% of rows) scans it back. Because the layout makes every file's
    min/max footer range tight on BOTH dimensions, the pushed filters
    (plan-asserted in tests/test_plans.py) let the parquet reader skip
    the row groups whose ranges miss the box — measured as real
    skipping in tests/test_sinks.py.

    The oracle replays the identical predicate on the RAW parquet, so
    the hash gate also proves the clustered write+read roundtrip is
    lossless — layout changed, semantics didn't. Box bounds derive
    from MAX(key) on both engines (bounded driver-side scalar on the
    Spark side), so selectivity stays ~1% at every SF instead of
    pinning literals to one fixture's domain.

    At 100 TB this is the OPTIMIZE ZORDER story: one clustering pass
    at ingest, then every selective dashboard predicate on EITHER key
    reads the few files whose footer range intersects it — scan cost
    proportional to selectivity, not table size, without any index.
    """
    import os
    import tempfile

    from kaylee_spark.sources.sinks import write_zorder_parquet

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    mx = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).first()
    p_lo, p_hi = mx["p"] * 4 // 10, mx["p"] * 5 // 10
    s_lo, s_hi = mx["s"] * 4 // 10, mx["s"] * 5 // 10
    tag = _stage_tag(sf_dir)
    path = os.path.join(tempfile.gettempdir(), f"kaylee_zorder_{tag}")
    # clustered ONCE per process (ingest-time work, like q34/q35)
    if path not in _STAGED_ONCE or not os.path.isdir(path):
        write_zorder_parquet(li, path, "l_partkey", "l_suppkey", n_files=16)
        _STAGED_ONCE.add(path)
    scan = spark.read.parquet(path).filter(
        F.col("l_partkey").between(p_lo, p_hi)
        & F.col("l_suppkey").between(s_lo, s_hi)
    )
    return scan.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@query(
    "q38_small_quantity_revenue",
    oracle=f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {oracle_dec_sum('l.l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 3
      AND CAST(l.l_quantity AS BIGINT) * 5
          * (SELECT COUNT(*) FROM lineitem l2
             WHERE l2.l_partkey = p.p_partkey)
          < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
             FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    GROUP BY p.p_brand
    """,
)
def q38_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue) — the classic
    correlated-scalar-per-group decorrelation: for each line item of a
    small part (p_size <= 3; the fixture has no p_container), compare
    its quantity to 20% of ITS PART's average quantity over all of
    lineitem, and sum the qualifying revenue / 7 per brand. It is the
    most common decorrelation real users write after EXISTS/IN: the
    oracle runs the correlated form natively, so the hash gate proves
    the decorrelation below is semantics-preserving.

    Exactness: q < 0.2·AVG(q) is evaluated as 5·n·q < Σq — quantities
    are integral, so the threshold is pure int64 arithmetic and no
    engine-dependent double AVG sits on a comparison boundary
    (n·q·5 <= 50·5·|rows per part| — decades inside int64).

    Plan shape at 100 TB: ONE scan of lineitem (plan-asserted) — the
    size filter prunes part to a small dim that arrives broadcast, and
    the per-part (Σq, n) pair rides a window over the SAME
    l_partkey-keyed exchange the filtered rows already need; no second
    fact scan, no per-row subquery, no join back. The window partition
    is one part's line items (bounded, uniform), so no skew; the final
    per-brand rollup reduces over ~25 groups."""
    from pyspark.sql import Window

    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_size") <= 3)
        .select("p_partkey", "p_brand")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("l_partkey")
    q = F.col("l_quantity").cast("bigint")
    qualified = (
        j.withColumn("sum_q", F.sum(q).over(w))
        .withColumn("n_q", F.count(F.lit(1)).over(w))
        .where(q * 5 * F.col("n_q") < F.col("sum_q"))
    )
    return qualified.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        (dec_sum("l_extendedprice") / 7.0).alias("avg_yearly"),
    )


@query(
    "q39_important_part_values",
    oracle="""
    WITH base AS (
        SELECT l.l_partkey,
               l.l_extendedprice * (1 - l.l_discount) AS rev
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_regionkey = 2
    ),
    per AS (
        SELECT l_partkey,
               ROUND(SUM(CAST(rev AS DECIMAL(24,6))), 2) AS r
        FROM base GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(r AS DOUBLE) AS part_rev
    FROM per
    WHERE r * 2 * (SELECT COUNT(*) FROM per)
          > 3 * (SELECT SUM(r) FROM per)
    """,
)
def q39_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock values) — the GLOBAL-SCALAR
    decorrelation: per-part revenue from one region's suppliers, kept
    when it exceeds a fraction of the WHOLE filtered set's aggregate.
    Q11's fixed 0.0001 cut is SF-calibrated, so here the cut is
    scale-free — parts above 1.5× the AVERAGE per-part revenue
    (r > 1.5·total/P ⟺ 2·r·P > 3·total, exact decimal·integer
    arithmetic on both engines; no double sits on the boundary). The
    oracle runs the scalar subqueries natively; the engine computes
    the two global scalars ONCE and broadcasts them.

    Plan shape at 100 TB: supplier⋈nation prunes to one region and
    arrives broadcast to the single lineitem scan; per-part revenue is
    one map-side-combined aggregate; the (total, count) pair is a
    1-row aggregate OF THE AGGREGATE (never a second fact scan) that
    returns via a broadcast nested-loop on a single row — the
    decorrelated Q11 plan, no per-row subquery, no re-aggregation.
    The per-part frame is localCheckpointed so the scalar branch and
    the output branch share one computed aggregate instead of
    replaying the join+agg twice (Spark has no common-subplan reuse)."""
    nat = load_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 2)
    sup = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = (
        li.join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.round(money_sum(rev), 2).alias("r"))
        .localCheckpoint()
    )
    totals = per.agg(
        F.sum("r").alias("total_r"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .where(F.col("r") * 2 * F.col("n_parts") > 3 * F.col("total_r"))
        .select("l_partkey", F.col("r").cast("double").alias("part_rev"))
    )
