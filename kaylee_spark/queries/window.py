"""Window function queries (SURVEY.md §2.3 — absent in the reference;
first-class here via ``pyspark.sql.Window``).

Determinism: every window ORDER BY includes a unique tie-break key so
ranking and running aggregates are reproducible; running sums go
through decimal so the (deterministic, ordered) accumulation is exact
on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kaylee_spark.functions import oracle_dec_sum
from kaylee_spark.queries import query
from kaylee_spark.sources import load_table


@query(
    "w01_rank_orders",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               RANK()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_rank,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
               DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS dense_price_rank,
               NTILE(4)     OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_quartile,
               CAST(PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS DOUBLE) AS price_pct_rank
        FROM orders
    ) WHERE price_rank <= 3
    """, extra=True)
def w01_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking surface per partition: RANK / ROW_NUMBER / DENSE_RANK /
    NTILE / PERCENT_RANK in one driver-verified query (top-3 orders per
    customer; quartile+pct computed over the full partition before the
    filter). The standalone NTILE query lives on as extra-registry
    w04_ntile_share.

    Scale: one shuffle on o_custkey serves all five functions (same
    window spec); the rank<=3 filter is applied streaming per group.
    """
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("price_rank"),
            F.row_number().over(w).alias("rn"),
            F.dense_rank().over(w).alias("dense_price_rank"),
            F.ntile(4).over(w).alias("price_quartile"),
            F.percent_rank().over(w).cast("double").alias("price_pct_rank"),
        )
        .filter(F.col("price_rank") <= 3)
    )


@query(
    "w02_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_orders_so_far,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
                o_orderdate) AS BIGINT) AS days_since_prev,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_orderkey
    FROM orders
    """,
    extra=True,
)
def w02_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate over an explicit ROWS frame plus LAG/LEAD
    offset analytics — one driver-verified query, one shuffle (all four
    functions share the partition + ordering; Spark plans a single
    Window node). The standalone LAG/LEAD query lives on as
    extra-registry w03_lag_lead."""
    order_cols = (F.asc("o_orderdate"), F.asc("o_orderkey"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = Window.partitionBy("o_custkey").orderBy(*order_cols)
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_spend"),
        F.count("*").over(w).alias("n_orders_so_far"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(wo)).cast("bigint").alias("days_since_prev"),
        F.lead("o_orderkey").over(wo).alias("next_orderkey"),
    )


@query(
    "w03_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
                o_orderdate) AS BIGINT) AS days_since_prev,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_orderkey
    FROM orders
    """,
    extra=True,
)
def w03_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD analytics: inter-order gap per customer."""
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("bigint").alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@query(
    "w04_ntile_share",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS bal_quartile,
           CAST(PERCENT_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS DOUBLE) AS bal_pct_rank
    FROM customer
    """,
    extra=True,
)
def w04_ntile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE + PERCENT_RANK distribution analytics."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.percent_rank().over(w).cast("double").alias("bal_pct_rank"),
    )


@query(
    "w05_range_frame",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2)))
                OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                      RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS max_neighbor_price
    FROM lineitem
    """,
    extra=True,
)
def w05_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering column."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber").rangeBetween(-1, 1)
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.max(F.col("l_extendedprice").cast("decimal(18,2)")).over(w).cast("double").alias("max_neighbor_price"),
    )


@query(
    "w06_pareto_abc",
    oracle="""
    WITH rev AS (
        SELECT o_custkey AS custkey,
               ROUND(SUM(CAST(o_totalprice AS DECIMAL(24,6))), 2) AS rev_dec
        FROM orders GROUP BY o_custkey
    ),
    j AS (
        SELECT n.n_name AS nation, r.custkey, r.rev_dec
        FROM rev r
        JOIN customer c ON c.c_custkey = r.custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    s AS (
        SELECT nation, custkey,
               CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY nation ORDER BY rev_dec DESC, custkey ASC
               ) AS INT) AS rank,
               ROUND(
                   CAST(SUM(rev_dec) OVER (
                       PARTITION BY nation ORDER BY rev_dec DESC, custkey ASC
                       ROWS UNBOUNDED PRECEDING
                   ) AS DOUBLE)
                   / CAST(SUM(rev_dec) OVER (PARTITION BY nation) AS DOUBLE),
                   6
               ) AS cum_share
        FROM j
    )
    SELECT nation, custkey, revenue, rank, cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM s
    """,
    extra=True,
)
def w06_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC revenue-concentration analysis per nation: rank
    customers by exact decimal revenue, cumulative share over the
    deterministic (revenue desc, custkey) order, classes cut at
    80% / 95%. The cumsum stays DECIMAL through the window (exact,
    order-independent accumulation) and only the final share divides
    in doubles, rounded 6dp on both engines. Partitioned by nation —
    no global-order window; at 100 TB the partition key is whatever
    business dimension bounds the ranking scope."""
    from kaylee_spark.functions import money_sum

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.round(money_sum("o_totalprice"), 2).alias("rev_dec")
    )
    j = (
        rev.join(customer, rev.custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), "custkey", "rev_dec")
    )
    order = [F.desc("rev_dec"), F.asc("custkey")]
    w_run = (
        Window.partitionBy("nation")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("nation")
    cum_share = F.round(
        F.sum("rev_dec").over(w_run).cast("double")
        / F.sum("rev_dec").over(w_all).cast("double"),
        6,
    )
    out = j.select(
        "nation",
        "custkey",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.row_number().over(Window.partitionBy("nation").orderBy(*order)).cast("int").alias("rank"),
        cum_share.alias("cum_share"),
    )
    return out.withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C"),
    )


@query(
    "w07_gini_concentration",
    oracle="""
    WITH rev AS (
        SELECT c_custkey, c_nationkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS v
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey, c_nationkey
    ),
    ranked AS (
        SELECT c_nationkey AS grp, v, c_custkey,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY v ASC, c_custkey ASC) AS i
        FROM rev
    ),
    agg AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS DECIMAL(38,2)) AS s,
               CAST(SUM(CAST(i AS DECIMAL(18,0)) * v) AS DECIMAL(38,2)) AS s1
        FROM ranked GROUP BY grp
    )
    SELECT grp, n,
           CASE WHEN n * s <> 0
                THEN CAST(2 * s1 - (n + 1) * s AS DOUBLE)
                     / CAST(n * s AS DOUBLE)
           END AS gini
    FROM agg
    """,
    extra=True,
)
def w07_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini index of customer revenue — the scalar
    inequality measure behind w06's Pareto/ABC classes (one number per
    nation instead of per-customer bands): exact integer ranks times
    exact decimal revenue, one final double division
    (operators/analytics.py gini_by_group). One customer-keyed
    aggregate, then ONE nation-keyed exchange shared by the rank
    window and the closing 3-scalar aggregate."""
    from kaylee_spark.operators.analytics import gini_by_group

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,2)").alias("v"))
    )
    return gini_by_group(rev, "c_nationkey", "v", "c_custkey")


@query(
    "w08_sliding_distinct_users",
    oracle="""
    WITH bounds AS (
        SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
        FROM events
    ),
    grid AS (
        SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS window_end
        FROM bounds
    ),
    du AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT CAST(g.window_end AS TIMESTAMP) AS window_end,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS users
    FROM grid g
    LEFT JOIN du ON du.d BETWEEN g.window_end - 6 AND g.window_end
    GROUP BY g.window_end
    """,
)
def w08_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per calendar day (the WAU
    curve). The oracle states the naive semantics — a range join of
    the day grid against distinct (user, day) pairs plus a holistic
    COUNT(DISTINCT) per window, a 7x fact blow-up that cannot ship at
    100 TB. The engine computes the identical numbers with NO range
    join and NO distinct aggregate via the lag-bounded contribution
    trick (operators/analytics.py sliding_distinct_users): per user,
    each active day contributes +1 exactly to the windows where it is
    that user's first in-window activity — an interval derivable from
    lag(day) alone — so a plain SUM per window end IS the distinct
    count. Two narrow exchanges (user-day dedup, user-ordered lag),
    ≤7 exploded rows per first-activity run, map-side combined."""
    from kaylee_spark.operators.analytics import sliding_distinct_users

    ev = load_table(spark, sf_dir, "events")
    return sliding_distinct_users(ev, "user_id", "ts", 7)


@query(
    "w09_weekly_rank_movers",
    oracle=f"""
    WITH weekly AS (
        SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
               event_type,
               {oracle_dec_sum('value')} AS revenue
        FROM events
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT week, event_type, revenue,
               CAST(RANK() OVER (PARTITION BY week
                                 ORDER BY revenue DESC, event_type) AS INT)
                   AS rnk
        FROM weekly
    )
    SELECT week, event_type, revenue, rnk,
           CAST(LAG(rnk) OVER (PARTITION BY event_type ORDER BY week)
                AS INT) AS prev_rnk,
           CAST(LAG(rnk) OVER (PARTITION BY event_type ORDER BY week) - rnk
                AS INT) AS rank_delta
    FROM ranked
    """,
    extra=True,
)
def w09_weekly_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week rank movers — the dashboard "top movers" shape:
    each event type's revenue RANK within its week, then the rank
    delta against the previous week via LAG along the type's own
    timeline (positive = climbed). Two window axes share the work of
    ONE tiny aggregate: the weekly pivot is |weeks|x|types| rows, so
    both the within-week rank sort and the per-type lag run over
    dozens of rows regardless of fact-table size; revenue rides exact
    decimal so rank ties cannot flip across engines (tie-break on
    event_type makes the order total).

    Week truncation is DATE arithmetic (Monday start via
    date_sub(d, (dayofweek+5) mod 7)) — Spark's date_trunc returns a
    session-zone TIMESTAMP even for NTZ input (the e12 lesson), so
    the tz-independence probe would shift it on non-UTC sessions."""
    ev = load_table(spark, sf_dir, "events")
    d = F.to_date("ts")
    week = F.date_sub(d, (F.dayofweek(d) + F.lit(5)) % 7)
    from kaylee_spark.functions import dec_sum

    weekly = ev.groupBy(
        week.cast("timestamp_ntz").alias("week"), "event_type"
    ).agg(dec_sum("value").alias("revenue"))
    w_rank = Window.partitionBy("week").orderBy(
        F.desc("revenue"), F.asc("event_type")
    )
    w_lag = Window.partitionBy("event_type").orderBy("week")
    ranked = weekly.withColumn("rnk", F.rank().over(w_rank).cast("int"))
    return ranked.select(
        "week",
        "event_type",
        "revenue",
        "rnk",
        F.lag("rnk").over(w_lag).cast("int").alias("prev_rnk"),
        (F.lag("rnk").over(w_lag) - F.col("rnk")).cast("int").alias("rank_delta"),
    )
