"""Advanced operator coverage: approximate & statistical aggregates,
pivot, grouping sets, as-of join, bucketed range join, array/regexp
functions, histograms, multimodal columns, and the raw-SQL entry path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaylee_spark.functions import dec_sum, oracle_dec_sum
from kaylee_spark.operators.joins import asof_join, range_join
from kaylee_spark.operators.multimodal import synth_media_from_documents
from kaylee_spark.queries import query
from kaylee_spark.sources import load_table, register_views


# ---------------------------------------------------------------------------
# Approximate + exact-distinct aggregates
# ---------------------------------------------------------------------------


@query(
    "a01_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT year(o_orderdate)) AS n_years
    FROM orders GROUP BY o_orderpriority
    """,
    extra=True,
)
def a01_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT(DISTINCT) (expand + two-phase agg)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count_distinct(F.year("o_orderdate")).alias("n_years"),
    )


@query(
    "a02_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           TRUE AS hll_within_bound,
           ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
           ROUND(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 4) AS p95,
           ROUND(CAST(quantile_cont(l_extendedprice, 0.99) AS DOUBLE), 4) AS p99,
           TRUE AS quantiles_within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
    extra=True,
)
def a02_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches, ORACLE-GATED: HLL++ count-distinct and
    approximate quantiles still execute (the 100 TB pattern — fixed
    ~1.5 KB of state per group instead of a distinct expand), but the
    emitted row carries the EXACT values plus in-plan booleans
    asserting each sketch landed inside its published error bound.
    The oracle emits the exact values and literal TRUEs, so a sketch
    drifting out of bound (or a regression that stops running it)
    flips a boolean and fails the hash gate — the sketches are
    verified by the driver, not just by local tests.

    Bounds: HLL++ rsd=0.02 -> |approx-exact| <= 3*rsd*exact (3 sigma);
    percentile_approx accuracy=10000 -> rank error <= 1e-4, checked
    against the exact-percentile band at p +/- 1e-3 (10x slack, so
    any merge order of the quantile summaries stays inside).
    """
    li = load_table(spark, sf_dir, "lineitem")
    qa = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    qx = F.expr(
        "percentile(l_extendedprice, array(0.499, 0.5, 0.501, 0.949, 0.95, 0.951, 0.989, 0.99, 0.991))"
    )
    # TWO aggregation passes joined on the 3-row group key, NOT one
    # four-function agg: mixing DISTINCT with holistic + sketch
    # aggregates makes Spark plan an Expand (every row replicated per
    # aggregate path) and merge the percentile buffers across it —
    # measured 24 s vs 0.5 s for this split at sf0.1. Each pass is a
    # clean map-side-partial plan; the join side is |groups| rows.
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("n_orders"),
        qx.alias("qx"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        qa.alias("qa"),
    )
    agg = exact.join(F.broadcast(approx), "l_returnflag")
    in_band = [
        (F.element_at("qa", i + 1) >= F.element_at("qx", 3 * i + 1))
        & (F.element_at("qa", i + 1) <= F.element_at("qx", 3 * i + 3))
        for i in range(3)
    ]
    return agg.select(
        "l_returnflag",
        "n_orders",
        (
            F.abs(F.col("approx_orders") - F.col("n_orders"))
            <= F.lit(3 * 0.02) * F.col("n_orders")
        ).alias("hll_within_bound"),
        F.round(F.element_at("qx", 2).cast("double"), 4).alias("p50"),
        F.round(F.element_at("qx", 5).cast("double"), 4).alias("p95"),
        F.round(F.element_at("qx", 8).cast("double"), 4).alias("p99"),
        (in_band[0] & in_band[1] & in_band[2]).alias("quantiles_within_bound"),
    )


@query(
    "a03_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
           ROUND(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 4) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
    extra=True,
)
def a03_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles, rounded to 4dp on both sides —
    the engines interpolate with differently-associated formulas
    (lo+(hi-lo)*f vs (1-f)*lo+f*hi), identical to the last ulp only."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
    )


@query(
    "a04_stat_moments",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           {oracle_dec_sum('c_acctbal')} AS s1,
           {oracle_dec_sum('c_acctbal * c_acctbal')} AS s2,
           ROUND(CAST(({oracle_dec_sum('c_acctbal * c_acctbal')} - {oracle_dec_sum('c_acctbal')} * {oracle_dec_sum('c_acctbal')} / COUNT(*)) / (COUNT(*) - 1) AS DOUBLE), 4) AS variance
    FROM customer GROUP BY c_mktsegment
    """,
    extra=True,
)
def a04_stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance from exact decimal moments (sum, sum-of-squares).

    Plain stddev/var_samp stream doubles in partition order and can't
    bit-match any oracle; accumulating the two moments in decimal is
    order-independent, then the final double arithmetic is identical
    on both engines. Same one-pass shape as Spark's native m2 method.
    dec_sum's cent-rounding (see kaylee_spark/functions) is what keeps
    the moments' decimal->double conversion bit-identical at scale —
    the unrounded form diverged by one ulp at sf0.1 (round-5 catch);
    variance additionally rounds to 4dp like a03's interpolation.
    """
    cust = load_table(spark, sf_dir, "customer")
    s1 = dec_sum("c_acctbal")
    s2 = dec_sum(F.col("c_acctbal") * F.col("c_acctbal"))
    n = F.count("*")
    return cust.groupBy("c_mktsegment").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        F.round(((s2 - s1 * s1 / n) / (n - F.lit(1))).cast("double"), 4).alias("variance"),
    )


# ---------------------------------------------------------------------------
# Pivot / grouping sets / SQL entry
# ---------------------------------------------------------------------------


@query(
    "a05_pivot",
    oracle=f"""
    SELECT l_linestatus,
           {oracle_dec_sum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS A,
           {oracle_dec_sum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS N,
           {oracle_dec_sum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS R
    FROM lineitem GROUP BY l_linestatus
    """,
    extra=True,
)
def a05_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with explicit value list (explicit list avoids the extra
    distinct-values job — the form that scales)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dec_sum("l_quantity"))
    )


@query(
    "a06_grouping_sets",
    oracle="""
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
           CAST(GROUPING(c_mktsegment) AS INT) * 2 + CAST(GROUPING(c_nationkey) AS INT) AS gid
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
    extra=True,
)
def a06_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + grouping_id via the SQL entry point."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
               CAST(grouping_id(c_mktsegment, c_nationkey) AS INT) AS gid
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@query(
    "a07_sql_surface",
    oracle=f"""
    SELECT n_name,
           COUNT(DISTINCT c_custkey) AS n_customers,
           {oracle_dec_sum('o_totalprice')} AS revenue
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN orders ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F'
    GROUP BY n_name
    HAVING COUNT(DISTINCT c_custkey) >= 2
    """,
)
def a07_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole query written as SQL text — the engine's second entry
    point (same Catalyst plan as the DataFrame form)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               COUNT(DISTINCT c_custkey) AS n_customers,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(24,6))), 2) AS DOUBLE) AS revenue
        FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN orders ON o_custkey = c_custkey
        WHERE o_orderstatus = 'F'
        GROUP BY n_name
        HAVING COUNT(DISTINCT c_custkey) >= 2
        """
    )


# ---------------------------------------------------------------------------
# As-of + bucketed range joins
# ---------------------------------------------------------------------------


@query(
    "a08_asof_join",
    oracle="""
    WITH ranked AS (
        SELECT user_id, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    checkpoints AS (
        SELECT user_id, ts AS cts, event_id AS checkpoint_event_id
        FROM ranked WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, c.checkpoint_event_id,
           CAST(date_diff('microsecond', c.cts, e.ts) // 1000000 AS BIGINT) AS secs_since_checkpoint
    FROM events e ASOF LEFT JOIN checkpoints c
      ON e.user_id = c.user_id AND e.ts >= c.cts
    """,
)
def a08_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each event matched to the latest
    checkpoint (first event of a user-day) at or before it.

    Implementation is the union+window single-sort pattern
    (operators/joins.py) — one shuffle, no row explosion; the oracle
    is DuckDB's native ASOF JOIN, so semantics are cross-validated
    against an independent implementation.
    """
    ev = load_table(spark, sf_dir, "events")
    checkpoints = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.min("ts").alias("cts"),
            F.min_by("event_id", F.struct("ts", "event_id")).alias("checkpoint_event_id"),
        )
        .drop("day")
    )
    left = ev.select("event_id", "user_id", "ts")
    out = asof_join(left, checkpoints, on="user_id", left_time="ts", right_time="cts")
    return out.select(
        "event_id",
        "user_id",
        "checkpoint_event_id",
        F.expr("timestampdiff(MICROSECOND, cts, ts) div 1000000").cast("bigint").alias("secs_since_checkpoint"),
    )


@query(
    "a09_range_join",
    oracle=f"""
    SELECT b.bucket_name, COUNT(*) AS n_items, {oracle_dec_sum('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN (
        VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 20.0), ('mid', 20.0, 35.0), ('big', 35.0, 50.0)
    ) AS b(bucket_name, lo, hi)
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.bucket_name
    """,
    extra=True,
)
def a09_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join through the bucketed equi-join rewrite
    (operators/joins.py range_join): intervals explode across buckets,
    points hash-join on bucket id — no nested-loop, co-partitioned at
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    buckets = spark.createDataFrame(
        [("tiny", 0.0, 10.0), ("small", 10.0, 20.0), ("mid", 20.0, 35.0), ("big", 35.0, 50.0)],
        ["bucket_name", "lo", "hi"],
    )
    # half-open [lo, hi): shrink hi by an epsilon smaller than the
    # 2-decimal data resolution to reuse the closed-interval operator
    joined = range_join(
        li,
        buckets.withColumn("hi", F.col("hi") - F.lit(0.001)),
        left_point="l_quantity",
        right_lo="lo",
        right_hi="hi",
        bucket_width=8.0,
    )
    return joined.groupBy("bucket_name").agg(
        F.count("*").alias("n_items"), dec_sum("l_extendedprice").alias("revenue")
    )


# ---------------------------------------------------------------------------
# Array / regexp / histogram / min_by
# ---------------------------------------------------------------------------


@query(
    "a10_array_agg",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list(s_name ORDER BY s_name), ',') AS suppliers,
           COUNT(*) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
    extra=True,
)
def a10_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: collect + sort (collect order
    is nondeterministic, sort_array canonicalizes), then joined to a
    string because the driver's canonicalizer cannot hash array cells."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias("suppliers"),
            F.count("*").alias("n_suppliers"),
        )
    )


@query(
    "a11_regexp",
    oracle="""
    SELECT regexp_extract(p_type, '^([a-z]+)', 1) AS type_head,
           COUNT(*) AS n_parts,
           MAX(regexp_replace(p_name, '[aeiou]', '', 'g')) AS max_consonant_name
    FROM part GROUP BY regexp_extract(p_type, '^([a-z]+)', 1)
    """,
    extra=True,
)
def a11_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp extract/replace surface (patterns restricted to the
    RE2/Java-regex common subset so both engines agree)."""
    part = load_table(spark, sf_dir, "part")
    head = F.regexp_extract("p_type", r"^([a-z]+)", 1).alias("type_head")
    return part.groupBy(head).agg(
        F.count("*").alias("n_parts"),
        F.max(F.regexp_replace("p_name", "[aeiou]", "")).alias("max_consonant_name"),
    )


@query(
    "a12_histogram",
    oracle=f"""
    SELECT CAST(floor((o_totalprice - 0) / 50000.0) AS BIGINT) AS price_bucket,
           COUNT(*) AS n_orders,
           {oracle_dec_sum('o_totalprice')} AS bucket_revenue
    FROM orders GROUP BY floor((o_totalprice - 0) / 50000.0)
    """,
    extra=True,
)
def a12_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via arithmetic bucketing (identical float
    ops both sides -> identical bucket ids)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor((F.col("o_totalprice") - 0) / 50000.0).cast("bigint").alias("price_bucket")
    return orders.groupBy(bucket).agg(
        F.count("*").alias("n_orders"), dec_sum("o_totalprice").alias("bucket_revenue")
    )


@query(
    "a13_min_max_by",
    oracle="""
    SELECT c_mktsegment,
           MAX(CASE WHEN rn_desc = 1 THEN c_custkey END) AS richest_custkey,
           MAX(CASE WHEN rn_asc = 1 THEN c_custkey END) AS poorest_custkey,
           MAX(c_acctbal) AS max_bal
    FROM (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey DESC) AS rn_desc,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS rn_asc
        FROM customer
    ) GROUP BY c_mktsegment
    """,
    extra=True,
)
def a13_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX_BY/MIN_BY with a composite (value, key) ordering struct so
    ties break deterministically on both engines."""
    cust = load_table(spark, sf_dir, "customer")
    ordering = F.struct("c_acctbal", "c_custkey")
    return cust.groupBy("c_mktsegment").agg(
        F.max_by("c_custkey", ordering).alias("richest_custkey"),
        F.min_by("c_custkey", ordering).alias("poorest_custkey"),
        F.max("c_acctbal").alias("max_bal"),
    )


# ---------------------------------------------------------------------------
# Multimodal (binary payload) with SQL oracle
# ---------------------------------------------------------------------------


@query(
    "a14_multimodal_meta",
    oracle="""
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
           COUNT(*) AS n_media,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           MIN(sha256(text)) AS min_sha
    FROM documents
    GROUP BY CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END
    """,
)
def a14_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column conventions: opaque binary payload + typed
    metadata; metadata-only aggregation never touches payload bytes
    (column pruning drops them at the scan)."""
    media = synth_media_from_documents(load_table(spark, sf_dir, "documents"))
    return media.groupBy("modality").agg(
        F.count("*").alias("n_media"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.min(F.sha2(F.col("payload"), 256)).alias("min_sha"),
    )


# ---------------------------------------------------------------------------
# Python UDTF surface (LATERAL table function)
# ---------------------------------------------------------------------------


@query(
    "a15_udtf_tokenize",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, tk[i] AS token,
           CAST(len(tk[i]) AS INT) AS n_chars
    FROM toks, UNNEST(generate_series(1, len(tk))) AS u(i)
    """,
    extra=True,
)
def a15_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via SQL LATERAL join: the reference's mapfn contract
    (one record -> N records, `/root/reference/kaylee/client.py:190-202`)
    as a first-class SQL table function. The hash gate proves the
    Python generator's emission order/content matches the pure SQL
    unnest algebra. Hot paths should use the codegen twin
    (posexplode(split(...))) — see functions/udtfs.py module doc."""
    from kaylee_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("a15_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token, t.n_chars "
        "FROM a15_docs d, LATERAL tokenize_pos(d.text) t"
    )


@query(
    "a34_polymorphic_udtf",
    oracle="""
    WITH rec AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               json_extract_string(props, '$.tag') AS tag
        FROM events
        WHERE props IS NOT NULL AND json_valid(props)
    )
    SELECT k % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(COUNT(tag) AS BIGINT) AS n_tagged
    FROM rec
    GROUP BY k % 10
    """,
)
def a34_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 analyze-time schema, VERDICT
    r10 item 7): ``explode_typed_records('k:bigint,tag:string', props)``
    derives its output schema from the constant field-spec DURING
    PLANNING — ``analyze`` runs once on the driver, so the aggregate
    below operates on real typed columns (k bigint, tag string) with
    no registration-time returnType anywhere; one registration serves
    every payload layout in the lake (a15's tokenize_pos, by contrast,
    is fixed-schema). The requested ``tag`` key is absent from the
    fixture's props, proving the typed-NULL path end-to-end
    (n_tagged = 0 in every bucket — counted, not assumed). The oracle
    replays the extraction with json_extract on the same constants.

    The input is repartitioned to the session's parallelism before the
    lateral: a Python-bound stage must be sized by CORES, not by scan
    splits — the fixture arrives as one file (2 splits), which left 30
    of 32 cores idle through the UDTF (measured 13.0 s -> 2.1 s at
    sf0.1). At 100 TB the scan has more splits than cores and the
    exchange folds into the shuffle budget the pre-agg pays anyway."""
    from kaylee_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    ).createOrReplaceTempView("a34_events")
    return spark.sql(
        "SELECT t.k % 10 AS k_bucket, COUNT(*) AS n_events, "
        "MIN(t.k) AS min_k, MAX(t.k) AS max_k, COUNT(t.tag) AS n_tagged "
        "FROM a34_events e, "
        "LATERAL explode_typed_records('k:bigint,tag:string', e.props) t "
        "GROUP BY t.k % 10"
    )


@query(
    "a35_arrow_batch_stats",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_segments
    FROM documents
    """,
    extra=True,
)
def a35_arrow_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow per-document profile (functions/pandas_udfs.
    arrow_doc_stats): the batch crosses into Python as a pyarrow
    RecordBatch and every transform is a vectorized Arrow C++ kernel —
    no pandas materialization anywhere, the lowest-overhead Python
    hook Spark offers and the last rung of the UDF ladder this engine
    ships (UDTF lateral a15/a34, scalar/grouped pandas t06/t07,
    applyInPandas, applyInPandasWithState e20, mapInPandas a32/a33,
    DataSource m04-m06 + results writer). The oracle replays the
    kernels exactly: binary_length = strlen (DuckDB's byte length), split_pattern(' ')
    segment count = len(string_split))."""
    from kaylee_spark.functions.pandas_udfs import arrow_doc_stats

    return arrow_doc_stats(load_table(spark, sf_dir, "documents"))


@query(
    "a16_fuzzy_join",
    oracle="""
    WITH corrupted AS (
        SELECT c_custkey AS probe_key,
               concat(substr(c_name, 1, 9), 'Z', substr(c_name, 11)) AS probe_name
        FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT probe_key, probe_name, c_custkey AS match_key, c_name AS match_name,
           CAST(levenshtein(probe_name, c_name) AS INT) AS edit_distance
    FROM corrupted, customer
    WHERE levenshtein(probe_name, c_name) <= 1
    """,
    extra=True,
)
def a16_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance join (entity resolution): every customer name is
    deterministically corrupted (one substituted character) and
    fuzzy-joined back against the clean names at levenshtein <= 1 —
    q-gram candidate buckets + threshold-levenshtein verify, never a
    cross join (operators/joins.py fuzzy_join). The DuckDB oracle IS
    the brute-force cross join, so the hash gate proves the q-gram
    filter loses no pairs."""
    from kaylee_spark.operators.joins import fuzzy_join

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    probes = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("probe_key"),
        F.concat(
            F.substring("c_name", 1, 9), F.lit("Z"), F.expr("substr(c_name, 11)")
        ).alias("probe_name"),
    )
    targets = cust.select(
        F.col("c_custkey").alias("match_key"), F.col("c_name").alias("match_name")
    )
    out = fuzzy_join(probes, targets, "probe_name", "match_name", max_dist=1, q=3)
    return out.withColumn("edit_distance", F.col("edit_distance").cast("int"))


# ---------------------------------------------------------------------------
# Profiling + outlier detection (round-5 third-session additions)
# ---------------------------------------------------------------------------


@query(
    "a17_zscore_outliers",
    oracle=f"""
    WITH s AS (
        SELECT event_type, COUNT(value) AS n,
               {oracle_dec_sum('value')} AS s1,
               {oracle_dec_sum('value * value')} AS s2
        FROM events GROUP BY event_type
    )
    SELECT * FROM (
        SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
               ROUND(CAST((e.value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)) AS DOUBLE), 6) AS zscore
        FROM events e JOIN s USING (event_type)
        WHERE s2 / n - (s1 / n) * (s1 / n) > 0
    )
    WHERE abs(zscore) >= 3.0
    """,
    extra=True,
)
def a17_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| >= 3): exact decimal
    moments -> broadcast stats -> codegen'd per-row cut
    (operators/profiling-adjacent analytics.zscore_outliers). The
    telemetry-cleaning gate: one scan, one tiny agg, no window."""
    from kaylee_spark.operators.analytics import zscore_outliers

    ev = load_table(spark, sf_dir, "events")
    out = zscore_outliers(ev, value_col="value", group_col="event_type", threshold=3.0)
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props", "zscore")


@query(
    "a18_table_profile",
    oracle="""
    SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows, COUNT(*) - COUNT(doc_id) AS n_nulls,
           COUNT(DISTINCT doc_id) AS n_distinct,
           CAST(MIN(doc_id) AS DOUBLE) AS min_value, CAST(MAX(doc_id) AS DOUBLE) AS max_value
    FROM documents
    UNION ALL
    SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM documents
    UNION ALL
    SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS DOUBLE), CAST(MAX(n_chars) AS DOUBLE) FROM documents
    """,
    extra=True,
)
def a18_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the documents corpus: completeness,
    exact cardinality, numeric ranges — ONE scan, one fused aggregate
    row exploded long-format (operators/profiling.py profile_table;
    the oracle's five scans are the semantics, not the plan)."""
    from kaylee_spark.operators.profiling import profile_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_table(docs)


@query(
    "a19_dq_report",
    oracle="""
    SELECT 'not_null:o_custkey' AS rule,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'range:o_totalprice',
           CAST(SUM(CASE WHEN o_totalprice < 1000.0 OR o_totalprice > 300000.0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'accepted:o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey',
           CAST(COUNT(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
                - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'fk:o_custkey->c_custkey',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
    extra=True,
)
def a19_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over orders: null/range/
    accepted-values/uniqueness rules fused into ONE scan aggregate,
    plus an ids-only broadcast anti-join FK check against customer
    (operators/dq.py dq_report; the oracle's five scans are the
    semantics, not the plan). Mix of zero and non-zero violation
    counts so both outcomes are hash-verified."""
    from kaylee_spark.operators.dq import dq_report

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return dq_report(
        orders,
        not_null=["o_custkey"],
        unique=[["o_orderkey"]],
        ranges={"o_totalprice": (1000.0, 300000.0)},
        accepted={"o_orderstatus": ["O", "F"]},
        fk=[("o_custkey", customer, "c_custkey")],
    )


@query(
    "a20_skew_report",
    oracle="""
    WITH c AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_suppkey
    ),
    t AS (SELECT SUM(n_rows) AS total FROM c)
    SELECT l_suppkey, n_rows,
           ROUND(CAST(n_rows AS DOUBLE) / total, 6) AS pct_of_total,
           CAST(key_rank AS INT) AS key_rank
    FROM (
        SELECT l_suppkey, n_rows,
               ROW_NUMBER() OVER (ORDER BY n_rows DESC, l_suppkey) AS key_rank
        FROM c
    ) CROSS JOIN t
    WHERE key_rank <= 10
    """,
    extra=True,
)
def a20_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hottest lineitem supplier keys with share-of-table: the
    pre-join skew diagnostic (operators/skew.py skew_report). The
    combiner absorbs the skew being measured — the shuffle carries
    |distinct keys| rows, then a 1-row total broadcast and top-N."""
    from kaylee_spark.operators.skew import skew_report

    li = load_table(spark, sf_dir, "lineitem")
    out = skew_report(li, "l_suppkey", top_n=10)
    return out.withColumn("key_rank", F.col("key_rank").cast("int"))


@query(
    "a21_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, ROUND(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               ROUND(CAST(quantile_cont(abs(e.value - m.med), 0.5) AS DOUBLE), 6) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    ),
    rz AS (
        SELECT e.event_type, s.med, d.mad,
               ROUND(0.6745 * abs(e.value - s.med) / d.mad, 6) AS robust_z
        FROM events e
        JOIN med s USING (event_type)
        JOIN mad d USING (event_type)
        WHERE d.mad > 0
    )
    SELECT event_type, med, mad,
           CAST(COUNT(*) AS BIGINT) AS n_outliers,
           MAX(robust_z) AS max_robust_z
    FROM rz
    WHERE robust_z >= 3.5
    GROUP BY event_type, med, mad
    """,
    extra=True,
)
def a21_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier summary via median/MAD modified z-score
    (operators/analytics.mad_outliers) — the 50%-breakdown-point
    companion to a17's mean/stddev gate: contamination can't drag the
    cut line. Two tiny group aggregates broadcast back onto one scan."""
    from kaylee_spark.operators.analytics import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    out = mad_outliers(ev, value_col="value", group_col="event_type", threshold=3.5)
    return out.groupBy("event_type", "med", "mad").agg(
        F.count("*").alias("n_outliers"),
        F.max("robust_z").alias("max_robust_z"),
    )


@query(
    "a22_equidepth_histogram",
    oracle="""
    WITH b AS (
        SELECT event_type,
               list_transform(quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                              x -> ROUND(x, 6)) AS bounds
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(1 + (e.value > b.bounds[1])::INT + (e.value > b.bounds[2])::INT
                  + (e.value > b.bounds[3])::INT + (e.value > b.bounds[4])::INT
                  + (e.value > b.bounds[5])::INT + (e.value > b.bounds[6])::INT
                  + (e.value > b.bounds[7])::INT + (e.value > b.bounds[8])::INT
                  + (e.value > b.bounds[9])::INT AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(e.value) AS min_value,
           MAX(e.value) AS max_value
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type, bucket
    """,
    extra=True,
)
def a22_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 10-bucket equi-depth histogram of event values
    (operators/profiling.equidepth_histogram): interpolated decile
    boundaries from one holistic agg broadcast back onto the scan,
    assignment by comparison arithmetic — no NTILE global sort."""
    from kaylee_spark.operators.profiling import equidepth_histogram

    ev = load_table(spark, sf_dir, "events")
    out = equidepth_histogram(ev, "value", "event_type", 10)
    return out.withColumn("bucket", F.col("bucket").cast("int"))


@query(
    "a23_media_probe",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'application/octet-stream' END AS mime,
           CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 1024 AS INT) END AS width,
           CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 768 AS INT) END AS height,
           CASE WHEN doc_id % 3 = 1
                THEN CAST((1000 + doc_id % 50000) * 1000
                          // (8000 + (doc_id % 32) * 1000) AS BIGINT)
           END AS duration_ms,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 24
                     WHEN doc_id % 3 = 1 THEN 44
                     ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes
    FROM documents
    """,
    extra=True,
)
def a23_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hash gate for the Arrow-batched mapInPandas media
    path: codegen-built REAL container headers (PNG IHDR / WAV
    RIFF-fmt-data, operators/multimodal.synth_media_with_headers) are
    parsed back by probe_media's stdlib struct sniffing, and the
    oracle knows only the generator's ARITHMETIC — the round-trip
    generator -> bytes -> parse -> fields must equal it exactly.
    Video rows carry no known magic and must keep ingest meta (the
    unknown-payload fallback)."""
    from kaylee_spark.operators.multimodal import probe_media, synth_media_with_headers

    media = synth_media_with_headers(load_table(spark, sf_dir, "documents"))
    probed = probe_media(media)
    return probed.select(
        "media_id",
        "modality",
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@query(
    "a32_png_pixel_stats",
    oracle="""
    WITH imgs AS (
        SELECT doc_id AS media_id, doc_id % 251 AS seed,
               4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h
        FROM documents WHERE doc_id % 3 = 0
    ),
    px AS (
        SELECT media_id, ch.c AS channel,
               (seed + 3*xs.x + 5*ys.y + 11*ch.c) % 256 AS v
        FROM imgs,
             LATERAL (SELECT UNNEST(range(w)) AS x) xs,
             LATERAL (SELECT UNNEST(range(h)) AS y) ys,
             (SELECT UNNEST([0,1,2]) AS c) ch
    )
    SELECT media_id, CAST(channel AS INT) AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(MIN(v) AS INT) AS min_v,
           CAST(MAX(v) AS INT) AS max_v
    FROM px GROUP BY media_id, channel
    """,
    extra=True,
)
def a32_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIXEL-LEVEL image decode, end-to-end and hash-gated (closes the
    last env-blocked decode stub for the one format stdlib can carry):
    synth_png_media builds FULL PNGs — zlib-compressed IDAT, scanline
    filters cycling through all five W3C types, CRC'd chunks — from
    pure doc_id arithmetic, and decode_image_stats decodes them back
    (operators/multimodal.png_decode_rgb: chunk walk -> decompress ->
    per-filter unfilter) into per-channel integer statistics. The
    oracle never sees a byte: it replays the pixel formula
    (seed + 3x + 5y + 11c) % 256 over the (w, h) lattice, so the hash
    only matches if compression, filtering, and reconstruction are
    all exact. The stats shape (count/sum/extrema per channel) is the
    mergeable form an image-corpus quality pass persists; at 100 TB
    the decode stays inside Arrow batches, 3 output rows per image."""
    from kaylee_spark.operators.multimodal import decode_image_stats, synth_png_media

    media = synth_png_media(load_table(spark, sf_dir, "documents"))
    return decode_image_stats(media)


@query(
    "a33_wav_sample_stats",
    oracle="""
    WITH auds AS (
        SELECT doc_id AS media_id, doc_id % 1009 AS seed,
               64 + doc_id % 937 AS n
        FROM documents WHERE doc_id % 3 = 1
    ),
    s AS (
        SELECT media_id,
               ((seed + 13*i.i + 7*i.i*i.i) % 65536) - 32768 AS v
        FROM auds, LATERAL (SELECT UNNEST(range(n)) AS i) i
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(SUM(v*v) AS BIGINT) AS sum_sq,
           CAST(MIN(v) AS INT) AS min_v,
           CAST(MAX(v) AS INT) AS max_v
    FROM s GROUP BY media_id
    """,
    extra=True,
)
def a33_wav_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-LEVEL audio decode, end-to-end and hash-gated — the
    audio twin of a32: synth_wav_media builds FULL PCM WAVs (RIFF/fmt/
    data, 16-bit mono, samples from pure doc_id arithmetic) and
    decode_audio_stats decodes them back (operators/multimodal.
    wav_decode_pcm16, stdlib struct — PCM is the one audio format
    that needs no codec library) into exact integer statistics incl.
    sum-of-squares (the loudness/clipping screen an audio curation
    pass runs). The oracle replays the sample formula over the
    per-doc range without seeing a byte; env-blocked decode now means
    COMPRESSED codecs only."""
    from kaylee_spark.operators.multimodal import decode_audio_stats, synth_wav_media

    media = synth_wav_media(load_table(spark, sf_dir, "documents"))
    return decode_audio_stats(media)


@query(
    "a24_spearman_corr",
    oracle="""
    WITH r AS (
        SELECT l_returnflag, l_linestatus,
               2 * RANK() OVER (PARTITION BY l_returnflag, l_linestatus
                                ORDER BY l_quantity)
                 + COUNT(*) OVER (PARTITION BY l_returnflag, l_linestatus
                                  ORDER BY l_quantity
                                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
                 - 1 AS rx,
               2 * RANK() OVER (PARTITION BY l_returnflag, l_linestatus
                                ORDER BY l_extendedprice)
                 + COUNT(*) OVER (PARTITION BY l_returnflag, l_linestatus
                                  ORDER BY l_extendedprice
                                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
                 - 1 AS ry
        FROM lineitem
    ), s AS (
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy,
               CAST(SUM(rx * ry) AS BIGINT) AS sxy
        FROM r GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, n,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                           6)
           END AS spearman_rho
    FROM s
    """,
    extra=True,
)
def a24_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(returnflag, linestatus) Spearman rank correlation between
    quantity and extended price, average-rank tie handling. Ranks are
    exact integers (doubled to keep tie halves integral), the
    sufficient statistics are exact BIGINT sums, and the final
    Pearson-on-ranks combination is a fixed chain of single IEEE ops —
    so the oracle bit-matches despite being a float statistic
    (operators/profiling.py spearman_corr)."""
    from kaylee_spark.operators.profiling import spearman_corr

    li = load_table(spark, sf_dir, "lineitem")
    return spearman_corr(
        li, "l_quantity", "l_extendedprice", ["l_returnflag", "l_linestatus"]
    ).select("l_returnflag", "l_linestatus", "n", "spearman_rho")


@query(
    "a25_association_rules",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ), freq AS (
        SELECT item, COUNT(*) AS n_item FROM items
        GROUP BY item HAVING COUNT(*) >= 10
    ), kept AS (
        SELECT i.bk, i.item FROM items i JOIN freq f ON i.item = f.item
    ), pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_both
        FROM kept a JOIN kept b ON a.bk = b.bk AND a.item < b.item
        GROUP BY a.item, b.item HAVING COUNT(*) >= 3
    ), tot AS (SELECT COUNT(DISTINCT bk) AS n_orders FROM items)
    SELECT item_a, item_b, n_both,
           fa.n_item AS n_a, fb.n_item AS n_b,
           ROUND(CAST(n_both AS DOUBLE) / CAST(fa.n_item AS DOUBLE), 6)
               AS confidence_a_to_b,
           ROUND(CAST(n_both AS DOUBLE) / CAST(fb.n_item AS DOUBLE), 6)
               AS confidence_b_to_a,
           ROUND((CAST(n_both AS DOUBLE) * CAST(tot.n_orders AS DOUBLE))
                 / (CAST(fa.n_item AS DOUBLE) * CAST(fb.n_item AS DOUBLE)), 6)
               AS lift
    FROM pairs
    JOIN freq fa ON pairs.item_a = fa.item
    JOIN freq fb ON pairs.item_b = fb.item
    CROSS JOIN tot
    """,
    extra=True,
)
def a25_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: part pairs
    co-ordered in >= 3 orders, with support, directional confidence,
    and lift. The apriori prune (items in >= 10 orders, broadcast
    semi-join) bounds the basket-keyed pair self-join BEFORE
    expansion; the basket total is driver-folded into the plan as a
    literal (operators/analytics.py association_rules)."""
    from kaylee_spark.operators.analytics import association_rules

    li = load_table(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey",
        min_item_support=10, min_pair_support=3,
    )


def _welch_oracle() -> str:
    from kaylee_spark.operators.analytics import welch_final_exprs

    finals = ",\n           ".join(welch_final_exprs())
    return f"""
    WITH stats AS (
        SELECT event_type AS grp,
               COUNT(value) AS n,
               SUM(CAST(value AS DECIMAL(18,2))) AS s,
               SUM(CAST(value * value AS DECIMAL(38,4))) AS q
        FROM events GROUP BY event_type
    ),
    ctl AS (
        SELECT n AS n2, s AS s2_, q AS q2 FROM stats WHERE grp = 'view'
    )
    SELECT grp, n1, n2,
           {finals}
    FROM (SELECT grp, n AS n1, s AS s1, q AS q1 FROM stats WHERE grp <> 'view')
    CROSS JOIN ctl
    """


@query("a26_welch_ttest", oracle=_welch_oracle())
def a26_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's unequal-variance t-test of every
    event type's value distribution against the 'view' control arm —
    mean lift, t statistic, Welch-Satterthwaite degrees of freedom,
    and the |t| > 1.96 significance screen. Exact decimal moments
    collapse the table to one row per arm in a single map-side-
    combined aggregate; the 1-row control then cross-joins the tiny
    arm frame, and the ratio tree (welch_final_exprs) is shared
    verbatim with the oracle (operators/analytics.py welch_ttest)."""
    from kaylee_spark.operators.analytics import welch_ttest

    ev = load_table(spark, sf_dir, "events")
    return welch_ttest(ev, "value", "event_type", control="view")


def _benford_oracle() -> str:
    from kaylee_spark.operators.analytics import benford_exprs

    finals = ",\n           ".join(benford_exprs())
    counts = ",\n               ".join(
        f"CAST(COUNT(*) FILTER (WHERE d = {d}) AS BIGINT) AS o{d}"
        for d in range(1, 10)
    )
    return f"""
    WITH cents AS (
        SELECT l_suppkey,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM lineitem
    ),
    digits AS (
        SELECT l_suppkey, CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS d
        FROM cents WHERE c > 0
    ),
    agged AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
               {counts}
        FROM digits GROUP BY l_suppkey
    )
    SELECT l_suppkey, n, {", ".join(f"o{d}" for d in range(1, 10))},
           {finals}
    FROM agged
    """


@query("a27_benford_screen", oracle=_benford_oracle(), extra=True)
def a27_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forensic first-digit screen: each supplier's extended prices
    against Benford's law — nine pivoted exact digit counts per
    supplier from ONE map-side-combined aggregate, chi-square as a
    flat literal chain over those columns (never a digit-row double
    sum), flagged past the 8-dof 1% critical value. Digit extraction
    renders the exact bigint cents, the engine-invariant path
    (operators/analytics.py benford_screen)."""
    from kaylee_spark.operators.analytics import benford_screen

    li = load_table(spark, sf_dir, "lineitem")
    return benford_screen(li, "l_extendedprice", "l_suppkey")


def _bootstrap_oracle() -> str:
    from kaylee_spark.operators.analytics import bootstrap_weight_sql

    w = bootstrap_weight_sql("o_orderkey", "rep", 32)
    return f"""
    WITH reps AS (SELECT UNNEST(generate_series(0, 31)) AS rep),
    weighted AS (
        SELECT o_orderpriority AS grp, rep,
               CAST({w} AS BIGINT) AS w, o_totalprice AS val
        FROM orders CROSS JOIN reps
    ),
    base AS (
        SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS point_mean
        FROM orders GROUP BY o_orderpriority
    ),
    means AS (
        -- all-zero-weight replicate collapses to the point mean (the
        -- engine's degenerate-replicate guard): list length stays
        -- exactly |replicates|, so ms[2]/ms[31] are well-defined
        SELECT w.grp, w.rep,
               CASE WHEN SUM(w.w) > 0
                    THEN ROUND(CAST(SUM(CAST(w.w * w.val AS DECIMAL(18,2))) AS DOUBLE)
                               / CAST(SUM(w.w) AS DOUBLE), 6)
                    ELSE MAX(b.point_mean) END AS mean_r
        FROM weighted w JOIN base b USING (grp)
        GROUP BY w.grp, w.rep
    ),
    ci AS (
        SELECT grp, list_sort(list(mean_r)) AS ms FROM means GROUP BY grp
    )
    SELECT b.grp, b.n_rows, b.point_mean, ms[2] AS ci_lo, ms[31] AS ci_hi
    FROM base b JOIN ci USING (grp)
    """


@query("a28_bootstrap_ci", oracle=_bootstrap_oracle())
def a28_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value
    per priority — the uncertainty quantification that actually runs
    at 100 TB (one scan, all 32 replicates as map-side-combined
    weighted partial sums; the classical resample-per-replicate
    bootstrap would be 32 shuffles of the full table). Weights are
    deterministic integer minstd draws inverse-CDF'd through integer
    thresholds, so the oracle replays the identical replicate means
    bit-for-bit (operators/analytics.py poisson_bootstrap_ci)."""
    from kaylee_spark.operators.analytics import poisson_bootstrap_ci

    orders = load_table(spark, sf_dir, "orders")
    return poisson_bootstrap_ci(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", replicates=32
    )


@query(
    "a29_unpivot",
    oracle=f"""
    WITH wide AS (
        SELECT n.n_name,
               {oracle_dec_sum('c.c_acctbal')} AS cust_acctbal,
               CAST(COUNT(*) AS DOUBLE) AS n_customers
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    wide2 AS (
        SELECT w.n_name, w.cust_acctbal, w.n_customers,
               {oracle_dec_sum('s.s_acctbal')} AS supp_acctbal,
               CAST(COUNT(*) AS DOUBLE) AS n_suppliers
        FROM wide w
        JOIN nation n ON n.n_name = w.n_name
        JOIN supplier s ON s.s_nationkey = n.n_nationkey
        GROUP BY w.n_name, w.cust_acctbal, w.n_customers
    )
    UNPIVOT wide2
    ON cust_acctbal, n_customers, supp_acctbal, n_suppliers
    INTO NAME measure VALUE value
    """,
    extra=True,
)
def a29_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT (melt): four per-nation measures fold into
    (n_name, measure, value) rows via the native DataFrame.unpivot —
    the inverse of a05's PIVOT, completing the reshaping pair. The
    wide frame is two group-keyed aggregates joined on the nation key;
    the unpivot itself is a row-local 4-way expansion of a
    |nations|-sized frame (no shuffle). Measures are exact decimal
    sums cast once to double so both engines melt identical bits."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    cust = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            dec_sum("c_acctbal").alias("cust_acctbal"),
            F.count(F.lit(1)).cast("double").alias("n_customers"),
        )
    )
    supp = (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            dec_sum("s_acctbal").alias("supp_acctbal"),
            F.count(F.lit(1)).cast("double").alias("n_suppliers"),
        )
    )
    wide = cust.join(supp, "n_name")
    return wide.unpivot(
        ["n_name"],
        ["cust_acctbal", "n_customers", "supp_acctbal", "n_suppliers"],
        "measure",
        "value",
    )


def _ks_oracle() -> str:
    from kaylee_spark.operators.analytics import KS_C2_DEN, KS_C2_NUM, KS_EXACT_NM_BOUND

    return f"""
    WITH arms AS (
        SELECT DISTINCT event_type AS grp FROM events WHERE event_type <> 'view'
    ),
    u AS (
        SELECT event_type AS grp, value AS v, 1 AS is_t
        FROM events WHERE event_type <> 'view' AND value IS NOT NULL
        UNION ALL
        SELECT a.grp, e.value AS v, 0 AS is_t
        FROM events e CROSS JOIN arms a
        WHERE e.event_type = 'view' AND e.value IS NOT NULL
    ),
    c AS (
        SELECT grp,
               SUM(is_t) OVER w AS i,
               SUM(1 - is_t) OVER w AS j,
               SUM(is_t) OVER t AS n,
               SUM(1 - is_t) OVER t AS m
        FROM u
        WINDOW w AS (PARTITION BY grp ORDER BY v
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               t AS (PARTITION BY grp)
    ),
    agg AS (
        SELECT grp, CAST(MAX(ABS(i * m - j * n)) AS BIGINT) AS ks_num,
               CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(m) AS BIGINT) AS m
        FROM c GROUP BY grp
    )
    SELECT grp, n, m, ks_num, n * m AS ks_denom,
           CAST(ks_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)) AS ks_stat,
           -- mirror the engine's exact-decimal envelope: within it the
           -- integer compare, past it the SAME double compare (Spark's
           -- DECIMAL(38,0) lhs would overflow where HUGEINT survives)
           CASE WHEN CAST(n AS HUGEINT) * CAST(m AS HUGEINT) <= {KS_EXACT_NM_BOUND}
                THEN (CAST(ks_num AS HUGEINT) * CAST(ks_num AS HUGEINT) * {KS_C2_DEN} >
                      {KS_C2_NUM} * CAST(n + m AS HUGEINT) * CAST(n AS HUGEINT)
                      * CAST(m AS HUGEINT))
                ELSE (CAST(ks_num AS DOUBLE) * CAST(ks_num AS DOUBLE) * {float(KS_C2_DEN)!r} >
                      {float(KS_C2_NUM)!r} * CAST(n + m AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(m AS DOUBLE))
           END AS significant
    FROM agg
    """


@query("a30_ks_test", oracle=_ks_oracle(), extra=True)
def a30_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distribution-shift test of
    every event type's value distribution against the 'view' control
    arm — the shape-sensitive companion to a26's Welch mean test. The
    KS statistic is an exact rational max|i*m - j*n|/(n*m) over the
    pooled CDF walk, and the 5% significance screen is an integer
    comparison (no sqrt to ulp-flip). One broadcast arm fan-out of the
    control sample, then ONE group-keyed exchange carries the CDF
    sort, both cumulative windows, and the max-aggregate
    (operators/analytics.py ks_two_sample)."""
    from kaylee_spark.operators.analytics import ks_two_sample

    ev = load_table(spark, sf_dir, "events")
    return ks_two_sample(ev, "value", "event_type", control="view")


def _psi_oracle() -> str:
    from kaylee_spark.operators.analytics import PSI_BIN_EDGES, psi_final_exprs

    n_bins = len(PSI_BIN_EDGES) + 1
    bin_case = "0"
    for i, e in enumerate(PSI_BIN_EDGES):
        bin_case = f"CASE WHEN value < {float(e)!r} THEN {bin_case} ELSE {i + 1} END"
    counts = ",\n               ".join(
        f"CAST(COUNT(CASE WHEN {'' if s == 'a' else 'NOT '}is_a AND bin = {i} THEN 1 END) AS BIGINT) AS {s}{i}"
        for i in range(n_bins)
        for s in ("a", "b")
    )
    finals = ",\n           ".join(psi_final_exprs(n_bins))
    cols = ", ".join(f"{s}{i}" for i in range(n_bins) for s in ("a", "b"))
    return f"""
    WITH binned AS (
        SELECT event_type AS grp,
               (ts < TIMESTAMP '2024-01-16 00:00:00') AS is_a,
               {bin_case} AS bin
        FROM events WHERE value IS NOT NULL
    ),
    pivoted AS (
        SELECT grp,
               CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS na,
               CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS nb,
               {counts}
        FROM binned GROUP BY grp
    )
    SELECT grp, na, nb, {cols},
           {finals}
    FROM pivoted
    """


@query("a31_psi_drift", oracle=_psi_oracle(), extra=True)
def a31_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: each event type's
    value distribution in the first half of January vs the second,
    over 8 fixed log-spaced bins with add-1 smoothing — PSI > 0.2
    flags the shift (operators/analytics.py psi_drift). One map-side-
    combined aggregate pivots 16 exact bin counts per type; the PSI is
    a flat literal chain with each ln-ratio quantized to 6dp decimal
    (the a27 pivot + t17 ln recipe). Bin counts are mergeable partials
    — the form a 100 TB monitoring pipeline persists per day and
    merges across shards."""
    from kaylee_spark.operators.analytics import psi_drift

    ev = load_table(spark, sf_dir, "events").withColumn(
        "is_a", F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")
    )
    return psi_drift(ev, "value", "event_type", "is_a")


@query(
    "a36_mann_whitney",
    oracle="""
    WITH base AS (
        SELECT event_type AS grp, CAST(value AS DECIMAL(18,2)) AS v
        FROM events WHERE value IS NOT NULL
    ),
    ctrl AS (SELECT v, COUNT(*) AS c2 FROM base WHERE grp = 'view' GROUP BY v),
    arms AS (SELECT grp, v, COUNT(*) AS c1 FROM base WHERE grp <> 'view'
             GROUP BY grp, v),
    grps AS (SELECT DISTINCT grp FROM arms),
    pooled AS (
        SELECT grp, v, SUM(c1) AS c1, SUM(c2) AS c2 FROM (
            SELECT grp, v, c1, 0 AS c2 FROM arms
            UNION ALL
            SELECT g.grp, c.v, 0, c.c2 FROM grps g CROSS JOIN ctrl c
        ) GROUP BY grp, v
    ),
    scored AS (
        SELECT grp, c1, c2,
               COALESCE(SUM(c2) OVER (PARTITION BY grp ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum2
        FROM pooled
    ),
    agg AS (
        SELECT grp,
               CAST(SUM(c1) AS HUGEINT) AS n1,
               CAST(SUM(c2) AS HUGEINT) AS n2,
               CAST(SUM(c1 * (2 * cum2 + c2)) AS HUGEINT) AS u2x,
               CAST(SUM((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))
                    AS HUGEINT) AS tcorr
        FROM scored GROUP BY grp
    )
    SELECT grp,
           CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(u2x AS DOUBLE) / 2 AS u1,
           ((u2x - n1 * n2) * (u2x - n1 * n2) * 3 * (n1 + n2)
                * (n1 + n2 - 1) * 10000
            > 38416 * n1 * n2
                * ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - tcorr))
               AS significant
    FROM agg
    """,
)
def a36_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test of every event type's value
    distribution against the 'view' control arm — the rank-based
    median-shift screen completing the nonparametric shelf beside
    a30's KS (shape) and a26's Welch (means). RANK-FREE: no global
    sort of the fact table — 2·U1 is counted from per-distinct-value
    histograms (one map-side-combined aggregate) plus one cumulative
    window over the distinct VALUES only; the 5% verdict is the
    integer comparison of denominator-cleared tie-corrected variance
    terms, sqrt-free and division-free exactly like the KS screen
    (operators/analytics.py mann_whitney_u)."""
    from kaylee_spark.operators.analytics import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", control="view")


def _hll_oracle(rel_bound: float = 0.2) -> str:
    from kaylee_spark.operators.analytics import (
        HLL_ALPHA_NUM_SQL,
        HLL_M,
        HLL_WBITS,
        hll_bitlen_sql,
    )

    m, wb = HLL_M, HLL_WBITS
    raw = f"({HLL_ALPHA_NUM_SQL}) / CAST(s_total AS DOUBLE)"
    return f"""
    WITH base AS (
        SELECT event_type AS grp, CAST(ts AS DATE) AS day, user_id AS uid
        FROM events
    ),
    hashed AS (
        SELECT grp, day,
               ((((uid + 1) * (uid + 1)) % 2147483647) * 2654435761)
                   % 2147483647 AS h
        FROM base
    ),
    rho AS (
        SELECT grp, day, h % {m} AS idx,
               {wb + 1} - ({hll_bitlen_sql(f'((h // {m}) % {1 << wb})')}) AS rho
        FROM hashed
    ),
    day_regs AS (
        SELECT grp, day, idx, MAX(rho) AS m_day FROM rho GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT grp, idx, MAX(m_day) AS m_merged FROM day_regs GROUP BY 1, 2
    ),
    direct AS (
        SELECT grp, idx, MAX(rho) AS m_direct FROM rho GROUP BY 1, 2
    ),
    per_grp AS (
        SELECT mm.grp,
               COUNT(*) AS n_present,
               SUM(1 << ({wb + 1} - mm.m_merged)) AS s_present,
               SUM(ABS(mm.m_merged - d.m_direct)) AS m_delta
        FROM merged mm JOIN direct d ON d.grp = mm.grp AND d.idx = mm.idx
        GROUP BY mm.grp
    ),
    exact AS (SELECT grp, COUNT(DISTINCT uid) AS n_exact FROM base GROUP BY grp),
    scored AS (
        SELECT p.grp, e.n_exact, p.m_delta,
               p.s_present + ({m} - p.n_present) * {1 << (wb + 1)} AS s_total,
               {m} - p.n_present AS v_empty
        FROM per_grp p JOIN exact e ON e.grp = p.grp
    ),
    est AS (
        SELECT grp, CAST(n_exact AS BIGINT) AS n_exact, m_delta,
               ROUND(CASE WHEN {raw} < {2.5 * m} AND v_empty > 0
                          THEN {float(m)} * ROUND(ln({float(m)} / CAST(v_empty AS DOUBLE)), 6)
                          ELSE {raw} END, 6) AS estimate
        FROM scored
    )
    SELECT grp, n_exact, estimate,
           (ABS(estimate - CAST(n_exact AS DOUBLE))
                <= {rel_bound} * CAST(n_exact AS DOUBLE)) AS within_bound,
           (m_delta = 0) AS merge_exact
    FROM est
    """


@query("a37_hll_distinct_store", oracle=_hll_oracle())
def a37_hll_distinct_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user store: per (event_type, day)
    register shards merged across days by element-wise MAX — the
    mergeable monitoring-store pattern (a31/e31's PSI shelf, for
    distincts): persist 256 small integers per group per day, answer
    any date window's distinct estimate from stored shards with NO
    fact rescan. Unlike a02's opaque built-in sketch bytes, every
    register here is portable integer arithmetic the oracle re-derives
    bit-for-bit (multiplicative hash, CASE-chain bit length — no float
    log2); the oracle also re-proves the merge law (day-merged
    registers ≡ direct-from-raw) and the estimate's 20% error bound.
    The fixture exercises both estimator branches: linear counting at
    sf0.001/0.01 (15/150 users), the harmonic HLL path at sf0.1 (1500)
    (operators/analytics.py hll_distinct_store)."""
    from kaylee_spark.operators.analytics import hll_distinct_store

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct_store(ev, "user_id", "event_type")


@query(
    "a38_interval_overlap_join",
    oracle="""
    WITH sec AS (
        SELECT user_id, event_type, event_id, value,
               CAST(ts AS DATE) AS day,
               datediff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS s
        FROM events
    ),
    intervals AS (
        SELECT user_id, day, MIN(s) AS lo, MAX(s) AS hi
        FROM sec GROUP BY user_id, day
    ),
    incidents AS (
        SELECT event_id AS incident_id, s AS ilo, s + 7200 AS ihi
        FROM sec WHERE event_type = 'error' AND value > 200
    )
    SELECT i.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(LEAST(i.hi, x.ihi) - GREATEST(i.lo, x.ilo)) AS BIGINT)
               AS overlap_seconds
    FROM intervals i
    JOIN incidents x ON i.lo <= x.ihi AND x.ilo <= i.hi
    GROUP BY i.user_id
    """,
)
def a38_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join — per-user daily activity spans
    against severe-incident windows (error events with value > 200,
    each open for 2 h): how often and for how long was each user
    active DURING an incident. The oracle states the plain inequality
    join; the engine's plan is the exploded-bucket equi-join (6 h
    buckets on exact integer seconds) with the FIRST-overlap-bucket
    row-local dedup — exactly-once pairs with no distinct pass and no
    nested loop over fact×fact
    (operators/joins.py interval_overlap_join). All arithmetic is
    integer epoch-seconds via timestampdiff from a fixed origin, so
    overlap durations hash bit-for-bit.

    100 TB: both exploded sides shuffle on the bucket id — a
    time-correlated, naturally balanced key; cost follows the
    range_join bucket law (width ~ interval length)."""
    from kaylee_spark.operators.joins import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    sec = ev.withColumn(
        "s",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"),
    ).withColumn("day", F.to_date("ts"))
    intervals = sec.groupBy("user_id", "day").agg(
        F.min("s").alias("lo"), F.max("s").alias("hi")
    )
    incidents = (
        sec.filter((F.col("event_type") == "error") & (F.col("value") > 200))
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("s").alias("ilo"),
            (F.col("s") + 7200).alias("ihi"),
        )
    )
    pairs = interval_overlap_join(
        intervals, incidents, "lo", "hi", "ilo", "ihi", bucket_width=21600
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum(
            F.least(F.col("hi"), F.col("ihi")) - F.greatest(F.col("lo"), F.col("ilo"))
        ).cast("bigint").alias("overlap_seconds"),
    )


_A39_ORACLE = """
    WITH c AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events
    ),
    shards AS (
        SELECT event_type, day, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2
        FROM c GROUP BY event_type, day
    ),
    merged AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s1) AS BIGINT) AS s1_cents,
               CAST(SUM(s2) AS BIGINT) AS s2_cents
        FROM shards GROUP BY event_type
    ),
    direct AS (
        SELECT event_type, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2
        FROM c GROUP BY event_type
    )
    SELECT m.event_type, m.n_days, m.n, m.s1_cents, m.s2_cents,
           (m.n = d.n AND m.s1_cents = d.s1 AND m.s2_cents = d.s2) AS merge_exact
    FROM merged m JOIN direct d USING (event_type)
    """


@query("a39_moment_store", oracle=_A39_ORACLE)
def a39_moment_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable mergeable MOMENT store (operators/analytics.
    moment_registers) — a37's pattern for mean/variance instead of
    cardinality: day shards hold exact integer power sums in cents
    (n, S1, S2), merged by plain ADDITION, so any window's mean and
    population variance derive from shard sums without rescanning
    history. The emitted row per event type carries the merged
    registers plus ``merge_exact`` — the in-query proof that
    day-sharded merge ≡ direct single-pass on the same engine (the
    re-shard invariance the mergeability claim rests on); the oracle
    replays both paths, so the hash gate pins the register arithmetic
    AND the invariance cross-engine. Variance derivation from these
    registers is pinned against a hand-computed fixture in
    tests/test_planted_defects.py (the t28 lesson: the oracle shares
    the register formula, so the DERIVED statistic needs an
    independent check)."""
    from kaylee_spark.operators.analytics import moment_registers

    ev = load_table(spark, sf_dir, "events")
    shards = moment_registers(ev)
    merged = shards.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1_cents"),
        F.sum("s2").alias("s2_cents"),
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    direct = (
        ev.select(F.col("event_type").alias("grp"), cents.alias("c"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("dn"),
            F.sum("c").alias("ds1"),
            F.sum(F.col("c") * F.col("c")).alias("ds2"),
        )
    )
    return merged.join(direct, "grp").select(
        F.col("grp").alias("event_type"),
        "n_days",
        "n",
        "s1_cents",
        "s2_cents",
        (
            (F.col("n") == F.col("dn"))
            & (F.col("s1_cents") == F.col("ds1"))
            & (F.col("s2_cents") == F.col("ds2"))
        ).alias("merge_exact"),
    )


_A40_ORACLE = """
    WITH c AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events
    ),
    bx AS (SELECT event_type, day, c, c // 2500 AS b FROM c),
    shards AS (
        SELECT event_type, day, b, COUNT(*) AS n
        FROM bx GROUP BY event_type, day, b
    ),
    merged AS (
        SELECT event_type, b, CAST(SUM(n) AS BIGINT) AS n
        FROM shards GROUP BY event_type, b
    ),
    tot AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_buckets
        FROM merged GROUP BY event_type
    ),
    cum AS (
        SELECT m.event_type, m.b, t.n AS nt,
               CAST(SUM(m.n) OVER (
                   PARTITION BY m.event_type ORDER BY m.b
               ) AS BIGINT) AS cum
        FROM merged m JOIN tot t USING (event_type)
    ),
    picks AS (
        SELECT event_type,
               MIN(CASE WHEN cum >= (nt + 1) // 2 THEN b END) AS b50,
               MIN(CASE WHEN cum >= (9 * nt + 9) // 10 THEN b END) AS b90,
               MIN(CASE WHEN cum >= (99 * nt + 99) // 100 THEN b END) AS b99
        FROM cum GROUP BY event_type
    ),
    direct AS (
        SELECT event_type, b, COUNT(*) AS dn FROM bx GROUP BY event_type, b
    ),
    delta AS (
        SELECT COALESCE(m.event_type, d.event_type) AS event_type,
               SUM(ABS(COALESCE(m.n, 0) - COALESCE(d.dn, 0))) AS m_delta
        FROM merged m
        FULL JOIN direct d ON m.event_type = d.event_type AND m.b = d.b
        GROUP BY 1
    ),
    ranked AS (
        SELECT bx.event_type, bx.c, t.n AS nt,
               ROW_NUMBER() OVER (
                   PARTITION BY bx.event_type ORDER BY bx.c
               ) AS rn
        FROM bx JOIN tot t USING (event_type)
    ),
    exact AS (
        SELECT event_type,
               MIN(CASE WHEN rn = (nt + 1) // 2 THEN c END) AS v50,
               MIN(CASE WHEN rn = (9 * nt + 9) // 10 THEN c END) AS v90,
               MIN(CASE WHEN rn = (99 * nt + 99) // 100 THEN c END) AS v99
        FROM ranked GROUP BY event_type
    )
    SELECT t.event_type, t.n, t.n_buckets,
           (p.b50 + 1) * 2500 AS p50_ub_cents,
           (p.b90 + 1) * 2500 AS p90_ub_cents,
           (p.b99 + 1) * 2500 AS p99_ub_cents,
           (e.v50 // 2500 = p.b50 AND e.v90 // 2500 = p.b90
            AND e.v99 // 2500 = p.b99) AS bracket_exact,
           (dl.m_delta = 0) AS merge_exact
    FROM tot t
    JOIN picks p USING (event_type)
    JOIN delta dl USING (event_type)
    JOIN exact e USING (event_type)
    """


@query("a40_quantile_store", oracle=_A40_ORACLE)
def a40_quantile_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable mergeable QUANTILE store (operators/analytics.
    quantile_buckets) — the third mergeable statistic beside the HLL
    distinct store (a37) and the moment store (a39): per (event_type,
    day) shards of exact counts over FIXED value fenceposts
    (cents div 2500), merged by plain ADDITION, with p50/p90/p99
    derived from cumulative merged counts as the rank-ceil(q·n)
    bucket's upper fencepost. Fixed fenceposts (not data-dependent
    cuts) are what make shards mergeable across days and engines; the
    fencepost width is the store's declared resolution. Two in-query
    proofs ship with every row: ``merge_exact`` (day-sharded merge ≡
    direct single-pass — the a39 re-shard invariance) and
    ``bracket_exact`` (the exact rank-r value, located by an
    independent row_number sort, falls in the bucket the cumulative
    counts picked — so the rank derivation is cross-checked in-query,
    and the oracle replays BOTH paths, pinning the bucket arithmetic
    cross-engine). Only the store ships at 100 TB: the sort behind
    bracket_exact is the driver-verifiability tax, same as a02's
    exact twins. Quantile derivation from planted counts is pinned
    against a hand-computed fixture in tests/test_planted_defects.py
    (the t28 lesson)."""
    from kaylee_spark.operators.analytics import (
        quantile_buckets,
        quantile_store_close,
    )

    ev = load_table(spark, sf_dir, "events")
    shards = quantile_buckets(ev)
    merged = shards.groupBy("grp", "b").agg(F.sum("n").alias("n"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = ev.select(F.col("event_type").alias("grp"), cents.alias("c"))
    return quantile_store_close(merged, base)


_A41_ORACLE = """
    WITH b AS (
        SELECT l_returnflag AS grp,
               date_trunc('month', l_shipdate) AS shard,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    shards AS (
        SELECT grp, shard, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM b GROUP BY grp, shard
    ),
    merged AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n_shards,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(sx) AS BIGINT) AS sx,
               CAST(SUM(sy) AS BIGINT) AS sy,
               SUM(CAST(sxy AS HUGEINT)) AS msxy,
               SUM(CAST(sxx AS HUGEINT)) AS msxx,
               SUM(CAST(syy AS HUGEINT)) AS msyy
        FROM shards GROUP BY grp
    ),
    direct AS (
        SELECT grp, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM b GROUP BY grp
    )
    SELECT m.grp AS l_returnflag, m.n_shards, m.n, m.sx, m.sy,
           CAST(m.msxy AS VARCHAR) AS sxy_str,
           CAST(m.msxx AS VARCHAR) AS sxx_str,
           CAST(m.msyy AS VARCHAR) AS syy_str,
           ROUND(
               (CAST(m.n AS DOUBLE) * CAST(m.msxy AS DOUBLE)
                - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
               / sqrt(CAST(m.n AS DOUBLE) * CAST(m.msxx AS DOUBLE)
                      - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
               / sqrt(CAST(m.n AS DOUBLE) * CAST(m.msyy AS DOUBLE)
                      - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)),
               6) AS corr_r,
           (m.n = d.n AND m.sx = d.sx AND m.sy = d.sy
            AND m.msxy = d.sxy AND m.msxx = d.sxx AND m.msyy = d.syy)
               AS merge_exact
    FROM merged m JOIN direct d USING (grp)
    """


@query("a41_comoment_store", oracle=_A41_ORACLE)
def a41_comoment_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable mergeable CO-MOMENT store (operators/analytics.
    comoment_registers) — the bivariate member of the store family
    (a37 distinct, a39 moments, a40 quantiles): month shards of exact
    integer sums (n, Sx, Sy, Sxy, Sxx, Syy) over (quantity,
    price-in-cents) per return flag, merged by plain ADDITION, with
    the Pearson correlation derived from merged registers — the
    feature⋈target drift readout that never rescans history. Merged
    squared-sum registers ride DECIMAL(38,0) (the a39 int64 envelope
    lesson applied up front: y² sums pass 2^63 around 1e5 rows/group
    at ~$10k prices) and are EMITTED AS STRINGS so the hash gate pins
    them exactly beyond double's 2^53 (a double cast of a 6e18
    register could legitimately differ by one engine ulp). The
    in-query ``merge_exact`` proves shard-merge ≡ direct single-pass;
    corr_r is the one derived double, rounded 6dp after IEEE
    correctly-rounded cast/sqrt/divide. Correlation derivation from
    planted registers is pinned against plain statistics in
    tests/test_planted_defects.py (the t28 lesson)."""
    from kaylee_spark.operators.analytics import comoment_registers

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("grp"),
        F.date_trunc("month", F.col("l_shipdate")).alias("shard"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    shards = comoment_registers(base, "x", "y")
    d38 = "decimal(38,0)"
    merged = shards.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum(F.col("sxy").cast(d38)).alias("msxy"),
        F.sum(F.col("sxx").cast(d38)).alias("msxx"),
        F.sum(F.col("syy").cast(d38)).alias("msyy"),
    )
    direct = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("dn"),
        F.sum("x").alias("dsx"),
        F.sum("y").alias("dsy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("dsxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("dsxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("dsyy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("msxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    dx = F.sqrt(nd * F.col("msxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
    dy = F.sqrt(nd * F.col("msyy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    return merged.join(direct, "grp").select(
        F.col("grp").alias("l_returnflag"),
        "n_shards",
        "n",
        "sx",
        "sy",
        F.col("msxy").cast("string").alias("sxy_str"),
        F.col("msxx").cast("string").alias("sxx_str"),
        F.col("msyy").cast("string").alias("syy_str"),
        F.round(num / dx / dy, 6).alias("corr_r"),
        (
            (F.col("n") == F.col("dn"))
            & (F.col("sx") == F.col("dsx"))
            & (F.col("sy") == F.col("dsy"))
            & (F.col("msxy") == F.col("dsxy"))
            & (F.col("msxx") == F.col("dsxx"))
            & (F.col("msyy") == F.col("dsyy"))
        ).alias("merge_exact"),
    )


@query("a42_quantile_store_compact", oracle=_A40_ORACLE, extra=True)
def a42_quantile_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store MAINTENANCE — the compaction rung the mergeable-store
    family (a37/a39/a40/a41 + streamed twins + e44's cross-session
    reopen) needs for multi-year retention: day shards re-aggregated
    into MONTH shards (one groupBy addition — compaction IS the merge
    operation, applied at rest), then the compacted store is closed by
    the standard closer. The oracle is a40's VERBATIM, so the hash
    gate proves day->month compaction changes NOTHING the store can
    answer: merge_exact now additionally certifies
    compacted-shard-merge ≡ direct single-pass counts, and the
    p50/p90/p99 fenceposts are bit-identical to the uncompacted
    store's.

    At 100 TB this is the retention policy's mechanism: a nightly job
    folds day partitions older than N days into month partitions,
    shrinking the store ~30x with zero information loss for any query
    window aligned to the compaction grain — the associativity the
    fixed fenceposts were chosen to buy. Runs as pure addition, so it
    is idempotent under re-execution on the same inputs and safe to
    re-run after partial failure (overwrite-by-partition).
    """
    from kaylee_spark.operators.analytics import (
        quantile_buckets,
        quantile_store_close,
    )

    ev = load_table(spark, sf_dir, "events")
    day_shards = quantile_buckets(ev)
    month_shards = (
        day_shards.withColumn("month", F.date_trunc("month", F.col("day")))
        .groupBy("grp", "month", "b")
        .agg(F.sum("n").alias("n"))
    )
    merged = month_shards.groupBy("grp", "b").agg(F.sum("n").alias("n"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = ev.select(F.col("event_type").alias("grp"), cents.alias("c"))
    return quantile_store_close(merged, base)


@query("a43_hll_store_compact", oracle=_hll_oracle(), extra=True)
def a43_hll_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store MAINTENANCE for the HLL distinct store — a42's compaction
    rung applied to the MAX-merge member of the family: per
    (event_type, day) register shards folded into MONTH shards by
    element-wise MAX (compaction IS the merge law applied at rest),
    then the compacted store merged and closed with the standard
    hll_estimate_close arithmetic. Oracle shared VERBATIM with
    a37/e35, so the hash gate proves day->month register compaction
    loses nothing: merge_exact now certifies
    compacted-registers ≡ direct-from-raw, and the estimate is
    bit-identical to the uncompacted store's.

    Together with a42 (quantiles, SUM) this pins the family's
    retention mechanism across BOTH merge monoids: a distinct-count
    window aligned to the compaction grain answers from ~30x fewer
    shards with zero drift — MAX is idempotent, so re-running a
    partially-failed compaction is safe by construction (stronger
    even than a42's SUM case, which relies on overwrite-by-partition
    for idempotence).
    """
    from kaylee_spark.operators.analytics import (
        hll_estimate_close,
        with_hll_cols,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("grp"),
        F.col("user_id").alias("uid"),
        F.col("ts"),
    )
    coords = with_hll_cols(base, "uid")
    day_regs = (
        coords.withColumn("day", F.date_trunc("day", F.col("ts")))
        .groupBy("grp", "day", "idx")
        .agg(F.max("rho").alias("m_day"))
    )
    month_regs = (
        day_regs.withColumn("month", F.date_trunc("month", F.col("day")))
        .groupBy("grp", "month", "idx")
        .agg(F.max("m_day").alias("m_month"))
    )
    merged = month_regs.groupBy("grp", "idx").agg(
        F.max("m_month").alias("m_merged")
    )
    direct = coords.groupBy("grp", "idx").agg(F.max("rho").alias("m_direct"))
    exact = base.groupBy("grp").agg(F.countDistinct("uid").alias("n_exact"))
    return hll_estimate_close(merged.join(direct, ["grp", "idx"]), exact)


@query("a44_moment_store_compact", oracle=_A39_ORACLE, extra=True)
def a44_moment_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a42's compaction rung for the MOMENT store: day shards of
    exact integer power sums folded into MONTH shards by ADDITION —
    including the shard-count bookkeeping (``n_days`` rides through
    compaction as an additive register of its own), so the closed
    output is COLUMN-FOR-COLUMN identical to a39's uncompacted
    closure and shares its oracle verbatim. With a42 (quantiles,
    SUM over bucket counts) and a43 (HLL, MAX over registers) this
    extends the proven-lossless retention mechanism to the
    mean/variance member; same int64 envelope precondition as the
    day shards (a month's S2 is the sum of ≤ 31 day registers —
    pre-scale or shard finer long before the envelope binds).
    """
    from kaylee_spark.operators.analytics import moment_registers

    ev = load_table(spark, sf_dir, "events")
    day_shards = moment_registers(ev)
    month_shards = (
        day_shards.withColumn("month", F.date_trunc("month", F.col("day")))
        .groupBy("grp", "month")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
        )
    )
    merged = month_shards.groupBy("grp").agg(
        F.sum("n_days").alias("n_days"),
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1_cents"),
        F.sum("s2").alias("s2_cents"),
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    direct = (
        ev.select(F.col("event_type").alias("grp"), cents.alias("c"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("dn"),
            F.sum("c").alias("ds1"),
            F.sum(F.col("c") * F.col("c")).alias("ds2"),
        )
    )
    return merged.join(direct, "grp").select(
        F.col("grp").alias("event_type"),
        "n_days",
        "n",
        "s1_cents",
        "s2_cents",
        (
            (F.col("n") == F.col("dn"))
            & (F.col("s1_cents") == F.col("ds1"))
            & (F.col("s2_cents") == F.col("ds2"))
        ).alias("merge_exact"),
    )


@query("a45_comoment_store_compact", oracle=_A41_ORACLE, extra=True)
def a45_comoment_store_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction rung for the CO-MOMENT store, completing the
    maintenance matrix across all four mergeable stores: a41's month
    shards folded into QUARTER shards by ADDITION (squared-sum
    registers lifted to DECIMAL(38,0) at the compaction step — the
    a41 envelope discipline applied one grain earlier, since a
    quarter register is the sum of 3 month registers), with
    ``n_shards`` carried through as its own additive register so the
    closed output is column-for-column identical to a41's and shares
    its oracle verbatim. Day→month (a42/a43/a44) and month→quarter
    (here) are the same theorem at different grains: any fold along
    the shard axis commutes with the closer.
    """
    from kaylee_spark.operators.analytics import comoment_registers

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("grp"),
        F.date_trunc("month", F.col("l_shipdate")).alias("shard"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    month_shards = comoment_registers(base, "x", "y")
    d38 = "decimal(38,0)"
    quarter_shards = (
        month_shards.withColumn(
            "quarter", F.date_trunc("quarter", F.col("shard"))
        )
        .groupBy("grp", "quarter")
        .agg(
            F.count(F.lit(1)).alias("n_shards"),
            F.sum("n").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum(F.col("sxy").cast(d38)).alias("sxy"),
            F.sum(F.col("sxx").cast(d38)).alias("sxx"),
            F.sum(F.col("syy").cast(d38)).alias("syy"),
        )
    )
    merged = quarter_shards.groupBy("grp").agg(
        F.sum("n_shards").alias("n_shards"),
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("msxy"),
        F.sum("sxx").alias("msxx"),
        F.sum("syy").alias("msyy"),
    )
    direct = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("dn"),
        F.sum("x").alias("dsx"),
        F.sum("y").alias("dsy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("dsxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("dsxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("dsyy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("msxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    dx = F.sqrt(
        nd * F.col("msxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    dy = F.sqrt(
        nd * F.col("msyy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return merged.join(direct, "grp").select(
        F.col("grp").alias("l_returnflag"),
        "n_shards",
        "n",
        "sx",
        "sy",
        F.col("msxy").cast("string").alias("sxy_str"),
        F.col("msxx").cast("string").alias("sxx_str"),
        F.col("msyy").cast("string").alias("syy_str"),
        F.round(num / dx / dy, 6).alias("corr_r"),
        (
            (F.col("n") == F.col("dn"))
            & (F.col("sx") == F.col("dsx"))
            & (F.col("sy") == F.col("dsy"))
            & (F.col("msxy") == F.col("dsxy"))
            & (F.col("msxx") == F.col("dsxx"))
            & (F.col("msyy") == F.col("dsyy"))
        ).alias("merge_exact"),
    )


_A46_ORACLE = """
    WITH deltas AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               1 AS mult
        FROM orders
        UNION ALL
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               -1 AS mult
        FROM orders WHERE o_orderkey % 10 = 3
    ),
    view_regs AS (
        SELECT grp, CAST(SUM(mult) AS BIGINT) AS n,
               CAST(SUM(mult * cents) AS BIGINT) AS revenue_cents
        FROM deltas GROUP BY grp
    ),
    direct AS (
        SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS dn,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS drevenue
        FROM orders WHERE o_orderkey % 10 <> 3 GROUP BY o_orderpriority
    )
    SELECT v.grp AS o_orderpriority, v.n, v.revenue_cents,
           (v.n = d.dn AND v.revenue_cents = d.drevenue) AS maintain_exact
    FROM view_regs v JOIN direct d USING (grp)
    """


@query("a46_incremental_view_maintenance", oracle=_A46_ORACLE, extra=True)
def a46_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance under inserts AND
    deletes — the delta algebra the mergeable stores deliberately
    avoid (their monoids never retract; a real warehouse's views
    must). The maintained view is revenue-by-priority held as
    multiplicity-weighted registers (n = Σmult,
    revenue = Σ mult·cents — the Z-relation/DBSP formulation: a
    delete is the insert with mult = −1), and the query REPLAYS a
    five-batch CDC history through the actual maintenance loop:
    four insert slices (o_orderkey mod 4) then a retraction batch
    (o_orderkey mod 10 = 3), each batch folded into the running
    register frame by one |delta|+|view|-sized additive merge with
    the lineage cut per step (localCheckpoint — the iterative-loop
    lesson; step cost is delta-driven, never a base rescan).
    ``maintain_exact`` proves the maintained registers equal a direct
    aggregate over the surviving rows — the refresh-equivalence
    theorem, checked in-query and replayed by the oracle (which
    exploits the same associativity to fold all five batches in one
    pass: THE point of the algebra).

    At 100 TB this is the nightly-view contract: refresh cost scales
    with the day's delta, not the view's history, and deletes need no
    tombstone compaction because mult sums to the truth. Register
    overflow rides the a39 int64 envelope (cents × rows ≪ 2^63
    per group here; DECIMAL(38,0) is the documented escalation).
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents.alias("cents"),
        F.col("o_orderkey").alias("k"),
    )

    def regs(delta):
        return delta.groupBy("grp").agg(
            F.sum("mult").cast("bigint").alias("n"),
            F.sum(F.col("mult") * F.col("cents")).cast("bigint").alias(
                "revenue_cents"
            ),
        )

    batches = [
        base.filter(F.col("k") % 4 == i).withColumn("mult", F.lit(1))
        for i in range(4)
    ] + [base.filter(F.col("k") % 10 == 3).withColumn("mult", F.lit(-1))]

    view = None
    for b in batches:
        delta_regs = regs(b.select("grp", "cents", "mult"))
        if view is None:
            merged = delta_regs
        else:
            merged = (
                view.unionByName(delta_regs)
                .groupBy("grp")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("revenue_cents").cast("bigint").alias(
                        "revenue_cents"
                    ),
                )
            )
        # cut lineage: step k must cost |delta_k| + |view|, not a
        # replay of batches 1..k (the g01/bpe_train iterative lesson)
        view = merged.localCheckpoint(eager=True)

    direct = (
        base.filter(F.col("k") % 10 != 3)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("dn"),
            F.sum("cents").cast("bigint").alias("drevenue"),
        )
    )
    return view.join(direct, "grp").select(
        F.col("grp").alias("o_orderpriority"),
        "n",
        "revenue_cents",
        (
            (F.col("n") == F.col("dn"))
            & (F.col("revenue_cents") == F.col("drevenue"))
        ).alias("maintain_exact"),
    )
