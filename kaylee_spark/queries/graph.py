"""Graph-analytics queries (iterative link analysis over fact tables).

The oracle twin unrolls the exact fixed-point iteration (see
operators/graph.py for why integer pico-ranks make this bit-exact
across engines): each CTE pair (c_k, r_k) is one power-iteration step,
all arithmetic integer multiply / floor-divide / sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaylee_spark.operators.graph import (
    DAMPING_DEN,
    DAMPING_NUM,
    RANK_SCALE,
    SUPPLIER_OFFSET,
    coorder_part_edges,
    customer_supplier_edges,
    pagerank,
    triangle_stats,
)
from kaylee_spark.queries import query
from kaylee_spark.sources import load_table

_BASE = RANK_SCALE * 3 // 20  # (1 - 0.85) * RANK_SCALE, exactly


def _pagerank_oracle(iterations: int = 3) -> str:
    steps = []
    prev = "r0"
    for k in range(1, iterations + 1):
        steps.append(
            f"""c{k} AS (
        SELECT e.dst AS id, CAST(SUM({prev}.r // d.deg) AS BIGINT) AS contrib
        FROM edges e
        JOIN {prev} ON e.src = {prev}.id
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    ), r{k} AS (
        SELECT nodes.id,
               CAST({_BASE} // n.n
                    + ({DAMPING_NUM} * COALESCE(c{k}.contrib, 0)) // {DAMPING_DEN}
                    AS BIGINT) AS r
        FROM nodes CROSS JOIN n LEFT JOIN c{k} ON nodes.id = c{k}.id
    )"""
        )
        prev = f"r{k}"
    return f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey AS src,
               l_suppkey + {SUPPLIER_OFFSET} AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    nodes AS (
        SELECT src AS id FROM edges UNION SELECT dst FROM edges
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    r0 AS (
        SELECT id, CAST({RANK_SCALE} // n.n AS BIGINT) AS r
        FROM nodes CROSS JOIN n
    ),
    {",".join(steps)}
    SELECT id, r AS rank_e12 FROM {prev}
    """


@query("g01_pagerank", oracle=_pagerank_oracle(3))
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the bipartite customer->supplier
    demand graph (orders ⋈ lineitem, distinct trading pairs), in exact
    bigint pico-rank arithmetic; returns every node's rank."""
    return pagerank(customer_supplier_edges(spark, sf_dir), iterations=3)


def _hits_oracle(iterations: int = 3) -> str:
    from kaylee_spark.operators.graph import HITS_SCALE

    steps = []
    prev_h = "h0"
    for k in range(1, iterations + 1):
        steps.append(
            f"""a{k}raw AS MATERIALIZED (
        SELECT e.dst AS id, CAST(SUM(h.score) AS BIGINT) AS raw
        FROM edges e JOIN {prev_h} h ON e.src = h.id GROUP BY e.dst
    ), a{k} AS MATERIALIZED (
        SELECT auths.id,
               CAST((COALESCE(r.raw, 0) * {HITS_SCALE})
                    // (SELECT MAX(raw) FROM a{k}raw) AS BIGINT) AS score
        FROM auths LEFT JOIN a{k}raw r ON auths.id = r.id
    ), h{k}raw AS MATERIALIZED (
        SELECT e.src AS id, CAST(SUM(a.score) AS BIGINT) AS raw
        FROM edges e JOIN a{k} a ON e.dst = a.id GROUP BY e.src
    ), h{k} AS MATERIALIZED (
        SELECT hubs.id,
               CAST((COALESCE(r.raw, 0) * {HITS_SCALE})
                    // (SELECT MAX(raw) FROM h{k}raw) AS BIGINT) AS score
        FROM hubs LEFT JOIN h{k}raw r ON hubs.id = r.id
    )"""
        )
        prev_h = f"h{k}"
    return f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey AS src,
               l_suppkey + {SUPPLIER_OFFSET} AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    hubs AS (SELECT DISTINCT src AS id FROM edges),
    auths AS (SELECT DISTINCT dst AS id FROM edges),
    h0 AS (SELECT id, CAST({1_000_000} AS BIGINT) AS score FROM hubs),
    {",".join(steps)}
    SELECT id, 'hub' AS role, score AS score_e6 FROM {prev_h}
    UNION ALL
    SELECT id, 'authority' AS role, score AS score_e6 FROM a{iterations}
    """


@query("g02_hits", oracle=_hits_oracle(2))
def g02_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the bipartite demand graph: customers as hubs,
    suppliers as authorities, max-normalized exact integer scores
    (operators/graph.hits) — the eager-normalizer iterative shape,
    hash-verified against a fully unrolled SQL twin. 2 iterations:
    each adds ~5 eager shuffle stages and the demo's point (per-step
    exact normalization, both roles ranked) is made by the second."""
    from kaylee_spark.operators.graph import hits

    return hits(customer_supplier_edges(spark, sf_dir), iterations=2)


@query(
    "g03_triangle_count",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT n, COUNT(*) AS d FROM (
            SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
        ) GROUP BY n
    ),
    o AS (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN u ELSE v END AS src,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN v ELSE u END AS dst
        FROM edges
        JOIN deg du ON du.n = u
        JOIN deg dv ON dv.n = v
    ),
    w AS (
        SELECT e1.dst AS x, e2.dst AS y
        FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM w JOIN edges e
              ON e.u = least(x, y) AND e.v = greatest(x, y)) AS n_triangles
    """,
)
def g03_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the co-ordered-parts graph (market-
    basket projection of lineitem) via degree-oriented compact-forward
    counting (operators/graph.triangle_stats): every out-degree is
    bounded by O(sqrt(m)) after orientation, so the wedge join costs
    O(m^1.5) instead of the celebrity-quadratic naive Σdeg²; wedge and
    triangle counts come from ONE un-materialized left-join pass. One
    row: nodes, edges, oriented wedges, triangles."""
    return triangle_stats(coorder_part_edges(spark, sf_dir))


def _bfs_oracle(max_hops: int = 3) -> str:
    steps = []
    prev = "r0"
    for k in range(1, max_hops + 1):
        steps.append(
            f"""r{k} AS (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS id, r.dist + 1 AS dist
            FROM edges e JOIN {prev} r ON e.src = r.id
        ) GROUP BY id
    )"""
        )
        prev = f"r{k}"
    return f"""
    WITH fwd AS (
        SELECT DISTINCT o_custkey AS src,
               l_suppkey + {SUPPLIER_OFFSET} AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
    ),
    r0 AS (
        SELECT DISTINCT s_suppkey + {SUPPLIER_OFFSET} AS id, 0 AS dist
        FROM supplier
        WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
    ),
    {",".join(steps)}
    SELECT id, CAST(dist AS INT) AS dist FROM {prev}
    """


def _seed_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed set for the graph-traversal queries: the suppliers of the
    MINIMUM nationkey present in the fixture. Unlike a hard-coded
    nation (the round-6 bug — sf0.001 has 10 suppliers, none in
    nation 0), this rule is non-empty at every scale by construction.
    The scalar min is pulled with .first() and folded into a codegen
    literal (a correlated subquery would plan a 1-row join); the
    oracles mirror it as `s_nationkey = (SELECT MIN(s_nationkey)
    FROM supplier)` — same value, so same seeds."""
    supplier = load_table(spark, sf_dir, "supplier")
    min_nation = supplier.agg(F.min("s_nationkey")).first()[0]
    return (
        supplier.filter(F.col("s_nationkey") == F.lit(min_nation))
        .select((F.col("s_suppkey") + F.lit(SUPPLIER_OFFSET)).alias("id"))
    )


@query("g04_bfs_reach", oracle=_bfs_oracle(3), extra=True)
def g04_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain blast radius: minimum hop distance from the
    min-nationkey suppliers to every node of the UNDIRECTED customer<->supplier
    demand graph within 3 hops (0 = seed suppliers, 1 = their
    customers, 2 = those customers' other suppliers, 3 = the wider
    customer ring). Frontier-expansion BFS — each hop joins edges
    against only the newly-reached frontier and anti-joins the
    reached set (operators/graph.py bfs_distances); the oracle
    verifies it against the full-relaxation form (min over <= 3-hop
    paths), which computes the same minimum."""
    from kaylee_spark.operators.graph import bfs_distances

    fwd = customer_supplier_edges(spark, sf_dir)
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = _seed_suppliers(spark, sf_dir)
    return bfs_distances(edges, seeds, max_hops=3)


def _sssp_oracle(rounds: int = 3) -> str:
    steps = []
    prev = "r0"
    for k in range(1, rounds + 1):
        steps.append(
            f"""r{k} AS (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS id, r.dist + e.w AS dist
            FROM edges e JOIN {prev} r ON e.src = r.id
        ) GROUP BY id
    )"""
        )
        prev = f"r{k}"
    return f"""
    WITH fwd AS (
        SELECT o_custkey AS src,
               l_suppkey + {SUPPLIER_OFFSET} AS dst,
               CAST(MIN(l_quantity) AS BIGINT) AS w
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT src, dst, w FROM fwd UNION ALL SELECT dst, src, w FROM fwd
    ),
    r0 AS (
        SELECT DISTINCT s_suppkey + {SUPPLIER_OFFSET} AS id,
               CAST(0 AS BIGINT) AS dist
        FROM supplier
        WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
    ),
    {",".join(steps)}
    SELECT id, dist FROM {prev}
    """


@query("g05_weighted_sssp", oracle=_sssp_oracle(3), extra=True)
def g05_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-path supply cost: minimum total weight from the
    min-nationkey suppliers to every node of the undirected demand graph within 3
    relaxation rounds, edge weight = the pair's smallest lineitem
    quantity (exact bigint). Bellman-Ford with DELTA relaxation —
    each round relaxes only the edges leaving nodes whose distance
    improved, localCheckpoints the distance map, and exits early on
    convergence (operators/graph.py weighted_sssp); the oracle
    verifies it against the full-relaxation form (min over <=3-edge
    paths), which computes the same minimum."""
    from kaylee_spark.operators.graph import weighted_demand_edges, weighted_sssp

    fwd = weighted_demand_edges(spark, sf_dir)
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    seeds = _seed_suppliers(spark, sf_dir)
    return weighted_sssp(edges, seeds, rounds=3)


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    steps = []
    prev = "a0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""s{r} AS (
        SELECT e.src AS id FROM edges e
        JOIN {prev} x ON e.src = x.id
        JOIN {prev} y ON e.dst = y.id
        GROUP BY e.src HAVING COUNT(*) >= {k}
    )"""
        )
        prev = f"s{r}"
    removed = "\n    UNION ALL\n    ".join(
        f"SELECT id, CAST({r} AS INT) AS peel_round FROM "
        f"(SELECT id FROM {'a0' if r == 1 else f's{r - 1}'} "
        f"EXCEPT SELECT id FROM s{r})"
        for r in range(1, rounds + 1)
    )
    return f"""
    WITH fwd AS (
        SELECT o_custkey AS src, l_suppkey + {SUPPLIER_OFFSET} AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2 HAVING COUNT(DISTINCT o_orderkey) >= 2
    ),
    edges AS (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
    ),
    a0 AS (SELECT DISTINCT src AS id FROM edges),
    {",".join(steps)}
    {removed}
    UNION ALL
    SELECT id, CAST(0 AS INT) AS peel_round FROM s{rounds}
    """


@query("g06_kcore_peel", oracle=_kcore_oracle(3, 3))
def g06_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohesion decomposition of the REPEAT-trading graph (customer
    <-> supplier pairs with >= 2 distinct orders — the sparsified
    relationship graph where degree is informative): three synchronous
    3-core peeling rounds assign every node the round it fell out
    (1..3) or 0 if it survives in the approximate 3-core. One-off
    buyers shed in round 1; their suppliers, propped up only by them,
    cascade in rounds 2-3 — the standard "who is structurally
    embedded vs hanging on" market segmentation
    (operators/graph.py kcore_peel); the oracle unrolls the identical
    synchronous rounds as chained CTEs (exact integer degrees, so the
    peel trajectory is engine-invariant)."""
    from kaylee_spark.operators.graph import kcore_peel, repeat_trading_edges

    fwd = repeat_trading_edges(spark, sf_dir)
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return kcore_peel(edges, k=3, rounds=3)


def _lpa_oracle(rounds: int = 3) -> str:
    steps = []
    prev = "l0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""l{r} AS (
        SELECT id, label FROM (
            SELECT e.src AS id, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.src
                                      ORDER BY COUNT(*) DESC, l.label ASC) AS rk
            FROM edges e JOIN {prev} l ON e.dst = l.id
            GROUP BY e.src, l.label
        ) WHERE rk = 1
    )"""
        )
        prev = f"l{r}"
    return f"""
    WITH fwd AS (
        SELECT o_custkey AS src, l_suppkey + {SUPPLIER_OFFSET} AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY 1, 2 HAVING COUNT(DISTINCT o_orderkey) >= 2
    ),
    edges AS (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd
    ),
    l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges),
    {",".join(steps)}
    SELECT id, label AS community FROM l{rounds}
    """


@query("g07_label_propagation", oracle=_lpa_oracle(3), extra=True)
def g07_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the repeat-trading graph: three
    synchronous label-propagation rounds (plurality neighbor label,
    min-label ties) assign every customer/supplier a community — the
    market-segmentation companion to g06's cohesion ranking, and at
    corpus scale the cheap communities-from-near-dup-edges pass that
    groups template families without computing connected components
    to fixpoint. Deterministic by construction (synchronous rounds +
    integer counts + min-label tie-break), so the oracle unrolls the
    identical trajectory as chained CTEs
    (operators/graph.py label_propagation)."""
    from kaylee_spark.operators.graph import label_propagation, repeat_trading_edges

    fwd = repeat_trading_edges(spark, sf_dir)
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return label_propagation(edges, rounds=3)


def _cc_oracle(iterations: int = 3) -> str:
    steps = []
    prev = "l0"
    for k in range(1, iterations + 1):
        steps.append(
            f"""l{k} AS (
        SELECT n.id, LEAST(n.lbl, COALESCE(MIN(x.lbl), n.lbl)) AS lbl
        FROM {prev} n
        LEFT JOIN sym e ON e.src = n.id
        LEFT JOIN {prev} x ON x.id = e.dst
        GROUP BY n.id, n.lbl
    )"""
        )
        prev = f"l{k}"
    last, before = f"l{iterations}", f"l{iterations - 1}"
    return f"""
    WITH edges0 AS (
        SELECT DISTINCT o_custkey AS src,
               l_suppkey + {SUPPLIER_OFFSET} AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    sym AS (
        SELECT src, dst FROM edges0
        UNION
        SELECT dst AS src, src AS dst FROM edges0
    ),
    nodes AS (SELECT DISTINCT src AS id FROM sym),
    l0 AS (SELECT id, id AS lbl FROM nodes),
    {', '.join(steps)},
    chg AS (
        SELECT CAST(SUM(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_changed
        FROM {last} a JOIN {before} b USING (id)
    )
    SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_members,
           (SELECT n_changed FROM chg) = 0 AS converged
    FROM {last}
    GROUP BY lbl
    """


@query("g08_connected_components", oracle=_cc_oracle(3))
def g08_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration hash-min CONNECTED COMPONENTS over the
    (undirected) customer↔supplier demand graph — the BSP components
    classic g04's single-source BFS and g07's mode-label propagation
    don't cover: every node converges to the MINIMUM id reachable
    within k hops, so the emitted histogram is the k-hop component
    structure, plus ``converged`` (no label moved in the last
    iteration ⇒ a fixed point was reached and the histogram is the
    TRUE component decomposition). The oracle unrolls the identical
    min-label passes, so the hash gate pins the whole trajectory —
    integer MIN arithmetic is bit-exact in any engine
    (operators/graph.py connected_components)."""
    from kaylee_spark.operators.graph import connected_components

    edges = customer_supplier_edges(spark, sf_dir)
    labeled = connected_components(edges, iterations=3)
    flag = labeled.select(
        F.sum(F.when(F.col("lbl") != F.col("prev_lbl"), 1).otherwise(0)).alias(
            "n_changed"
        )
    )
    return (
        labeled.groupBy(F.col("lbl").alias("component"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .crossJoin(F.broadcast(flag))
        .select("component", "n_members", (F.col("n_changed") == 0).alias("converged"))
    )
