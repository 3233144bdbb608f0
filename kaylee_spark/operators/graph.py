"""Iterative graph analytics over relational edge lists.

The reference engine has no graph surface (its MapReduce loop could
express one iteration per job submission — SURVEY.md §2.1 #2/#3 — but
nothing iterates); this module supplies the iterative-algorithm family
a 100 TB curation pipeline needs beyond connected components
(operators/dedup.py): link-analysis ranking of entities derived from
fact tables, e.g. ranking suppliers by the mass of customer demand
flowing to them.

Why FIXED-POINT INTEGER arithmetic instead of doubles: PageRank is a
repeated sum, and double summation is not associative — Spark's
partial-aggregate merge order differs run to run (and from any other
engine's scan order), so a floating-point implementation cannot be
bit-reproducible, which breaks both the DuckDB oracle hash-match and
the restartability story (a resumed 100 TB job must reproduce the
ranks it had committed). Ranks here are BIGINT "pico-ranks" (units of
1e-12): every operation is integer multiply / integer floor-division /
integer sum — exact, associative, and identical in every engine and
under every partitioning. The floor divisions leak ≤1 pico-rank of
mass per node per step (strictly bounded, tested), which is far below
any ranking-relevant signal.

Scale shape (3-iteration loop at 100 TB):
- the edge list is the only large input; it is scanned once into a
  (src, dst) projection and reused each iteration,
- each iteration = one shuffle join (ranks ⋈ edges on src, AQE-planned;
  out-degrees ride along pre-joined on the same key) + one partial
  aggregation on dst (map-side combine of bigint sums),
- node/degree frames are one row per vertex — orders of magnitude
  smaller than edges,
- the vertex count is pulled to the driver once (a single scalar,
  the normal shape for iterative algorithms) and folded into the
  teleport literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kaylee_spark.operators.skew import fixpoint, pin_width, pinned_result

from kaylee_spark.sources import load_table

#: rank mass is distributed in units of 1e-12 (bigint "pico-ranks"):
#: total mass RANK_SCALE splits exactly under integer division while
#: leaving ~6 significant digits of headroom above any per-node rank.
RANK_SCALE = 1_000_000_000_000

#: damping 0.85 as the exact rational 17/20 — integer multiply then
#: floor-divide, so both Spark and any SQL oracle compute identically.
DAMPING_NUM, DAMPING_DEN = 17, 20

#: supplier node ids are offset so they can't collide with customer
#: keys in the bipartite demand graph.
SUPPLIER_OFFSET = 10_000_000


def customer_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed demand edges customer -> supplier: one edge per distinct
    (customer, supplier) trading relationship in orders ⋈ lineitem.

    The join is key-on-key (o_orderkey = l_orderkey) so AQE plans one
    shuffle; the distinct collapses the ~4 lineitems/order fan-out
    before any downstream work sees the edges.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(SUPPLIER_OFFSET)).alias("dst"),
        )
        .distinct()
    )


def pagerank(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst) bigint edge list.

    Returns (id, rank_e12): rank in pico-ranks (multiply by 1e-12 for
    the conventional [0, 1] rank). Deterministic to the bit — see the
    module docstring. Dangling nodes (no out-edges) keep only the
    teleport share; their lost mass is NOT redistributed (the simple
    "leaky" PageRank variant), which every engine reproduces exactly.

    r_0(v)   = RANK_SCALE div N
    r_{k+1}(v) = (0.15 * RANK_SCALE) div N
               + (17 * Σ_{u→v} (r_k(u) div outdeg(u))) div 20

    The edge list and node set are cached loop invariants; the
    trajectory stays fully lazy (no per-round action) and is
    materialized once, by ``pinned_result`` (see ``fixpoint``). Exact
    integer ranks are bit-identical at any width.
    """
    if iterations < 1:
        raise ValueError(f"pagerank requires iterations >= 1, got {iterations}")
    with pin_width(edges):
        # cache the EDGE LIST itself, not just its derivatives: nodes and
        # edges_deg each scan it, and when the edge list is itself a join
        # (orders ⋈ lineitem + distinct in g01) an uncached base pays that
        # join once per derivative cache build — measured ~1.5 s of the
        # g01 bench time.
        edges = edges.select("src", "dst").cache()
        # Spark does not dedupe common subplans: without the caches below,
        # one action over the 3-iteration plan re-derives the edge list
        # (scan + join + distinct) once per iteration and the node set more
        # often still. Both frames are iteration-invariant, so cache them —
        # on a cluster this is the standard iterative-algorithm shape
        # (persist the loop invariants, rebuild only the ranks).
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .cache()
        )
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        # pre-join out-degree onto the edge list ONCE: each iteration then
        # needs only the ranks ⋈ edges join, not a second degree join.
        edges_deg = edges.join(deg, "src").cache()

        # the vertex count is the one driver-visible scalar (standard for
        # iterative algorithms — it sizes the teleport term); pulled once
        # off the cached node set, then folded into codegen as a literal,
        # which keeps every per-row expression join-free.
        n = nodes.count()
        if n == 0:
            raise ValueError("pagerank requires a non-empty edge list (no nodes found)")
        base = F.lit((RANK_SCALE * 3 // 20) // n)

        def step(ranks, _r):
            contrib = (
                edges_deg.join(ranks.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.expr("r DIV deg")).alias("contrib"))
            )
            return nodes.join(contrib, "id", "left").select(
                "id",
                (
                    base
                    + F.expr(
                        f"({DAMPING_NUM} * coalesce(contrib, CAST(0 AS BIGINT))) DIV {DAMPING_DEN}"
                    )
                ).alias("r"),
            ), None

        ranks, _ = fixpoint(
            nodes.select("id", F.lit(RANK_SCALE // n).alias("r")), step, iterations
        )
        return pinned_result(
            ranks.select("id", F.col("r").alias("rank_e12")), edges, nodes, edges_deg
        )


#: HITS works max-normalized in units of 1e-6: after each step scores
#: lie in [0, HITS_SCALE], so Σ h(c) over an in-neighborhood stays
#: under HITS_SCALE * degree and (raw * HITS_SCALE) fits bigint for
#: any degree below 1e6 — document-able headroom, no int128 needed.
HITS_SCALE = 1_000_000


def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration HITS (hubs & authorities) over a (src, dst)
    bigint edge list, max-normalized in exact integer arithmetic.

    Per iteration:
        a_raw(d) = Σ_{s→d} h(s);  a = (a_raw * HITS_SCALE) DIV max(a_raw)
        h_raw(s) = Σ_{s→d} a(d);  h = (h_raw * HITS_SCALE) DIV max(h_raw)

    Returns (id, role 'hub'|'authority', score_e6): sources carry hub
    scores, destinations authority scores (a bipartite demand graph
    gives each node one role; on a general graph a node appears in
    both).

    Where PageRank (above) stays fully lazy — one action at the end —
    HITS NEEDS a normalizer per half-step, so this is the other
    canonical iterative shape: checkpoint each half-step's
    zero-extended RAW score frame (the one materialization), pull the
    single max scalar off the checkpointed blocks (a droplet
    aggregate), and leave normalization LAZY — a literal division the
    next consumer's plan applies row-locally over the checkpoint.
    One materialization per half-step where the r14 shape paid two
    (cache of the raw aggregate + checkpoint of the normalized frame);
    a broadcast-crossJoin normalizer that avoids the driver scalar
    entirely was also measured and is SLOWER (r15 interleaved A/B,
    median of 5: raw-checkpoint+literal 2.99 s, r14 two-materialize
    3.38 s, broadcast-normalizer 3.64 s — the per-half-step broadcast
    build costs more than the scalar collect it saves). Every heavy
    operation remains a distributed join + map-side-combined sum on
    the edge key. Integer max-normalization keeps the whole
    trajectory bit-identical across engines and partitionings — the
    property the unrolled SQL oracle hash-verifies (see ``fixpoint``).
    The result is a lazy row-local tail over the last two checkpoints,
    so it needs no ``pinned_result``.
    """
    if iterations < 1:
        raise ValueError(f"hits requires iterations >= 1, got {iterations}")
    with pin_width(edges):
        edges = edges.select("src", "dst").cache()
        hubs = edges.select(F.col("src").alias("id")).distinct().cache()
        auths = edges.select(F.col("dst").alias("id")).distinct().cache()
        # one up-front emptiness probe replaces the old per-half-step
        # max-collect's None check. It is a limit-1 job: it fills only the
        # hubs cache blocks it scans, not the whole cache.
        if hubs.first() is None:
            raise ValueError("hits requires a non-empty edge list")

        def _normed(raw_ck: DataFrame) -> DataFrame:
            # ONE materialization per half-step: the checkpointed frame is
            # the ZERO-EXTENDED raw scores; the max scalar is a droplet
            # aggregate over its blocks and normalization stays LAZY — a
            # literal row-local division each consumer (next half-step +
            # final output) applies on read. max >= HITS_SCALE > 0 always
            # on a non-empty graph (the previous max element normalizes to
            # HITS_SCALE; h starts at HITS_SCALE), so DIV never sees 0 and
            # first() cannot be None (non-emptiness probed up front).
            mx = raw_ck.agg(F.max("raw")).first()[0]
            return raw_ck.select(
                "id", F.expr(f"(raw * {HITS_SCALE}) DIV {mx}").alias("score")
            )

        def _half(base: DataFrame, contrib: DataFrame) -> DataFrame:
            # zero-extended raw scores for one half-step, checkpointed
            # (eager — truncates lineage; superseded frames free their
            # blocks via GC, no per-iteration storage accumulation)
            return (
                base.join(contrib, "id", "left")
                .select("id", F.expr("coalesce(raw, CAST(0 AS BIGINT))").alias("raw"))
                .localCheckpoint()
            )

        def step(state, _r):
            h, _ = state
            a = _normed(_half(
                auths,
                edges.join(
                    h.withColumnRenamed("id", "src").withColumnRenamed("score", "h"),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("h").alias("raw")),
            ))
            h = _normed(_half(
                hubs,
                edges.join(
                    a.withColumnRenamed("id", "dst").withColumnRenamed("score", "a"),
                    "dst",
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("a").alias("raw")),
            ))
            return (h, a), None

        (h, a), _ = fixpoint(
            (hubs.select("id", F.lit(HITS_SCALE).alias("score")), None), step, iterations
        )
        # the per-step frames are checkpointed (materialized), so the loop
        # invariants can be released.
        for c in (edges, hubs, auths):
            c.unpersist()
    return h.select(
        "id", F.lit("hub").alias("role"), F.col("score").alias("score_e6")
    ).union(
        a.select("id", F.lit("authority").alias("role"), F.col("score").alias("score_e6"))
    )


def coorder_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-order edges between parts: (u, v) with u < v iff
    some order contains both parts — the market-basket projection of
    lineitem. Per-order pair fan-out is C(items_per_order, 2) with
    items bounded by the order schema (~7 lineitems), so the pair
    stream is a constant factor of lineitem, never quadratic; the
    distinct collapses repeat co-purchases before any downstream work.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle counting by degree orientation (compact-forward)
    over an undirected (u, v) edge list with u < v and no duplicates.

    PRECONDITION (u < v, (u, v) unique) is load-bearing for the
    counts, not just a normalization nicety: the adjacency-intersect
    formulation collects each node's out-neighbors into ONE array, so
    a duplicate edge row contributes nothing extra (array_intersect
    is set-valued), whereas the historical wedge-join form counted
    one closure per duplicate row. Callers with raw pair streams must
    dedupe first (coorder_part_edges above ends in .distinct() for
    exactly this reason); feeding duplicates is a contract violation,
    not a supported mode (ADVICE r14).

    The naive wedge join costs Σ_v deg(v)² — one celebrity node makes
    it quadratic. Orienting every edge from its lower-(degree, id)
    endpoint to the higher one bounds every out-degree by O(√m)
    (a node of out-degree d points only at nodes of degree ≥ d, and
    there can be at most 2m/d of those), so the oriented wedge join
    costs Σ outdeg² ≤ O(m^1.5) — the classic MapReduce triangle bound
    (Suri & Vassilvitskii's partition-aware variant shards the same
    algebra). Every wedge (src -> x, src -> y) closes iff the
    canonical undirected edge (min(x,y), max(x,y)) exists — one more
    join against the edge list. All counts are integers; the
    orientation tie-breaks by id, so the wedge set itself (not just
    its count) is a pure function of the graph.

    Returns ONE row: (n_nodes, n_edges, n_wedges, n_triangles) — the
    graph-health numbers (closure ratio = 3·triangles/wedges) a
    curation pipeline tracks on entity co-occurrence graphs. Scalars
    are pulled via driver actions and folded into a literal row
    (1-row frames attached by join plan as BroadcastNestedLoopJoin —
    the constant-folding trap documented in pagerank).

    The wedge stream is NEVER materialized: both the wedge count and
    the triangle count come from ONE left-join aggregation pass over
    it (count(*) = wedges, count(matched edge key) = closed wedges),
    so the O(m^1.5) intermediate flows straight through a streaming
    aggregate — previously it was cached and traversed twice, which
    re-ran the dominant join AND held the whole wedge set (41M rows
    at sf0.1) in executor storage; measured warm solo at sf0.1:
    9.8 s -> 7.9 s, identical counts. ``pin_width(edges)`` covers the
    whole multi-action sequence: every scalar is pulled by a driver
    action inside it, and the returned row is pure literals.
    """
    with pin_width(edges):
        # MATERIALIZE the cached loop inputs SEQUENTIALLY (cheap counts the
        # function needs anyway) BEFORE the heavy wedge aggregate: a cached
        # frame referenced from several branches of one action is raced by
        # AQE's concurrent subtree scheduling — each concurrent stage finds
        # the cache block missing and recomputes it (measured: the
        # lineitem-pair edge derivation ran 3x inside g03's single .first()
        # action). Counting edges/deg first populates each cache exactly
        # once; every later stage then reads the block store.
        edges = edges.select("u", "v").cache()
        n_edges = edges.count()
        deg = (
            edges.select(F.col("u").alias("n"))
            .unionAll(edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
            .cache()
        )
        n_nodes = deg.count()
        du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
        dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
        fwd = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = (
            edges.join(du, "u")
            .join(dv, "v")
            .select(
                F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
                F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
            )
            .cache()
        )
        # materialize before the adjacency build and edge pass read it
        oriented.count()
        # EDGE-ITERATOR closure counting instead of wedge materialization:
        # the previous form generated the full O(m^1.5) wedge stream (41M
        # rows at sf0.1) through the join machinery and probed each wedge
        # against the edge set — ~50-60 s of executor time in one stage.
        # With out-adjacency arrays, n_triangles = Σ_{(u,v)∈oriented}
        # |N+(u) ∩ N+(v)|: under the (degree, id) orientation every
        # triangle a<b<c is counted exactly once, at its (a, b) edge
        # (c ∈ N+(a) ∩ N+(b); the other two edges contribute nothing —
        # N+(c) contains only higher nodes). The per-edge intersect costs
        # d+(u) + d+(v) native array ops, the same O(m^1.5) total bound
        # with no 41M-row intermediate, and the attach joins move the
        # node-sized adjacency frame, never a wedge stream. The wedge
        # count needs no wedges at all: n_wedges = Σ_v C(d+(v), 2), a
        # droplet aggregate over the adjacency sizes. collect_list order
        # is partition-dependent, but only set SIZES are consumed —
        # counts stay a pure function of the graph, bit-identical to the
        # oracle's wedge-join formulation (verified at all three scales).
        adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nb")).cache()
        # `or 0`: SUM over an empty frame is NULL — an empty/wedge-free
        # graph must report 0, matching the old COUNT(*) semantics
        n_wedges = adj.agg(
            F.sum(F.expr("CAST(size(nb) AS BIGINT) * (size(nb) - 1) DIV 2"))
        ).first()[0] or 0
        n_tri = (
            oriented.join(adj.select("src", F.col("nb").alias("nb_u")), "src")
            .join(
                adj.select(F.col("src").alias("dst"), F.col("nb").alias("nb_v")), "dst"
            )
            .agg(F.sum(F.expr("CAST(size(array_intersect(nb_u, nb_v)) AS BIGINT)")))
            .first()[0]
            or 0
        )
        spark = edges.sparkSession
        # the returned row is pure literals — nothing downstream depends
        # on the caches, so release them (repeated registry runs in one
        # session otherwise accumulate executor storage).
        for c in (adj, oriented, deg, edges):
            c.unpersist()
        return spark.range(1).select(
            F.lit(n_nodes).cast("bigint").alias("n_nodes"),
            F.lit(n_edges).cast("bigint").alias("n_edges"),
            F.lit(n_wedges).cast("bigint").alias("n_wedges"),
            F.lit(n_tri).cast("bigint").alias("n_triangles"),
        )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source breadth-first hop distance over a directed
    (src, dst) bigint edge list: every node reachable from the seed
    set within ``max_hops`` edges gets its minimum hop count. Pass
    both edge directions for an undirected graph. Returns (id, dist);
    unreached nodes are absent. ``sources`` must have an ``id``
    column.

    Scale shape — FRONTIER expansion, not full relaxation: iteration k
    joins the edge list against only the nodes FIRST reached at k-1
    (the frontier), not the whole reached set, and an anti-join
    against the reached set keeps only genuinely new nodes, so
    per-iteration work is proportional to the frontier's out-edges
    and falls as the frontier saturates; the loop exits early when a
    frontier comes back empty. The reached set is a union of small
    per-level cached frames (each materialized once — also the
    lineage-truncation point for the loop), and the edge list is the
    only large input, cached once and reused every hop. Distances
    are exact integers (first-reach level), so the result is a pure
    function of the graph — bit-identical in any engine and at any
    shuffle width, which is what lets a full-relaxation SQL oracle
    (min over <= k-hop paths) verify this frontier implementation:
    both compute the same minimum (see ``fixpoint``).
    """
    if max_hops < 0:
        raise ValueError(f"bfs_distances requires max_hops >= 0, got {max_hops}")
    with pin_width(edges):
        edges = edges.select("src", "dst").cache()
        frontier = (
            sources.select(F.col("id").cast("bigint").alias("id"))
            .distinct()
            .localCheckpoint()
        )
        if frontier.count() == 0:
            raise ValueError("bfs_distances requires a non-empty source set")

        def step(state, k):
            reached, frontier = state
            # hop k's anti-join references the reached set (a union of k
            # legs), so each level is checkpointed
            new = (
                edges.join(frontier.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(reached.select("id"), "id", "left_anti")
                .select("id", F.lit(k).cast("int").alias("dist"))
                .localCheckpoint()
            )
            return (reached.unionByName(new), new.select("id")), new

        (reached, _), _ = fixpoint(
            (frontier.select("id", F.lit(0).cast("int").alias("dist")), frontier),
            step,
            max_hops,
        )
        return pinned_result(reached, edges)


def weighted_demand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted demand edges customer -> supplier: one edge
    per distinct trading relationship, weighted by the CHEAPEST link
    between the pair — ``min(l_quantity)`` as an exact bigint (TPC-H
    quantities are whole numbers, so the cast is lossless).

    Same one-shuffle key-on-key join as customer_supplier_edges; the
    min-aggregate collapses the lineitem fan-out map-side before any
    downstream relaxation sees the edges.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(SUPPLIER_OFFSET)).alias("dst"),
        )
        .agg(F.min("l_quantity").cast("bigint").alias("w"))
    )


def weighted_sssp(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Multi-source single-source-shortest-path (Bellman-Ford) over a
    directed (src, dst, w) bigint edge list: after ``rounds``
    relaxation rounds every node gets the minimum total weight of any
    path from the seed set using at most ``rounds`` edges. Pass both
    edge directions for an undirected graph; weights must be
    non-negative bigints (exact integers are what make the result a
    pure function of the graph — bit-identical in any engine and at
    any shuffle width). ``sources`` must have an ``id`` column.
    Returns (id, dist); unreached nodes are absent.

    Scale shape — DELTA relaxation, not full relaxation: round k
    relaxes only the edges leaving nodes whose distance IMPROVED in
    round k-1 (initially the seeds). A node whose distance did not
    change re-offers exactly the candidates it already offered, so
    skipping it loses nothing — which is why a full-relaxation SQL
    oracle (min over <= k-edge paths) verifies this frontier
    implementation bit-for-bit. Per-round work is proportional to the
    improved set's out-edges and collapses as distances converge; the
    loop exits early once a round improves nothing. Each round's
    distance map is localCheckpoint'ed, since the round references it
    twice (min-merge + anti-join). The edge list is the only large
    input, cached once (see ``fixpoint``).
    """
    if rounds < 0:
        raise ValueError(f"weighted_sssp requires rounds >= 0, got {rounds}")
    with pin_width(edges):
        edges = edges.select("src", "dst", F.col("w").cast("bigint").alias("w")).cache()
        dist = (
            sources.select(F.col("id").cast("bigint").alias("id"))
            .distinct()
            .select("id", F.lit(0).cast("bigint").alias("dist"))
            .localCheckpoint()
        )
        if dist.count() == 0:
            raise ValueError("weighted_sssp requires a non-empty source set")

        def step(state, _r):
            dist, improved = state
            offers = (
                edges.join(
                    improved.select(F.col("id").alias("src"), "dist"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
            )
            improved = (
                offers.join(dist, "id", "left")
                .filter(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
                .select("id", F.col("nd").alias("dist"))
                .localCheckpoint()
            )
            dist = (
                dist.join(improved.select("id"), "id", "left_anti")
                .unionByName(improved)
                .localCheckpoint()
            )
            return (dist, improved), improved

        (dist, _), _ = fixpoint((dist, dist), step, rounds)
        return pinned_result(dist, edges)


def repeat_trading_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed repeat-trading edges customer -> supplier: one edge per
    pair that traded in at least TWO distinct orders. The repeat
    filter sparsifies the dense demand graph (median degree drops from
    ~100 to single digits at sf0.1) into the relationship graph where
    cohesion analysis (k-core) is actually informative — one-off
    transactions are noise, repeat business is structure.

    One orders ⋈ lineitem join keyed on the order key, then a
    map-side-combinable count_distinct per (customer, supplier) pair
    with the >= 2 filter applied in the aggregate's HAVING position —
    the fan-out collapses before any downstream iteration sees edges.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(SUPPLIER_OFFSET)).alias("dst"),
        )
        .agg(F.count_distinct("o_orderkey").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
) -> DataFrame:
    """Synchronous k-core peeling over a (src, dst) bigint edge list:
    each round simultaneously removes every node whose degree within
    the currently-alive subgraph is < ``k``, for ``rounds`` rounds —
    the standard cohesion decomposition (the k-core is the fixpoint;
    peel depth ranks how deeply a node is embedded in it). Pass both
    edge directions for an undirected graph.

    Returns (id, peel_round) for EVERY node: peel_round = r >= 1 when
    the node was removed in round r, peel_round = 0 when it is still
    alive after all rounds (in the approximate k-core). Synchronous
    rounds (not the sequential min-degree peel) make the result a pure
    function of the graph — order-free, exact integers, so a fully
    unrolled SQL twin verifies it bit-for-bit.

    Scale shape: the edge list is the only large input, cached once;
    each round is two semi-joins (edge endpoints against the alive
    set) feeding ONE map-side-combined degree count, and the alive set
    — always shrinking, referenced three times per round — is
    localCheckpoint'ed per round (see ``fixpoint``). The loop exits
    early when a round removes nothing: the peel has reached its
    fixpoint and later rounds are identity.
    """
    if k < 1:
        raise ValueError(f"kcore_peel requires k >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"kcore_peel requires rounds >= 1, got {rounds}")
    with pin_width(edges):
        edges = edges.select("src", "dst").cache()
        # both directions present => every node appears as a src
        alive = edges.select(F.col("src").alias("id")).distinct().localCheckpoint()

        def step(state, r):
            alive, peeled = state
            survivors = (
                edges.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .groupBy(F.col("src").alias("id"))
                .agg(F.count(F.lit(1)).alias("_deg"))
                .filter(F.col("_deg") >= k)
                .select("id")
                .localCheckpoint()
            )
            removed = (
                alive.join(survivors, "id", "left_anti")
                .select("id", F.lit(r).cast("int").alias("peel_round"))
                .localCheckpoint()
            )
            peeled = removed if peeled is None else peeled.unionByName(removed)
            return (survivors, peeled), removed

        (alive, peeled), _ = fixpoint((alive, None), step, rounds)
        out = alive.select("id", F.lit(0).cast("int").alias("peel_round"))
        if peeled is not None:
            out = peeled.unionByName(out)
        return pinned_result(out, edges)


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection over a
    (src, dst) bigint edge list (Raghavan et al. 2007, made
    deterministic): every node starts labeled with its own id; each
    round, every node simultaneously adopts the label carried by the
    PLURALITY of its neighbors, ties broken by the smallest label.
    Pass both edge directions for an undirected graph.

    Returns (id, community) for every node with >= 1 edge after
    ``rounds`` synchronous rounds. The classic async/random-order LPA
    is run-dependent; the synchronous + min-label form is a pure
    function of the graph, so a fully unrolled SQL twin replays the
    trajectory bit-for-bit — the g01/g06 iterative-oracle pattern on
    exact integer counts (no float score anywhere).

    Scale shape: edges cached once; each round is ONE join of the
    edge list against the (node-sized) label frame, one map-side-
    combined (node, label) count, and one per-node rank window — the
    count and the window share the node-keyed partitioning. Labels are
    localCheckpoint'ed per round (see ``fixpoint``), and the loop exits
    early at a fixpoint round (no label changed): the synchronous rule
    maps those labels to themselves, so later rounds are identity.
    """
    if rounds < 1:
        raise ValueError(f"label_propagation requires rounds >= 1, got {rounds}")
    with pin_width(edges):
        edges = edges.select("src", "dst").cache()
        # both directions present => every node appears as a src
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("label"))
            .localCheckpoint()
        )
        w = Window.partitionBy("id").orderBy(F.desc("_c"), F.asc("label"))

        def step(labels, _r):
            counts = (
                edges.join(
                    labels.select(F.col("id").alias("dst"), "label"), "dst"
                )
                .groupBy(F.col("src").alias("id"), "label")
                .agg(F.count(F.lit(1)).alias("_c"))
            )
            new = (
                counts.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select("id", "label")
                .localCheckpoint()
            )
            changed = (
                new.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
            )
            return new, changed

        labels, _ = fixpoint(labels, step, rounds)
        return pinned_result(
            labels.select("id", F.col("label").alias("community")), edges
        )


def connected_components(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration HASH-MIN connected components over a (src, dst)
    bigint edge list, treated as UNDIRECTED (the edge list is
    symmetrized internally):

        label_0(v)   = v
        label_{k+1}(v) = min(label_k(v), min_{u ~ v} label_k(u))

    After k iterations every node carries the minimum node id within
    k hops — the standard BSP components algorithm (Pregel's hello
    world). Convergence needs diameter iterations; like pagerank/hits
    this runs a FIXED k so the result is deterministic and
    oracle-replayable, and emits enough for the caller to detect
    convergence (``prev``/``cur`` label frames — zero diffs means a
    fixed point). All arithmetic is integer MIN, bit-exact in any
    engine and under any partitioning.

    Returns (id, lbl, prev_lbl): the k-iteration label and the
    (k-1)-iteration label per node.

    Scale shape: the symmetrized edge list and node set are cached
    loop invariants (the iterative-algorithm standard); each iteration
    is ONE key-on-key join + min-aggregate, both shuffling on node id
    so the exchange is reused (see ``fixpoint``). A fixed ``iterations``
    is the contract: the oracle unrolls exactly that many, so an
    unconverged run does not warn. At 100 TB use the alternating
    large-star/small-star variant to cut rounds; the register
    arithmetic is unchanged.
    """
    if iterations < 1:
        raise ValueError(f"connected_components requires iterations >= 1, got {iterations}")
    with pin_width(edges):
        # SELF-LOOP formulation: with (v, v) appended to the symmetrized
        # edge list, min(label(v), min_{u~v} label(u)) collapses to ONE
        # join + min-aggregate over symplus — the label frame is
        # referenced exactly once per iteration. The previous form
        # (neighbor-min joined back onto nodes ⋈ lbl) referenced lbl
        # TWICE per iteration with no lineage truncation, so the lazy
        # 3-iteration plan grew 2^k subtree copies (16,702 formatted plan
        # lines, 2,871 HashAggregates) and AQE's concurrent subtree
        # scheduling raced ~10 duplicate builds of the orders ⋈ lineitem
        # edge derivation past the sym cache — measured 152 jobs for one
        # g08 pass. Each iteration is localCheckpoint'ed, so per-iteration
        # plans stay constant-size and the trajectory runs each edge join
        # exactly once. Labels are exact integer MINs, so the restructured
        # trajectory is bit-identical to the unrolled oracle's.
        # cache the EDGE LIST, not the symmetrized union: the union's two
        # legs otherwise each replay the caller's edge derivation (the
        # orders ⋈ lineitem join in g08) to build it. The union is a
        # map-side concat of the cached frame — free to re-read per
        # iteration. No distinct on sym: MIN-aggregation is duplicate-
        # insensitive (a repeated neighbor contributes the same label), so
        # the dedup shuffle bought nothing — callers own edge dedup for
        # join-width economy (g08's edges are distinct by construction).
        edges = edges.select("src", "dst").cache()
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nodes = sym.select(F.col("src").alias("id")).distinct().cache()
        symplus = sym.unionByName(
            nodes.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        )
        lbl = nodes.select("id", F.col("id").alias("lbl")).localCheckpoint()

        def step(state, _r):
            _, lbl = state
            nxt = (
                symplus.join(
                    lbl.select(F.col("id").alias("dst"), F.col("lbl").alias("nlbl")),
                    "dst",
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("nlbl").alias("lbl"))
                .localCheckpoint()
            )
            return (lbl, nxt), None

        (prev, lbl), _ = fixpoint((lbl, lbl), step, iterations)
        return pinned_result(
            lbl.join(prev.select("id", F.col("lbl").alias("prev_lbl")), "id"),
            edges,
            nodes,
        )
