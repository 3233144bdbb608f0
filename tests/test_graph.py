"""PageRank invariants (oracle equality is covered by test_oracle's
g01 row; these pin the algebra on hand-checkable graphs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaylee_spark.operators.graph import RANK_SCALE, pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_two_node_cycle_exact(spark):
    """A 2-cycle is fully symmetric: every iteration redistributes all
    mass evenly, so each node holds exactly RANK_SCALE/2 pico-ranks
    (0.15/2 teleport + 0.85 * (RANK_SCALE/2 / 1) * 17//20 term)."""
    out = {r["id"]: r["rank_e12"] for r in pagerank(_edges(spark, [(1, 2), (2, 1)])).collect()}
    half = RANK_SCALE // 2
    expected = (RANK_SCALE * 3 // 20) // 2 + (17 * half) // 20
    assert out == {1: expected, 2: expected}


def test_pagerank_star_ranks_hub_highest(spark):
    """All spokes point at a hub: the hub must out-rank every spoke,
    and spokes (identical by symmetry) hold identical ranks."""
    edges = _edges(spark, [(i, 99) for i in range(1, 6)])
    out = {r["id"]: r["rank_e12"] for r in pagerank(edges).collect()}
    spoke_ranks = {v for k, v in out.items() if k != 99}
    assert len(spoke_ranks) == 1
    assert out[99] > spoke_ranks.pop()


def test_pagerank_mass_conservation_bound(spark):
    """Total mass never exceeds RANK_SCALE, and floor-division leakage
    is bounded: each of the 3 iterations loses < 1 pico-rank per node
    per integer division (teleport div, per-edge div, damping div) plus
    the dangling hub's entire damped share."""
    edges = _edges(spark, [(i, (i % 7) + 100) for i in range(1, 50)])
    ranks = pagerank(edges)
    total = ranks.agg(F.sum("rank_e12").alias("t")).first()["t"]
    n = ranks.count()
    assert total <= RANK_SCALE
    # dangling nodes (the 7 hubs) forfeit their damped mass each step;
    # with 7/56 of nodes dangling the remaining mass still dominates
    assert total > RANK_SCALE // 4


def test_pagerank_partitioning_invariance(spark):
    """Bit-identical ranks whatever the input partitioning — the
    fixed-point claim that makes the oracle hash-match possible."""
    pairs = [(i, (i * 3) % 11 + 50) for i in range(40)]
    a = pagerank(_edges(spark, pairs).repartition(1)).collect()
    b = pagerank(_edges(spark, pairs).repartition(16)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hits_two_node_symmetric_and_invariance(spark, at_width):
    """Symmetric bipartite 2x2 complete graph: both hubs tie at the
    max score, both authorities tie; results bit-identical at any
    shuffle width and partitioning (exact integer normalization)."""
    from kaylee_spark.operators.graph import HITS_SCALE, hits

    pairs = [(1, 10), (1, 11), (2, 10), (2, 11)]
    out = {(r["id"], r["role"]): r["score_e6"] for r in hits(_edges(spark, pairs)).collect()}
    assert out[(1, "hub")] == out[(2, "hub")] == HITS_SCALE
    assert out[(10, "authority")] == out[(11, "authority")] == HITS_SCALE
    a = sorted(map(tuple, hits(_edges(at_width(2), pairs).repartition(1)).collect()))
    b = sorted(map(tuple, hits(_edges(at_width(16), pairs).repartition(16)).collect()))
    assert a == b


def test_hits_popular_authority_outranks(spark):
    """An authority cited by every hub must score HITS_SCALE; one cited
    by a single hub scores strictly less."""
    from kaylee_spark.operators.graph import HITS_SCALE, hits

    pairs = [(h, 100) for h in range(1, 6)] + [(1, 200)]
    out = {(r["id"], r["role"]): r["score_e6"] for r in hits(_edges(spark, pairs)).collect()}
    assert out[(100, "authority")] == HITS_SCALE
    assert out[(200, "authority")] < HITS_SCALE


def test_triangle_stats_hand_graph(spark):
    from kaylee_spark.operators.graph import triangle_stats

    # triangle {1,2,3} + pendant 1-4 + square 5-6-7-8 (no triangle)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (5, 6), (6, 7), (7, 8), (5, 8)],
        "u long, v long",
    )
    r = triangle_stats(edges).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (8, 8, 1)
    assert r["n_wedges"] >= r["n_triangles"]


def test_triangle_stats_k4_every_wedge_closes(spark):
    from kaylee_spark.operators.graph import triangle_stats

    # K4: all degrees equal -> orientation falls back to id order,
    # out-degrees (3, 2, 1, 0) -> wedges C(3,2)+C(2,2) = 4, and every
    # wedge closes: triangles = C(4,3) = 4
    k4 = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)], "u long, v long"
    )
    r = triangle_stats(k4).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (4, 6, 4, 4)


# ---------------------------------------------------------------------------
# bfs_distances
# ---------------------------------------------------------------------------


def _bfs(spark, edges, sources, **kw):
    from kaylee_spark.operators.graph import bfs_distances

    e = spark.createDataFrame(edges, ["src", "dst"])
    s = spark.createDataFrame([(x,) for x in sources], ["id"])
    out = bfs_distances(e, s, **kw)
    return {r["id"]: r["dist"] for r in out.collect()}


def test_bfs_path_graph_levels(spark):
    # 1 -> 2 -> 3 -> 4 -> 5, seeds {1}: dist = position; 5 beyond max_hops=3
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    got = _bfs(spark, edges, [1], max_hops=3)
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_multi_source_takes_minimum(spark):
    # seeds {1, 5} on a path: node 3 is 2 hops from both sides
    edges = [(1, 2), (2, 3), (5, 4), (4, 3)]
    got = _bfs(spark, edges, [1, 5], max_hops=3)
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_early_exit_and_unreachable_absent(spark):
    # component {1,2} exhausts at hop 1; {8,9} never appears
    edges = [(1, 2), (8, 9)]
    got = _bfs(spark, edges, [1], max_hops=5)
    assert got == {1: 0, 2: 1}


def test_bfs_cycle_does_not_relabel(spark):
    edges = [(1, 2), (2, 3), (3, 1)]
    got = _bfs(spark, edges, [1], max_hops=4)
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_zero_hops_returns_seeds_only(spark):
    got = _bfs(spark, [(1, 2)], [1], max_hops=0)
    assert got == {1: 0}


def test_bfs_contract_errors(spark):
    import pytest
    from kaylee_spark.operators.graph import bfs_distances

    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    s = spark.createDataFrame([], "id bigint")
    with pytest.raises(ValueError):
        bfs_distances(e, s)
    with pytest.raises(ValueError):
        bfs_distances(e, spark.createDataFrame([(1,)], ["id"]), max_hops=-1)


# ---------------------------------------------------------------------------
# weighted_sssp
# ---------------------------------------------------------------------------


def _ref_sssp(edges, seeds, rounds):
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        if nxt == dist:
            break
        dist = nxt
    return dist


def test_sssp_matches_python_reference(spark):
    import random

    from kaylee_spark.operators.graph import weighted_sssp

    rng = random.Random(13)
    edges = [
        (rng.randrange(30), rng.randrange(30), rng.randrange(1, 20))
        for _ in range(120)
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,), (1,)], "id long")
    for rounds in (0, 1, 3):
        got = {
            r["id"]: r["dist"]
            for r in weighted_sssp(df, seeds, rounds=rounds).collect()
        }
        assert got == _ref_sssp(edges, [0, 1], rounds)


def test_sssp_prefers_cheap_multi_hop(spark):
    from kaylee_spark.operators.graph import weighted_sssp

    # direct edge costs 10; two-hop detour costs 2+3
    df = spark.createDataFrame(
        [(0, 9, 10), (0, 1, 2), (1, 9, 3)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    one = {r["id"]: r["dist"] for r in weighted_sssp(df, seeds, rounds=1).collect()}
    two = {r["id"]: r["dist"] for r in weighted_sssp(df, seeds, rounds=2).collect()}
    assert one[9] == 10 and two[9] == 5


def test_sssp_early_exit_width_independence_and_contract(spark, at_width):
    import pytest

    from kaylee_spark.operators.graph import weighted_sssp

    df = spark.createDataFrame([(0, 1, 4), (1, 2, 4)], "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "id long")
    # rounds far beyond the diameter converge via the empty-improvement exit
    far = {r["id"]: r["dist"] for r in weighted_sssp(df, seeds, rounds=50).collect()}
    assert far == {0: 0, 1: 4, 2: 8}
    s3 = at_width(3)
    df3 = s3.createDataFrame([(0, 1, 4), (1, 2, 4)], "src long, dst long, w long")
    pinned = {
        r["id"]: r["dist"]
        for r in weighted_sssp(
            df3.repartition(5), s3.createDataFrame([(0,)], "id long"), rounds=50
        ).collect()
    }
    assert pinned == far
    with pytest.raises(ValueError):
        weighted_sssp(df, seeds, rounds=-1)
    with pytest.raises(ValueError):
        weighted_sssp(df, seeds.limit(0), rounds=2)


# ---------------------------------------------------------------------------
# kcore_peel
# ---------------------------------------------------------------------------


def _both_dirs(spark, pairs):
    fwd = [(a, b) for a, b in pairs]
    return spark.createDataFrame(
        fwd + [(b, a) for a, b in fwd], "src long, dst long"
    )


def _ref_kcore(pairs, k, rounds):
    """Pure-Python synchronous peel replay."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    out = {}
    for r in range(1, rounds + 1):
        removed = {n for n in alive if len(adj[n] & alive) < k}
        if not removed:
            break
        for n in removed:
            out[n] = r
        alive -= removed
    for n in alive:
        out[n] = 0
    return out


def test_kcore_clique_survives_pendant_chain_cascades(spark):
    from kaylee_spark.operators.graph import kcore_peel

    # 4-clique (0-3) with a pendant path 3-10-11: at k=2 the path end
    # (11) peels in round 1, which strands 10 for round 2; the clique
    # (degree 3 inside) never peels.
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs = clique + [(3, 10), (10, 11)]
    got = {
        r["id"]: r["peel_round"]
        for r in kcore_peel(_both_dirs(spark, pairs), k=2, rounds=3).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 11: 1, 10: 2}


def test_kcore_matches_python_reference(spark):
    import random

    from kaylee_spark.operators.graph import kcore_peel

    rng = random.Random(7)
    pairs = {
        tuple(sorted((rng.randrange(25), rng.randrange(25))))
        for _ in range(60)
    }
    pairs = [(a, b) for a, b in pairs if a != b]
    for k in (2, 3):
        got = {
            r["id"]: r["peel_round"]
            for r in kcore_peel(_both_dirs(spark, pairs), k=k, rounds=3).collect()
        }
        assert got == _ref_kcore(pairs, k, 3)


def test_kcore_width_independence_and_contract(spark, at_width):
    import pytest

    from kaylee_spark.operators.graph import kcore_peel

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3)]
    edges = _both_dirs(spark, pairs)
    base = {r["id"]: r["peel_round"] for r in kcore_peel(edges, k=2, rounds=3).collect()}
    pinned = {
        r["id"]: r["peel_round"]
        for r in kcore_peel(_both_dirs(at_width(3), pairs).repartition(5), k=2, rounds=3).collect()
    }
    assert pinned == base == {0: 0, 1: 0, 2: 0, 3: 1}
    with pytest.raises(ValueError):
        kcore_peel(edges, k=0)
    with pytest.raises(ValueError):
        kcore_peel(edges, k=2, rounds=0)


# ---------------------------------------------------------------------------
# fixpoint: the round loop every iterative operator runs on
# ---------------------------------------------------------------------------

#: the clique-plus-chain k-core graph and the BFS path graph above
CLIQUE_CHAIN = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 10), (10, 11)]
PATH = [(1, 2), (2, 3), (3, 4), (4, 5)]


def _peel_step(edges, seen, states):
    """One synchronous 2-core peel round; delta = the removed nodes."""

    def step(alive, r):
        seen.append(r)
        survivors = (
            edges.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .groupBy(F.col("src").alias("id"))
            .count()
            .filter("count >= 2")
            .select("id")
            .localCheckpoint()
        )
        states.append(survivors)
        return survivors, alive.join(survivors, "id", "left_anti")

    return step


def test_fixpoint_stops_at_first_empty_delta_keeping_pre_round_state(spark):
    from kaylee_spark.operators.skew import fixpoint

    edges = _both_dirs(spark, CLIQUE_CHAIN)
    alive = edges.select(F.col("src").alias("id")).distinct()
    seen, states = [], []
    # round 1 peels 11, round 2 peels 10, round 3 peels nothing
    state, converged = fixpoint(alive, _peel_step(edges, seen, states), 10)
    assert seen == [1, 2, 3] and converged
    assert state is states[1]
    assert sorted(r["id"] for r in state.collect()) == [0, 1, 2, 3]


def test_fixpoint_converged_only_on_an_empty_delta(spark):
    from kaylee_spark.operators.skew import fixpoint

    edges = _both_dirs(spark, CLIQUE_CHAIN)
    alive = edges.select(F.col("src").alias("id")).distinct()
    seen, states = [], []
    state, converged = fixpoint(alive, _peel_step(edges, seen, states), 2)
    assert seen == [1, 2] and not converged and state is states[1]
    assert fixpoint(alive, _peel_step(edges, [], []), 0) == (alive, False)


def test_fixpoint_without_delta_runs_every_round(spark):
    from kaylee_spark.operators.skew import fixpoint

    frontier = spark.createDataFrame([(1,)], "id long")
    edges = _edges(spark, PATH)
    seen = []

    def hop(front, r):
        seen.append(r)
        return edges.join(front.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id")
        ), None

    state, converged = fixpoint(frontier, hop, 6)
    assert seen == [1, 2, 3, 4, 5, 6] and not converged
    assert state.collect() == []


def test_loop_job_counts_are_pinned(spark, build_jobs):
    """A round loop's actions are its checkpoints plus one count per
    round; a primitive that added an action would move these."""
    from kaylee_spark.operators.graph import bfs_distances, kcore_peel

    edges = _both_dirs(spark, CLIQUE_CHAIN)
    # converges in round 3. Each round: 3 broadcasts, 2 checkpoints and
    # the count; plus the first alive set and the result.
    assert build_jobs(lambda: kcore_peel(edges, k=2, rounds=3)) == 20
    seeds = spark.createDataFrame([(1,)], "id long")
    assert build_jobs(lambda: bfs_distances(_edges(spark, PATH), seeds, max_hops=3)) == 11


def test_label_propagation_two_cliques(spark):
    from kaylee_spark.operators.graph import label_propagation

    # two triangles bridged by one weak edge: LPA should settle each
    # triangle on its min member id, and the bridge must not merge them
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    bridge = [(3, 10)]
    fwd = spark.createDataFrame(tri1 + tri2 + bridge, ["src", "dst"])
    edges = fwd.union(fwd.select("dst", "src"))
    got = {r["id"]: r["community"] for r in label_propagation(edges, rounds=3).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12]
    assert got[10] != got[1]


def test_label_propagation_matches_python_reference(spark):
    from kaylee_spark.operators.graph import label_propagation

    # deterministic pseudo-random sparse graph, synchronous reference
    pairs, x = set(), 5
    for _ in range(60):
        x = (x * 48271) % 2147483647
        a = x % 20
        x = (x * 48271) % 2147483647
        b = x % 20
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {v: v for v in adj}
    for _ in range(3):
        new = {}
        for v, nbrs in adj.items():
            freq = {}
            for u in nbrs:
                freq[labels[u]] = freq.get(labels[u], 0) + 1
            best = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == labels:
            break
        labels = new
    fwd = spark.createDataFrame(sorted(pairs), ["src", "dst"])
    edges = fwd.union(fwd.select("dst", "src"))
    got = {r["id"]: r["community"] for r in label_propagation(edges, rounds=3).collect()}
    assert got == labels
