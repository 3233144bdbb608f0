"""Similarity-search tests: brute-force exactness on literal vectors,
LSH recall vs brute force on the embeddings fixture."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kaylee_spark.operators import similarity as S
from kaylee_spark.sources import load_table


def test_cosine_topk_literal(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame([(100, [1.0, 0.0])], ["query_id", "embedding"])
    rows = S.cosine_topk(corpus, queries, k=2).collect()
    assert [(r["neighbor_id"], round(r["cosine_sim"], 6)) for r in rows] == [
        (1, 1.0),
        (3, round(1 / math.sqrt(2), 6)),
    ]


def test_lsh_ann_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_bucketed_topk(emb, queries, k=5, n_planes=4, n_tables=4, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random 64-dim vectors have weak top-neighbor cosine (~0.4), the
    # hard case for sign LSH; 4 tables x 4 planes + 1-bit multi-probe
    # should still recover most of the true top-5
    assert recall >= 0.6, f"ANN recall {recall}"


def test_lsh_bucketed_topk_rejects_half_pinned_config(spark):
    """(p, L) only make sense as a pair: pinning one and leaving the
    other None used to silently re-plan BOTH, discarding the pinned
    value — it must raise instead."""
    import pytest

    corpus = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    queries = spark.createDataFrame([(100, [1.0, 0.0])], ["query_id", "embedding"])
    with pytest.raises(ValueError, match="n_planes and n_tables"):
        S.lsh_bucketed_topk(corpus, queries, n_planes=4, n_tables=None, dim=2)
    with pytest.raises(ValueError, match="n_planes and n_tables"):
        S.lsh_bucketed_topk(corpus, queries, n_planes=None, n_tables=4, dim=2)


def test_ivf_ann_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # near-isotropic corpus is IVF's hard case (neighbors scatter
    # across lists); probing 4/16 lists must still beat the 25%
    # coverage a random probe would give
    assert recall >= 0.4, f"IVF recall {recall}"


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """n_probe == n_centroids degrades IVF to exact search."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8).collect()
    }
    assert full == exact


def test_embedding_neardup_finds_duplicates(spark):
    base = [0.1 * i for i in range(8)]
    near = [0.1 * i + (0.001 if i == 0 else 0.0) for i in range(8)]
    ortho = [1.0 if i == 0 else -0.5 * i for i in range(8)]
    df = spark.createDataFrame([(1, base), (2, near), (3, ortho)], ["vec_id", "embedding"])
    pairs = S.sign_neardup_pairs(df, max_hamming=3, dim=8).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_table_signatures_match_numpy(spark):
    """The one-string SQL signature expression must agree with a
    straightforward numpy reimplementation of the same fold —
    regression pin for the py4j-reduction rewrite."""
    import numpy as np

    from pyspark.sql import functions as F

    from kaylee_spark.operators.similarity import _table_signatures, random_hyperplanes

    tables = [random_hyperplanes(8, 3, 42 + 1000 * t) for t in range(4)]
    rng = np.random.default_rng(5)
    vecs = [[float(x) for x in rng.standard_normal(8)] for _ in range(20)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "id int, v array<double>")
    got = {r.id: list(r.s) for r in df.select("id", _table_signatures("v", tables).alias("s")).collect()}
    for i, v in enumerate(vecs):
        want = []
        for planes in tables:
            bits = [1 if float(np.dot(v, p)) >= 0 else 0 for p in planes]
            acc = 0
            for bb in bits:
                acc = acc * 2 + bb
            want.append(acc)
        assert got[i] == want, (i, got[i], want)


def test_quantization_roundtrip_bound_and_ann_recall(spark, sf_dir):
    """int8 quantization must (a) reconstruct within the analytic
    bound max|x|/254 per element, and (b) barely perturb cosine top-k:
    exact search on dequantized vectors recovers >= 9 of the true
    top-10 for every probe."""
    from kaylee_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    qed = S.dequantize_embeddings(
        S.quantize_embeddings(emb, "embedding", "qvec", "qscale"),
        "qvec",
        "qscale",
        "recon",
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    bad = qed.filter(
        F.array_max(F.zip_with(v, F.col("recon"), lambda a, b: F.abs(a - b)))
        > (F.lit(127.0) / F.col("qscale")) / F.lit(254.0)
    )
    assert bad.count() == 0
    # int8 range respected
    rng = qed.select(
        F.min(F.array_min("qvec")).alias("lo"), F.max(F.array_max("qvec")).alias("hi")
    ).first()
    assert -127 <= rng["lo"] and rng["hi"] <= 127

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(emb, queries, k=10)
    qcorpus = qed.select("vec_id", F.col("recon").alias("embedding"))
    qqueries = queries  # probe with the ORIGINAL query vectors
    approx = S.cosine_topk(qcorpus, qqueries, k=10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    for qid in range(5):
        hits = len({n for q, n in e if q == qid} & {n for q, n in a if q == qid})
        assert hits >= 9, f"query {qid}: only {hits}/10 of true top-10 survive int8"


def test_nearest_centroid_recovers_planted_clusters(spark):
    """Vectors drawn near three well-separated prototypes must classify
    perfectly: the confusion matrix is the diagonal."""
    import random

    from kaylee_spark.operators.similarity import nearest_centroid_assign

    rng = random.Random(7)
    protos = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = []
    for i in range(90):
        lab = i % 3
        rows.append(
            (i, [v + rng.uniform(-0.5, 0.5) for v in protos[lab]], lab)
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = nearest_centroid_assign(df).collect()
    assert all(r["assigned_label"] == r["true_label"] for r in out)
    # bit-deterministic under repartitioning (decimal folds, exact means)
    again = nearest_centroid_assign(df.repartition(11)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_mmr_topk_prefers_diverse_over_near_duplicate(spark):
    from kaylee_spark.operators.similarity import mmr_topk

    # b is the best match; a is a near-copy of b; c is diverse but
    # equally relevant as a. Pure relevance ranks a second; MMR must
    # rank c second (a's similarity to the already-picked b erases
    # its margin) and push the near-copy to last.
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),          # a
            (2, [1.0, 0.01, 0.0]),         # b (near-dup of a, best rel)
            (3, [0.0, 1.0, 0.0]),          # c (diverse)
        ],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 1.0, 0.0])], "query_id long, embedding array<float>"
    )
    out = mmr_topk(corpus, queries, k=3, pool=3, lam=0.5).orderBy("rank").collect()
    assert [r["vec_id"] for r in out] == [2, 3, 1]
    # relevance-only order would have been [2, 1, 3]
    assert [r["rank"] for r in out] == [1, 2, 3]


def test_mmr_topk_rank1_is_pure_relevance_argmax(spark):
    from kaylee_spark.operators.similarity import mmr_topk
    from kaylee_spark.operators.similarity import cosine_topk

    import random

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(1, 40)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [rng.uniform(-1, 1) for _ in range(8)]),
         (101, [rng.uniform(-1, 1) for _ in range(8)])],
        "query_id long, embedding array<float>",
    )
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk(corpus, queries, k=1).collect()
    }
    first_picks = {
        r["query_id"]: r["vec_id"]
        for r in mmr_topk(corpus, queries, k=4, pool=10, lam=0.5).filter("rank = 1").collect()
    }
    assert first_picks == top1


def test_bucket_balanced_sample_quota_and_determinism(spark):
    from kaylee_spark.operators.similarity import bucket_balanced_sample

    import random

    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    out = bucket_balanced_sample(emb, k_per_bucket=3, bucket_bits=4).collect()
    per_bucket = {}
    for r in out:
        per_bucket.setdefault(r["bucket"], []).append(r)
    # quota respected, ranks dense from 1, buckets within range
    for b, rows in per_bucket.items():
        assert 0 <= b < 16
        assert 1 <= len(rows) <= 3
        assert sorted(r["rk"] for r in rows) == list(range(1, len(rows) + 1))
    # deterministic: a repartitioned rerun picks the identical set
    again = bucket_balanced_sample(
        emb.repartition(13), k_per_bucket=3, bucket_bits=4
    ).collect()
    assert {(r["bucket"], r["vec_id"], r["rk"]) for r in again} == {
        (r["bucket"], r["vec_id"], r["rk"]) for r in out
    }


# ---------------------------------------------------------------------------
# kmeans_fit_assign
# ---------------------------------------------------------------------------


def _ref_kmeans(vecs, k, iterations):
    """Pure-Python replay of the exact lattice trajectory."""
    import math

    from kaylee_spark.operators.similarity import (
        KMEANS_QUANT_OFFSET,
        KMEANS_QUANT_SCALE,
    )

    lat = {
        vid: [math.floor(float(x) * KMEANS_QUANT_SCALE) + KMEANS_QUANT_OFFSET for x in v]
        for vid, v in vecs
    }
    ids = sorted(lat)
    cents = {j: list(lat[ids[j]]) for j in range(k)}
    assign = {}
    for it in range(iterations):
        assign = {}
        for vid, x in lat.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(x, c)), cl)
                for cl, c in sorted(cents.items())
            )
            assign[vid] = (best[1], best[0])
        if it == iterations - 1:
            break
        nxt = {}
        for cl in sorted(cents):
            members = [lat[vid] for vid, (c, _) in assign.items() if c == cl]
            if members:
                n = len(members)
                nxt[cl] = [sum(col) // n for col in zip(*members)]
        cents = nxt
    return assign


def test_kmeans_matches_python_reference(spark):
    import random

    from kaylee_spark.operators.similarity import kmeans_fit_assign

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-0.6, 0.6) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cluster"], r["dist_sq"])
        for r in kmeans_fit_assign(df, dim=8, k=3, iterations=3).collect()
    }
    assert got == _ref_kmeans(vecs, 3, 3)


def test_kmeans_recovers_planted_clusters(spark):
    import random

    from kaylee_spark.operators.similarity import kmeans_fit_assign

    rng = random.Random(11)
    vecs = []
    for i in range(30):
        center = [0.5 if (i % 3) == j else -0.5 for j in range(4)]
        vecs.append((i, [c + rng.uniform(-0.05, 0.05) for c in center]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = kmeans_fit_assign(df, dim=4, k=3, iterations=3).collect()
    by_truth = {}
    for r in out:
        by_truth.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
    # each planted cluster maps to exactly one learned cluster, all distinct
    assert all(len(s) == 1 for s in by_truth.values())
    assert len({s.pop() for s in by_truth.values()}) == 3


def test_kmeans_width_independent_and_contract(spark, at_width):
    import pytest

    from kaylee_spark.operators.similarity import kmeans_fit_assign

    vecs = [(i, [float(i % 5) / 10, float(i % 7) / 10]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    base = {
        (r["vec_id"], r["cluster"], r["dist_sq"])
        for r in kmeans_fit_assign(df, dim=2, k=2, iterations=2).collect()
    }
    pinned = {
        (r["vec_id"], r["cluster"], r["dist_sq"])
        for r in kmeans_fit_assign(
            at_width(3).createDataFrame(vecs, df.schema).repartition(9), dim=2, k=2, iterations=2
        ).collect()
    }
    assert base == pinned  # exact integers: partitioning is purely physical
    with pytest.raises(ValueError):
        kmeans_fit_assign(df, dim=2, k=1)
    with pytest.raises(ValueError):
        kmeans_fit_assign(df, dim=2, k=2, iterations=0)
    with pytest.raises(ValueError):
        kmeans_fit_assign(df.limit(1), dim=2, k=2)


# ---------------------------------------------------------------------------
# pq_encode
# ---------------------------------------------------------------------------


def _ref_pq(vecs, m, k, iterations):
    """Pure-Python replay: m independent lattice Lloyd's runs."""
    import math

    from kaylee_spark.operators.similarity import (
        KMEANS_QUANT_OFFSET,
        KMEANS_QUANT_SCALE,
    )

    dim = len(vecs[0][1])
    sub = dim // m
    lat = {
        vid: [math.floor(float(x) * KMEANS_QUANT_SCALE) + KMEANS_QUANT_OFFSET for x in v]
        for vid, v in vecs
    }
    ids = sorted(lat)
    out = {vid: [0] * m for vid in lat}
    err = {vid: 0 for vid in lat}
    for s in range(m):
        dims = range(s * sub, (s + 1) * sub)
        sl = {vid: [lat[vid][i] for i in dims] for vid in lat}
        cents = {j: list(sl[ids[j]]) for j in range(k)}
        for it in range(iterations):
            assign = {
                vid: min(
                    (sum((a - b) ** 2 for a, b in zip(x, c)), cl)
                    for cl, c in sorted(cents.items())
                )
                for vid, x in sl.items()
            }
            if it == iterations - 1:
                break
            nxt = {}
            for cl in sorted(cents):
                members = [sl[vid] for vid, (_, c) in assign.items() if c == cl]
                if members:
                    n = len(members)
                    nxt[cl] = [sum(col) // n for col in zip(*members)]
            cents = nxt
        for vid, (d, cl) in assign.items():
            out[vid][s] = cl
            err[vid] += d
    return {vid: (tuple(out[vid]), err[vid]) for vid in lat}


def test_pq_matches_python_reference(spark):
    import random

    from kaylee_spark.operators.similarity import pq_encode

    rng = random.Random(3)
    vecs = [(i, [rng.uniform(-0.6, 0.6) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: ((r["c0"], r["c1"]), r["dist_sq"])
        for r in pq_encode(df, dim=8, m=2, k=3, iterations=2).collect()
    }
    assert got == _ref_pq(vecs, 2, 3, 2)


def test_pq_m1_equals_kmeans(spark):
    import random

    from kaylee_spark.operators.similarity import kmeans_fit_assign, pq_encode

    rng = random.Random(5)
    vecs = [(i, [rng.uniform(-0.5, 0.5) for _ in range(6)]) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    pq = {
        r["vec_id"]: (r["c0"], r["dist_sq"])
        for r in pq_encode(df, dim=6, m=1, k=3, iterations=3).collect()
    }
    km = {
        r["vec_id"]: (r["cluster"], r["dist_sq"])
        for r in kmeans_fit_assign(df, dim=6, k=3, iterations=3).collect()
    }
    assert pq == km


def test_pq_width_independent_and_contract(spark, at_width):
    import pytest

    from kaylee_spark.operators.similarity import pq_encode

    vecs = [(i, [float(i % 5) / 10, float(i % 7) / 10, float(i % 3) / 10, 0.1])
            for i in range(24)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    base = {
        tuple(r) for r in pq_encode(df, dim=4, m=2, k=2, iterations=2).collect()
    }
    pinned = {
        tuple(r)
        for r in pq_encode(
            at_width(3).createDataFrame(vecs, df.schema).repartition(7), dim=4, m=2, k=2, iterations=2
        ).collect()
    }
    assert base == pinned
    # every code addresses a real centroid: 0 <= c < k
    assert all(0 <= r[1] < 2 and 0 <= r[2] < 2 for r in base)
    with pytest.raises(ValueError):
        pq_encode(df, dim=4, m=3)  # m must divide dim
    with pytest.raises(ValueError):
        pq_encode(df, dim=4, m=2, k=1)
    with pytest.raises(ValueError):
        pq_encode(df, dim=4, m=2, iterations=0)
    with pytest.raises(ValueError):
        pq_encode(df.limit(1), dim=4, m=2, k=2)


# ---------------------------------------------------------------------------
# pq_neardup_pairs
# ---------------------------------------------------------------------------


def test_pq_neardup_matches_reference_buckets(spark):
    import math
    import random

    from kaylee_spark.operators.similarity import (
        KMEANS_QUANT_OFFSET,
        KMEANS_QUANT_SCALE,
        pq_neardup_pairs,
    )

    rng = random.Random(17)
    vecs = [(i, [rng.uniform(-0.6, 0.6) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["dist_sq"]
        for r in pq_neardup_pairs(df, dim=8, m=2, k=3, iterations=2).collect()
    }
    ref_codes = _ref_pq(vecs, 2, 3, 2)
    lat = {
        vid: [math.floor(float(x) * KMEANS_QUANT_SCALE) + KMEANS_QUANT_OFFSET for x in v]
        for vid, v in vecs
    }
    want = {}
    ids = sorted(lat)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if ref_codes[a][0] == ref_codes[b][0]:
                want[(a, b)] = sum((x - y) ** 2 for x, y in zip(lat[a], lat[b]))
    assert got == want


def test_pq_neardup_planted_duplicates_pair_up(spark):
    from kaylee_spark.operators.similarity import pq_neardup_pairs

    # 3 tight planted clusters; exact duplicates must always share cells
    base = [[0.5, -0.5, 0.5, -0.5], [-0.5, 0.5, -0.5, 0.5], [0.5, 0.5, -0.5, -0.5]]
    vecs = []
    for i in range(30):
        c = base[i % 3]
        vecs.append((i, [x + (i // 3) * 1e-6 for x in c]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = pq_neardup_pairs(df, dim=4, m=2, k=3, iterations=3).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # same-cluster near-identical vectors must co-bucket
    same = [(a, b) for a in range(30) for b in range(a + 1, 30) if a % 3 == b % 3]
    assert pairs.issuperset(same)
    # and their exact distances are tiny vs cross-cluster scale:
    # members differ by <= 9 lattice units per coordinate (i//3 * 1e-6),
    # so dist_sq <= 9^2 * 4 = 324; cross-cluster is ~(10^6)^2
    dist = {(r["id_a"], r["id_b"]): r["dist_sq"] for r in out}
    assert all(dist[p] <= 324 for p in same)


# ---------------------------------------------------------------------------
# knn_graph
# ---------------------------------------------------------------------------


def test_knn_graph_exact_shape_and_selfless(spark, sf_dir):
    from kaylee_spark.operators.similarity import knn_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    out = knn_graph(emb, k=3).cache()
    rows = out.count()
    assert rows == n * 3  # k edges per node
    assert out.filter("src = dst").count() == 0
    # ranks are exactly 1..k per src
    from pyspark.sql import functions as F

    per = out.groupBy("src").agg(F.sort_array(F.collect_list("rank")).alias("r"))
    bad = per.filter(F.col("r") != F.array(F.lit(1), F.lit(2), F.lit(3))).count()
    assert bad == 0
    out.unpersist()


# ---------------------------------------------------------------------------
# semantic_clusters
# ---------------------------------------------------------------------------


def test_semantic_clusters_labels_every_vector(spark, sf_dir):
    from pyspark.sql import functions as F

    from kaylee_spark.operators.similarity import semantic_clusters, sign_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semantic_clusters(emb, max_hamming=3, dim=64).cache()
    assert out.count() == emb.count()  # every vector labeled
    # cluster label is always the cluster's own minimum member id
    mins = out.groupBy("cluster").agg(F.min("vec_id").alias("lo"))
    assert mins.filter("cluster <> lo").count() == 0
    # canonical flag marks exactly one row per cluster
    canon = out.groupBy("cluster").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_canon")
    )
    assert canon.filter("n_canon <> 1").count() == 0
    # paired vectors never straddle clusters
    pairs = sign_neardup_pairs(emb, max_hamming=3, dim=64).select("id_a", "id_b")
    lab = out.select(F.col("vec_id").alias("id_a"), F.col("cluster").alias("ca")).join(
        pairs, "id_a"
    ).join(out.select(F.col("vec_id").alias("id_b"), F.col("cluster").alias("cb")), "id_b")
    assert lab.filter("ca <> cb").count() == 0
    out.unpersist()


def test_hard_negative_topk_excludes_same_label(spark):
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 7),    # same label as anchor -> excluded even at sim 1.0
            (2, [0.9, 0.1], 3),
            (3, [0.0, 1.0], 3),
            (4, [-1.0, 0.0], 5),
        ],
        ["vec_id", "embedding", "label"],
    )
    anchors = spark.createDataFrame([(100, [1.0, 0.0], 7)], ["query_id", "embedding", "label"])
    rows = S.hard_negative_topk(corpus, anchors, k=3).collect()
    assert [r["neighbor_id"] for r in rows] == [2, 3, 4]      # sim-desc order
    assert all(r["neighbor_label"] != 7 for r in rows)
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert rows[0]["query_label"] == 7


def test_hard_negative_plan_broadcasts_anchors(spark):
    corpus = spark.createDataFrame([(1, [1.0, 0.0], 0)], ["vec_id", "embedding", "label"])
    anchors = spark.createDataFrame([(9, [1.0, 0.0], 1)], ["query_id", "embedding", "label"])
    plan = S.hard_negative_topk(corpus, anchors)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pq_adc_recall_against_exact(spark, sf_dir):
    """ADC is approximate; on the fixture its top-10 should still
    recover a solid share of the true lattice-nearest neighbors (a
    recall floor, not equality — the oracle hash gate pins exactness
    of the ADC arithmetic itself)."""
    emb = load_table(spark, sf_dir, "embeddings")
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in S.pq_adc_topk(emb, dim=64, query_ids=[0, 1, 2], topk=10).collect()
    }
    queries = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=10).collect()
    }
    # 4x4 codebooks on near-isotropic vectors are a coarse quantizer:
    # demand non-trivial overlap, not equality
    assert len(adc & exact) >= 3


def test_pq_adc_self_excluded_and_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = S.pq_adc_topk(emb, dim=64, query_ids=[0, 1], topk=5).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in a)
    b = S.pq_adc_topk(emb, dim=64, query_ids=[0, 1], topk=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
