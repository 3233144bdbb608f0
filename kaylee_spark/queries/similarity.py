"""Similarity-search queries over the embeddings fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaylee_spark.operators import similarity as S
from kaylee_spark.queries import query
from kaylee_spark.sources import load_table


# Exact brute-force top-10 for query vectors 0..4 — shared by s01 and,
# by construction, by the ANN variants s02/s04: their candidate sets
# provably cover the true top-10 on the fixture (asserted in
# tests/test_similarity.py) and they re-rank with the identical
# cosine expression (parity_rerank), so their output EQUALS this.
_EXACT_TOPK_ORACLE = """
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                            c.vec_id ASC) AS INT) AS rank
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ) WHERE rank <= 10
    """


@query("s01_cosine_topk", oracle=_EXACT_TOPK_ORACLE, extra=True)
def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 5 query vectors.

    Scale: the query set broadcasts; corpus scanned once; per-query
    rank (row_number window) keeps only k rows per query. Scores are
    rounded to 6dp on BOTH sides so last-ulp association differences
    between engines can't flip the hash.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.cosine_topk(emb, queries, k=10, id_col="vec_id", vec_col="embedding", query_id_col="query_id")
    return out.select("query_id", "neighbor_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@query("s02_lsh_ann_topk", oracle=_EXACT_TOPK_ORACLE, extra=True)
def s02_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH + exact re-rank, with the
    (planes, tables) config chosen by the LSH PLANNER
    (operators/lsh_planner signlsh_plan: 1-bit multi-probe S-curve,
    recall 0.9999 at cosine 0.45 within 48 bits -> 4 planes x 12
    tables — the multi-probe term is what affords 4-plane-deep tables
    at that recall; the plain exact-bucket law would either need 92
    bits at 4 planes or fall back to shallower tables with a worse
    false-candidate rate).

    Driver-verifiable against the exact-top-k oracle: at this fixture
    scale the 12-table candidate union covers the true top-10 for every
    query (recall 1.0, asserted in tests/test_similarity.py), and
    parity_rerank scores candidates with the same cosine expression as
    s01 — so the output equals the exact result while the PLAN remains
    the bucketed ANN plan (candidate volume ~ bucket occupancy, not
    corpus size). Sub-1.0-recall configs stay property-tested.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.lsh_bucketed_topk(
        emb, queries, k=10, n_planes=None, n_tables=None, dim=64, parity_rerank=True
    )
    return out.select("query_id", "neighbor_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


@query("s04_ivf_ann_topk", oracle=_EXACT_TOPK_ORACLE, extra=True)
def s04_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via IVF: k-means coarse quantizer (pyspark.ml) +
    inverted-list probing + exact re-rank.

    Driver-verifiable against the exact-top-k oracle by pinning
    n_probe = n_centroids: every list is probed, so candidate coverage
    is exhaustive BY CONSTRUCTION and (with parity_rerank) the output
    equals s01's exact result while the plan is still the full IVF
    structure (index build -> probe ranking -> list search -> re-rank).
    No smaller probe count reaches recall 1.0 on this fixture — the
    embeddings are near-isotropic random vectors, so true cosine
    neighbors scatter across all Voronoi cells; the realistic
    probe-4-of-16 recall/cost tradeoff is property-tested in
    tests/test_similarity.py instead.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=16, dim=64, parity_rerank=True)
    return out.select("query_id", "neighbor_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")


def _sign_ctes() -> str:
    """Shared CTE chain deriving each vector's integer sign signature
    (``sigs``: vec_id, sig) — used by the s03 pair oracle and the s12
    cluster oracle so both replay the identical integer arithmetic."""
    bits, dim = S.SIGNATURE_BITS, 64
    return f"""dims AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS k,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * {S.SIGN_FIXED_SCALE}) AS BIGINT) AS v
        FROM embeddings
    ),
    signs AS (
        SELECT j.range AS j, k.range AS k,
               CASE WHEN ((j.range * {dim} + k.range + 1) * {S._SIGN_MULT})
                         % {S._SIGN_FOLD} % 2 = 1 THEN 1 ELSE -1 END AS s
        FROM range({bits}) j, range({dim}) k
    ),
    dots AS (
        SELECT d.vec_id, s.j,
               SUM(CASE WHEN s.s = 1 THEN d.v ELSE -d.v END) AS dot
        FROM dims d JOIN signs s ON d.k = s.k
        GROUP BY d.vec_id, s.j
    ),
    sigs AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j)
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        FROM dots GROUP BY vec_id
    )"""


def _s03_oracle() -> str:
    """Quadratic DuckDB twin of the sign-signature near-dup pair set:
    re-derives every ±1 hyperplane entry from the same integer-
    arithmetic formula (operators/similarity.plane_sign), re-quantizes
    every element to the same fixed-point BIGINT pico-units, and
    brute-force popcounts all pairs — the bucketed Spark plan must
    emit exactly this set (pigeonhole completeness,
    operators/dedup.hamming_pairs)."""
    return f"""
    WITH {_sign_ctes()}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """


@query("s03_embedding_neardup", oracle=_s03_oracle(), extra=True)
def s03_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs by 24-bit sign-signature Hamming
    distance <= 3 (SRP-LSH: hamming/bits estimates angle/pi, so <=3
    of 24 is the ~22-degree near-duplicate cone). Signatures are
    integer-exact (±1 integer hyperplanes, fixed-point BIGINT projections) and
    come off the scan with no shuffle; pairs come from the COMPLETE
    pigeonhole-bucketed hamming join — sub-quadratic plan, quadratic-
    verified output."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.sign_neardup_pairs(emb, max_hamming=3, dim=64)


@query(
    "s05_quantization_error",
    oracle="""
    WITH scales AS (
        SELECT vec_id,
               127.0 / greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS s,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    )
    SELECT vec_id,
           list_max(list_transform(v, x -> abs(x - round(x * s) / s))) AS max_err,
           (127.0 / s) / 254.0 AS err_bound,
           list_max(list_transform(v, x -> abs(x - round(x * s) / s))) <= (127.0 / s) / 254.0 AS within_bound
    FROM scales
    """,
    extra=True,
)
def s05_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (8x smaller vectors through storage
    and every shuffle): per-vector max reconstruction error, checked
    against the analytic bound max|x|/254. The hash gate proves the
    emitted int8 codes and error arithmetic are engine-exact — both
    engines round HALF-AWAY and share IEEE double semantics. ANN recall
    on quantized vectors is asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qed = S.dequantize_embeddings(
        S.quantize_embeddings(emb, "embedding", "qvec", "qscale"),
        "qvec",
        "qscale",
        "recon",
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    err = F.array_max(F.zip_with(v, F.col("recon"), lambda a, b: F.abs(a - b)))
    bound = (F.lit(127.0) / F.col("qscale")) / F.lit(254.0)
    return qed.select(
        "vec_id",
        err.alias("max_err"),
        bound.alias("err_bound"),
        (err <= bound).alias("within_bound"),
    )


@query(
    "s06_nearest_centroid",
    oracle="""
    WITH dims AS (
        SELECT vec_id, label, dim, CAST(v AS DOUBLE) AS v FROM (
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding) AS v
            FROM embeddings)
    ),
    cent AS (
        SELECT label AS cand, dim,
               ROUND(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS c
        FROM dims GROUP BY label, dim
    ),
    d2 AS (
        SELECT d.vec_id, d.label AS true_label, c.cand,
               SUM(CAST((d.v - c.c) * (d.v - c.c) AS DECIMAL(28,12))) AS dist2
        FROM dims d JOIN cent c USING (dim)
        GROUP BY d.vec_id, d.label, c.cand
    ),
    assigned AS (
        SELECT vec_id, true_label, cand,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cand) AS rn
        FROM d2
    )
    SELECT CAST(true_label AS INT) AS true_label,
           CAST(cand AS INT) AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM assigned WHERE rn = 1
    GROUP BY true_label, cand
    """,
    extra=True,
)
def s06_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion matrix over the
    labeled embeddings (operators/similarity.nearest_centroid_assign):
    per-label prototypes via exact decimal means, then every vector
    classified at scan speed against the literal-folded prototypes;
    exact decimal distances make the assignment bit-deterministic."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.nearest_centroid_assign(emb, "vec_id", "embedding", "label")
    return out.groupBy(
        F.col("true_label").cast("int").alias("true_label"), "assigned_label"
    ).agg(F.count("*").alias("n_vectors"))


def _mmr_oracle(k: int = 5, pool: int = 20, lam: float = 0.5) -> str:
    """Greedy MMR unrolled into chained CTEs — one (step, sel) pair
    per rank, same shape as the g01/g02 iterative oracles. Every
    comparison is the identical IEEE double expression Spark computes
    (0.5 * rel - 0.5 * MAX(sim)); ties break by candidate id."""
    mu = 1.0 - lam
    parts = [
        f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cand AS (
        SELECT qid, cid, rel FROM (
            SELECT q.qid, c.cid, list_cosine_similarity(q.e, c.e) AS rel,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.cid ASC
                   ) AS rnk
            FROM q CROSS JOIN c WHERE c.cid <> q.qid
        ) WHERE rnk <= {pool}
    ),
    psim AS (
        SELECT x.qid, x.cid AS a, y.cid AS b,
               list_cosine_similarity(cx.e, cy.e) AS sim
        FROM cand x JOIN cand y ON x.qid = y.qid AND x.cid <> y.cid
        JOIN c cx ON cx.cid = x.cid
        JOIN c cy ON cy.cid = y.cid
    ),
    sel1 AS (
        SELECT qid, cid, 1 AS rank, mmr FROM (
            SELECT qid, cid, {lam} * rel AS mmr,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY {lam} * rel DESC, cid ASC
                   ) AS r
            FROM cand
        ) WHERE r = 1
    )"""
    ]
    prev = "sel1"
    for rank in range(2, k + 1):
        parts.append(
            f""",
    step{rank} AS (
        SELECT qid, cid, {rank} AS rank, mmr FROM (
            SELECT g.qid, g.cid, g.mmr,
                   ROW_NUMBER() OVER (
                       PARTITION BY g.qid ORDER BY g.mmr DESC, g.cid ASC
                   ) AS r
            FROM (
                SELECT cd.qid, cd.cid, {lam} * cd.rel - {mu} * MAX(p.sim) AS mmr
                FROM cand cd
                JOIN psim p ON p.qid = cd.qid AND p.a = cd.cid
                JOIN {prev} s ON s.qid = p.qid AND s.cid = p.b
                WHERE NOT EXISTS (
                    SELECT 1 FROM {prev} x WHERE x.qid = cd.qid AND x.cid = cd.cid
                )
                GROUP BY cd.qid, cd.cid, cd.rel
            ) g
        ) WHERE r = 1
    ),
    sel{rank} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM step{rank})"""
        )
        prev = f"sel{rank}"
    parts.append(
        f"""
    SELECT qid AS query_id, cid AS vec_id, CAST(rank AS INT) AS rank,
           CAST(ROUND(mmr, 6) AS DOUBLE) AS mmr_score
    FROM {prev}"""
    )
    return "".join(parts)


@query("s07_mmr_topk", oracle=_mmr_oracle(), extra=True)
def s07_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 (lambda=0.5, pool=20) for query vectors
    0..4 (operators/similarity.mmr_topk): greedy diversity-aware
    re-rank of the cosine top-20 — each pick maximizes relevance
    minus max-similarity-to-already-picked. The oracle unrolls the
    greedy loop into chained CTEs (the g01 iterative-oracle pattern
    applied to doubles: identical IEEE expressions + id tie-breaks
    instead of fixed-point)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.mmr_topk(emb, queries, k=5, pool=20, lam=0.5)


def _s08_oracle(k_per_bucket: int = 2, bucket_bits: int = 6) -> str:
    """DuckDB twin of the bucket-balanced coreset: re-derives the sign
    signatures exactly as _s03_oracle does, cells them on the low
    ``bucket_bits``, and ranks within each cell by the portable
    multiplicative hash (operators/sampling.portable_bucket_sql)."""
    from kaylee_spark.operators.sampling import portable_bucket_sql

    bits, dim = S.SIGNATURE_BITS, 64
    return f"""
    WITH dims AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS k,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * {S.SIGN_FIXED_SCALE}) AS BIGINT) AS v
        FROM embeddings
    ),
    signs AS (
        SELECT j.range AS j, k.range AS k,
               CASE WHEN ((j.range * {dim} + k.range + 1) * {S._SIGN_MULT})
                         % {S._SIGN_FOLD} % 2 = 1 THEN 1 ELSE -1 END AS s
        FROM range({bits}) j, range({dim}) k
    ),
    dots AS (
        SELECT d.vec_id, s.j,
               SUM(CASE WHEN s.s = 1 THEN d.v ELSE -d.v END) AS dot
        FROM dims d JOIN signs s ON d.k = s.k
        GROUP BY d.vec_id, s.j
    ),
    sigs AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j)
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        FROM dots GROUP BY vec_id
    ),
    cells AS (
        SELECT vec_id, sig % {1 << bucket_bits} AS bucket FROM sigs
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, vec_id,
           CAST(rk AS INT) AS rk
    FROM (
        SELECT bucket, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY {portable_bucket_sql('vec_id')} ASC, vec_id ASC
               ) AS rk
        FROM cells
    ) WHERE rk <= {k_per_bucket}
    """


@query("s08_diverse_coreset", oracle=_s08_oracle(), extra=True)
def s08_diverse_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced coreset: exact-2 vectors per coarse SRP-LSH
    cell (low 6 signature bits), ranked within each cell by the
    portable multiplicative hash
    (operators/similarity.bucket_balanced_sample) — the SemDeDup-style
    space-covering sample, fully re-derivable by any SQL engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.bucket_balanced_sample(emb, k_per_bucket=2, bucket_bits=6)


def _kmeans_oracle(dim: int = 64, k: int = 5, iterations: int = 3) -> str:
    """Unrolled Lloyd's iteration (the g01 pattern): every CTE pair
    (d_t, a_t) is one assignment step, c_t one exact integer centroid
    update — all arithmetic on the shared 1e-6 lattice, so DuckDB
    replays the Spark trajectory bit-for-bit."""
    from kaylee_spark.operators.similarity import (
        KMEANS_QUANT_OFFSET,
        KMEANS_QUANT_SCALE,
    )

    quant = ", ".join(
        f"CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * {KMEANS_QUANT_SCALE}.0)"
        f" AS BIGINT) + {KMEANS_QUANT_OFFSET} AS x{i}"
        for i in range(dim)
    )
    dist = " + ".join(f"(v.x{i} - c.x{i}) * (v.x{i} - c.x{i})" for i in range(dim))
    means = ", ".join(
        f"CAST(SUM(v.x{i}) // COUNT(*) AS BIGINT) AS x{i}" for i in range(dim)
    )
    ctes = [
        f"v AS (SELECT vec_id, {quant} FROM embeddings)",
        f"""c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
               {", ".join(f"x{i}" for i in range(dim))}
        FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {k})""",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"d{t} AS (SELECT v.vec_id, c.cl, CAST({dist} AS BIGINT) AS dist"
            f" FROM v CROSS JOIN c{t - 1} c)"
        )
        ctes.append(
            f"a{t} AS (SELECT vec_id, cl, dist FROM d{t}"
            f" QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id"
            f" ORDER BY dist, cl) = 1)"
        )
        if t < iterations:
            ctes.append(
                f"c{t} AS (SELECT a{t}.cl, {means} FROM a{t}"
                f" JOIN v ON a{t}.vec_id = v.vec_id GROUP BY a{t}.cl)"
            )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT vec_id, cl AS cluster, dist AS dist_sq FROM a{iterations}"
    )


@query("s09_kmeans", oracle=_kmeans_oracle(64, 5, 3))
def s09_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration Lloyd's k-means (k=5) over the 64-dim embeddings,
    exact on the 1e-6 integer lattice: deterministic smallest-id
    seeds, broadcast-Lloyd iterations (the k x dim model rides the
    plan as codegen literals, one cached scan + one k-row
    map-side-combined aggregate per iteration), lowest-cluster tie
    breaks. Returns every vector's final cluster and exact squared
    lattice distance (operators/similarity.py kmeans_fit_assign)."""
    from kaylee_spark.operators.similarity import kmeans_fit_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fit_assign(emb, dim=64, k=5, iterations=3)


def _pq_oracle(dim: int = 64, m: int = 4, k: int = 4, iterations: int = 2) -> str:
    """m independent unrolled Lloyd's trajectories (the s09 pattern),
    one per subspace, sharing the v lattice and seed CTEs, joined on
    vec_id at the end — DuckDB replays every codebook bit-for-bit and
    re-derives the exact total reconstruction error."""
    from kaylee_spark.operators.similarity import (
        KMEANS_QUANT_OFFSET,
        KMEANS_QUANT_SCALE,
    )

    sub = dim // m
    quant = ", ".join(
        f"CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * {KMEANS_QUANT_SCALE}.0)"
        f" AS BIGINT) + {KMEANS_QUANT_OFFSET} AS x{i}"
        for i in range(dim)
    )
    ctes = [
        f"v AS (SELECT vec_id, {quant} FROM embeddings)",
        f"""seed AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
               {", ".join(f"x{i}" for i in range(dim))}
        FROM v QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= {k})""",
    ]
    for s in range(m):
        dims = range(s * sub, (s + 1) * sub)
        dist = " + ".join(f"(v.x{i} - c.x{i}) * (v.x{i} - c.x{i})" for i in dims)
        means = ", ".join(
            f"CAST(SUM(v.x{i}) // COUNT(*) AS BIGINT) AS x{i}" for i in dims
        )
        ctes.append(
            f"c{s}_0 AS (SELECT cl, {', '.join(f'x{i}' for i in dims)} FROM seed)"
        )
        for t in range(1, iterations + 1):
            ctes.append(
                f"d{s}_{t} AS (SELECT v.vec_id, c.cl, CAST({dist} AS BIGINT) AS dist"
                f" FROM v CROSS JOIN c{s}_{t - 1} c)"
            )
            ctes.append(
                f"a{s}_{t} AS (SELECT vec_id, cl, dist FROM d{s}_{t}"
                f" QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id"
                f" ORDER BY dist, cl) = 1)"
            )
            if t < iterations:
                ctes.append(
                    f"c{s}_{t} AS (SELECT a{s}_{t}.cl, {means} FROM a{s}_{t}"
                    f" JOIN v ON a{s}_{t}.vec_id = v.vec_id GROUP BY a{s}_{t}.cl)"
                )
    codes = ", ".join(f"a{s}_{iterations}.cl AS c{s}" for s in range(m))
    total = " + ".join(f"a{s}_{iterations}.dist" for s in range(m))
    joins = " ".join(
        f"JOIN a{s}_{iterations} ON a0_{iterations}.vec_id = a{s}_{iterations}.vec_id"
        for s in range(1, m)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT a0_{iterations}.vec_id, {codes}, {total} AS dist_sq"
        + f"\n    FROM a0_{iterations} {joins}"
    )


@query("s10_pq_encode", oracle=_pq_oracle(64, 4, 4, 2), extra=True)
def s10_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the 64-dim embeddings: 4 subspaces of
    16 dims, an independent exact-lattice Lloyd's codebook (k=4, 2
    iterations, smallest-id seeds) per subspace, every vector encoded
    as 4 codes + its exact total squared reconstruction error. Codes
    are 4 bytes where the raw vector is 256 — the compressed corpus
    rides shuffles and memory at 64x less weight, with raw vectors
    touched only at re-rank (operators/similarity.py pq_encode).
    All 4 codebooks train off ONE shared cached lattice; the encode
    pass computes all 4 argmins in a single column-pruned select."""
    from kaylee_spark.operators.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_encode(emb, dim=64, m=4, k=4, iterations=2)


def _pq_neardup_oracle(dim: int = 64, m: int = 4, k: int = 4, iterations: int = 2) -> str:
    """The s10 trajectory CTEs, extended with a same-cell self-join and
    an exact full-lattice pair distance — all integer arithmetic."""
    base = _pq_oracle(dim, m, k, iterations)
    head, _, final = base.rpartition("\n    SELECT ")
    assert final.startswith("a0_")
    codes_cte = (
        "codes AS (SELECT " + final.replace(", "
        + " + ".join(f"a{s}_{iterations}.dist" for s in range(m))
        + " AS dist_sq", "") + ")"
    )
    chain = " + ".join(f"(va.x{i} - vb.x{i}) * (va.x{i} - vb.x{i})" for i in range(dim))
    on = " AND ".join(f"a.c{s} = b.c{s}" for s in range(m))
    return (
        head
        + ",\n    " + codes_cte
        + f""",
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM codes a JOIN codes b ON {on} AND a.vec_id < b.vec_id
    )
    SELECT p.id_a, p.id_b, CAST({chain} AS BIGINT) AS dist_sq
    FROM pairs p JOIN v va ON p.id_a = va.vec_id JOIN v vb ON p.id_b = vb.vec_id
    """
    )


@query("d15_pq_neardup", oracle=_pq_neardup_oracle(64, 4, 4, 2), extra=True)
def d15_pq_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-duplicate candidates from learned quantization:
    embedding pairs landing in the SAME cell of all 4 PQ subspace
    codebooks, each carrying its exact full-lattice squared distance
    for geometric thresholding downstream. The candidate→verify shape
    of d04 with data-adaptive buckets: the self-join runs on 4-int
    code tuples (k^m = 256 cells, Σ|cell|² cost), and the 64-wide
    vectors re-join only for surviving pairs
    (operators/similarity.py pq_neardup_pairs)."""
    from kaylee_spark.operators.similarity import pq_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_neardup_pairs(emb, dim=64, m=4, k=4, iterations=2)


@query(
    "s11_knn_graph",
    oracle="""
    SELECT src, dst, cosine_sim, rank FROM (
        SELECT q.vec_id AS src, c.vec_id AS dst,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                            c.vec_id ASC) AS INT) AS rank
        FROM embeddings q CROSS JOIN embeddings c
        WHERE c.vec_id <> q.vec_id
    ) WHERE rank <= 5
    """,
    extra=True,
)
def s11_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph over the full embedding corpus (k=5): every vector's
    directed edges to its most-similar neighbors — the substrate the
    graph family (components, label propagation, k-core) runs on for
    semantic clustering. Exact baseline path hash-gated here (corpus
    broadcasts as its own query set, rank inside each src partition);
    the LSH-bucketed 100 TB path shares the same contract and is
    recall-property-tested (operators/similarity.py knn_graph)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=5)


def _s12_oracle() -> str:
    """s03's sign-signature pair set closed under a recursive-CTE
    transitive closure (the d06 pattern), labeling every vector."""
    return f"""
    WITH RECURSIVE {_sign_ctes()},
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node AS v, MIN(label) AS cluster FROM reach GROUP BY node)
    SELECT e.vec_id,
           COALESCE(c.cluster, e.vec_id) AS cluster,
           (e.vec_id = COALESCE(c.cluster, e.vec_id)) AS is_canonical
    FROM embeddings e LEFT JOIN comp c ON c.v = e.vec_id
    """


@query("s12_semantic_clusters", oracle=_s12_oracle(), extra=True)
def s12_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup CLUSTERS: s03's integer-exact
    sign-signature pairs closed under min-label connected components,
    every vector labeled with a deterministic canonical — the
    embedding twin of d06's text clusters, and the keep/drop decision
    a curation pipeline consumes. CC runs on the id-only pair graph
    (pointer-jumping, localCheckpoint per round); vectors never enter
    the loop (operators/similarity.py semantic_clusters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_clusters(emb, max_hamming=3, dim=64)


@query(
    "s13_hard_negatives",
    oracle="""
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine_sim, rank FROM (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neighbor_id, c.label AS neighbor_label,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                            c.vec_id ASC) AS INT) AS rank
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 5 AND c.label <> q.label
    ) WHERE rank <= 10
    """,
    extra=True,
)
def s13_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for 5 anchor vectors: the 10 most cosine-
    similar corpus vectors whose LABEL differs from the anchor's — the
    contrastive-training negative sampler (operators/similarity.py
    hard_negative_topk). Broadcast anchors, one corpus scan, label
    mismatch filtered BEFORE the per-anchor rank window; scores rounded
    6dp on both sides (the s01 recipe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = S.hard_negative_topk(emb, anchors, k=10, query_id_col="query_id")
    return out.select(
        "query_id", "query_label", "neighbor_id", "neighbor_label",
        F.round("cosine_sim", 6).alias("cosine_sim"), "rank",
    )


def _pq_adc_oracle(dim: int = 64, m: int = 4, k: int = 4, iterations: int = 2, topk: int = 10) -> str:
    """The s10 codebook trajectory, extended with the query lookup:
    ADC distance = sum over subspaces of the exact lattice distance
    from the query's subvector to the centroid the corpus code names —
    the same integers pq_adc_topk's broadcast lookup table carries."""
    base = _pq_oracle(dim, m, k, iterations)
    head, _, _final = base.rpartition("\n    SELECT ")
    sub = dim // m
    it = iterations
    codes_sel = ", ".join(f"a{s}_{it}.cl AS c{s}" for s in range(m))
    joins = " ".join(
        f"JOIN a{s}_{it} ON a0_{it}.vec_id = a{s}_{it}.vec_id" for s in range(1, m)
    )
    codes_cte = f"codes AS (SELECT a0_{it}.vec_id, {codes_sel} FROM a0_{it} {joins})"
    q_cte = (
        "q AS (SELECT vec_id AS query_id, "
        + ", ".join(f"x{i}" for i in range(dim))
        + " FROM v WHERE vec_id < 5)"
    )
    cent_joins = " ".join(
        f"JOIN c{s}_{it - 1} cc{s} ON cc{s}.cl = kk.c{s}" for s in range(m)
    )
    dist = " + ".join(
        f"(q.x{i} - cc{s}.x{i}) * (q.x{i} - cc{s}.x{i})"
        for s in range(m)
        for i in range(s * sub, (s + 1) * sub)
    )
    scored_cte = f"""scored AS (
        SELECT q.query_id, kk.vec_id AS neighbor_id,
               CAST({dist} AS BIGINT) AS adc_dist
        FROM codes kk {cent_joins} CROSS JOIN q
        WHERE kk.vec_id <> q.query_id
    )"""
    return (
        head
        + ",\n    "
        + ",\n    ".join([codes_cte, q_cte, scored_cte])
        + f"""
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
        SELECT query_id, neighbor_id, adc_dist,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc_dist ASC, neighbor_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {topk}
    """
    )


@query("s14_pq_adc_topk", oracle=_pq_adc_oracle(64, 4, 4, 2, 10))
def s14_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search for 5 query vectors: per-query
    m x k exact-lattice lookup tables broadcast against the melted
    corpus codes — the Jégou-style ANN scan where the corpus side is
    3 ints per code and raw vectors are never touched
    (operators/similarity.py pq_adc_topk). Completes the vector stack:
    s10 compresses, d15 dedups in code space, s14 SEARCHES in code
    space; all on the s09 exact-integer lattice so the oracle replays
    codebooks, codes, and scores bit-for-bit."""
    from kaylee_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, dim=64, query_ids=[0, 1, 2, 3, 4], m=4, k=4, iterations=2, topk=10
    )
