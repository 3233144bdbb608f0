"""Similarity search over embedding columns (array<float>).

Two paths, matching the scale ladder:

- brute-force cosine top-k: exact baseline. The k-NN join is a
  broadcast of the (small) query set against the (huge) corpus —
  one corpus scan, per-partition top-k via window rank, no corpus
  shuffle until the final tiny k*|queries| rows.
- random-hyperplane LSH (signed projections -> bit signature ->
  bucket join): the at-scale ANN path. Candidates only within
  matching buckets; exact cosine re-ranks candidates.

Vector math uses built-in higher-order functions (zip_with +
aggregate, sequential fold -> deterministic) so everything stays in
the JVM; embeddings cast to double once at scan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kaylee_spark.operators.skew import pin_width

from kaylee_spark.functions import cosine, dot, l2_norm


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _with_normalized(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Add a unit-normalized copy of an array<double> column.

    Normalizing ONCE per vector turns every downstream cosine into a
    bare dot product — at corpus scale the verify stage touches each
    candidate PAIR, so moving the two norms out of the pair loop and
    into the per-vector scan removes 2/3 of the flops."""
    return df.withColumn("_nrm", l2_norm(F.col(vec_col))).withColumn(
        out_col, F.transform(F.col(vec_col), lambda x: x / F.col("_nrm"))
    ).drop("_nrm")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    corpus: (id_col, vec_col);  queries: (query_id_col, vec_col).
    Output: (query_id, neighbor_id, cosine_sim) — excludes self-match
    when ids coincide. Scale: broadcast queries, scan corpus once,
    rank within query partition.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("cosine_sim").cast("double"), "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (numpy RNG,
    fixed seed — reproducible across runs and engines)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _table_signatures(vec_name: str, tables: list[list[list[float]]]):
    """All per-table sign-bit bucket signatures as one array<int>
    (index = table id, value = packed bucket). ``vec_name`` is the
    array<double> column NAME holding the vector.

    The plane tensor rides in as a SINGLE nested-array literal node and
    the projections run through interpreted higher-order functions, so
    the expression tree stays constant-size no matter how large
    n_tables x n_planes x dim gets. Inlining each weight as its own
    literal instead (the naive form) builds a multi-thousand-node tree
    that Catalyst re-analyzes and re-optimizes on EVERY action — seconds
    of driver time per run before a single row moves. Per-row HOF
    interpretation is cheap here: signatures are computed once per
    vector, never per candidate pair.

    Bit packing is MSB-first in plane order (acc*2+b); any single-bit
    XOR still flips exactly one plane, which is all multi-probe needs.

    The WHOLE expression — tensor literal and the three nested
    higher-order folds — is one parsed SQL string. The ``F.lit`` +
    python-lambda form boxes every tensor float through an individual
    py4j call and round-trips each lambda through the bridge (~5 s of
    driver time for a 12x4x64 tensor, measured); one expr() string
    crosses the bridge once and parses JVM-side in ~20 ms. repr() emits
    the shortest round-trip decimal and the D suffix parses each weight
    directly as a double, and SQL lambdas fold in the same sequential
    order, so values are bit-identical to the lit form.
    """
    tensor = (
        "array("
        + ",".join(
            "array("
            + ",".join("array(" + ",".join(f"{float(w)!r}D" for w in plane) + ")" for plane in planes)
            + ")"
            for planes in tables
        )
        + ")"
    )
    return F.expr(
        f"""transform({tensor}, planes -> aggregate(
                transform(planes, p -> IF(
                    aggregate(zip_with({vec_name}, p, (x, w) -> x * w), 0.0D, (a, x) -> a + x) >= 0,
                    1, 0)),
                0, (acc, b) -> acc * 2 + b))"""
    )


def _rerank_topk(
    cands: DataFrame,
    q: DataFrame,
    c: DataFrame,
    k: int,
    dim: int,
    parity_rerank: bool,
) -> DataFrame:
    """Exact top-k re-rank of (query_id, neighbor_id) candidate pairs.

    Two float paths, same mathematical result:
    - default: normalize each vector once, unrolled fixed-dim dot per
      pair (codegen'd — the at-scale path; norms leave the pair loop).
    - parity_rerank: cosine(qv, cv) on the raw vectors — the EXACT
      expression cosine_topk uses, so when candidates cover the true
      top-k the output is bit-identical to the brute-force baseline
      (and hence to its SQL oracle). Near-ties can differ in the last
      ulp between the two paths, flipping the rank-k boundary; parity
      mode exists so ANN queries can share the exact query's oracle.
    """
    if parity_rerank:
        cands = cands.join(F.broadcast(q.withColumnRenamed("qv", "qn")), "query_id").join(
            c.withColumnRenamed("cv", "cn"), "neighbor_id"
        )
        scored = cands.withColumn("cosine_sim", cosine(F.col("qn"), F.col("cn")))
    else:
        qn = _with_normalized(q, "qv", "qn").select("query_id", "qn")
        cn = _with_normalized(c, "cv", "cn").select("neighbor_id", "cn")
        cands = cands.join(F.broadcast(qn), "query_id").join(cn, "neighbor_id")
        scored = cands.withColumn("cosine_sim", dot(F.col("qn"), F.col("cn")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("cosine_sim").cast("double"), "rank")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int | None = 4,
    n_tables: int | None = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    parity_rerank: bool = False,
    cos_threshold: float = 0.45,
    target_recall: float = 0.9999,
) -> DataFrame:
    """ANN top-k via multi-table random-hyperplane LSH + exact re-rank.

    Standard L-tables construction: n_tables independent sign-bit
    signatures of n_planes projections each. A corpus vector is a
    candidate for a query if they share a bucket in ANY table (plus
    1-bit-flip multi-probe buckets on the query side). Candidates are
    deduped then exactly re-ranked by cosine. Per-table bucket fan-out
    partitions the corpus 2^p ways, so cost/recall tunes smoothly via
    (p, L) — the knob that matters at 10^9 vectors.

    Pass n_planes=None / n_tables=None to have lsh_planner.signlsh_plan
    choose (p, L): the minimum-junk-candidate config whose 1-bit
    multi-probe S-curve holds ``target_recall`` at ``cos_threshold``
    (the weakest neighbor cosine the caller still wants surfaced)
    within a 48-bit signature budget.
    """
    if n_planes is None and n_tables is None:
        from kaylee_spark.operators.lsh_planner import signlsh_plan

        plan = signlsh_plan(
            cos_threshold, target_recall=target_recall, max_bits=48, probe_bits=1
        )
        n_tables, n_planes = plan.bands, plan.rows
    elif n_planes is None or n_tables is None:
        # don't silently discard a half-pinned config: (p, L) only make
        # sense together — the planner chooses the PAIR
        raise ValueError(
            "pass both n_planes and n_tables (explicit config) or neither "
            "(planner default); a half-pinned pair would be silently re-planned"
        )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))

    tables = [random_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    c_exploded = c.select(
        "neighbor_id", "cv", F.posexplode(_table_signatures("cv", tables)).alias("table", "bucket")
    )

    # query side: own bucket + all 1-bit-flip probes, per table
    probe_structs = F.flatten(
        F.transform(
            _table_signatures("qv", tables),
            lambda sig, t: F.array(
                F.struct(t.alias("table"), sig.alias("bucket")),
                *[
                    F.struct(t.alias("table"), sig.bitwiseXOR(F.lit(1 << i)).alias("bucket"))
                    for i in range(n_planes)
                ],
            ),
        )
    )
    q_exploded = q.withColumn("tb", F.explode(probe_structs)).select("query_id", "qv", "tb.table", "tb.bucket")

    # dedupe candidates on the bare id pair, then rejoin the vectors —
    # the distinct must not shuffle dim-wide arrays per candidate.
    cands = (
        c_exploded.join(F.broadcast(q_exploded.select("query_id", "table", "bucket")), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rerank_topk(cands, q, c, k, dim, parity_rerank)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    max_iter: int = 5,
    parity_rerank: bool = False,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization + re-rank.

    The scale path for billion-vector corpora, complementing the LSH
    variant: a k-means coarse quantizer (pyspark.ml, JVM-side) assigns
    every corpus vector to one of n_centroids inverted lists — this is
    the expensive one-off INDEX BUILD, amortized across queries. Each
    query probes its n_probe nearest centroids and re-ranks only those
    lists exactly, so per-query cost is ~(n_probe/n_centroids) of a
    full scan. At 100 TB: fit k-means on a sample, write the assigned
    corpus partitioned BY list_id so a probe prunes file partitions.
    Recall tunes via n_probe; n_probe == n_centroids degrades to exact.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"))
    featured = c.withColumn("features", array_to_vector("cv")).cache()
    # coarse quantizer only needs rough Voronoi cells — few Lloyd
    # iterations; every iteration is a full corpus pass at scale.
    model = KMeans(
        k=n_centroids, seed=seed, maxIter=max_iter, initMode="random",
        featuresCol="features", predictionCol="list_id",
    ).fit(featured)
    assigned = model.transform(featured).select("neighbor_id", "cv", "list_id")

    # probe: per query, the n_probe nearest centroids by squared L2.
    # centroids are driver-side tiny (k x dim floats) — a k-row
    # DataFrame cross-joined with the (small) query set; inlining them
    # as literal columns instead compiles a k*dim-term expression that
    # blows up codegen time.
    centers = [(l, [float(x) for x in ctr]) for l, ctr in enumerate(model.clusterCenters())]
    cents = queries.sparkSession.createDataFrame(centers, "list_id int, ctr array<double>")

    q = queries.select(F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    d2 = F.aggregate(
        F.zip_with("qv", "ctr", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes = q.crossJoin(F.broadcast(cents)).withColumn("d2", d2)
    wp = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("list_id"))
    probed = probes.withColumn("pr", F.row_number().over(wp)).filter(F.col("pr") <= n_probe).select("query_id", "list_id")

    # search only the probed inverted lists, then exact re-rank
    cands = (
        assigned.select("neighbor_id", "list_id")
        .join(F.broadcast(probed), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return _rerank_topk(cands, q, assigned.select("neighbor_id", "cv"), k, dim, parity_rerank)


#: Sign-signature constants: ±1 hyperplane entries derived from the
#: Knuth multiplicative hash folded through the Mersenne prime 2^31-1
#: — three integer ops any engine (or auditor) reproduces exactly.
SIGNATURE_BITS = 24
_SIGN_MULT = 2654435761
_SIGN_FOLD = 2147483647


def plane_sign(j: int, k: int, dim: int) -> int:
    """Entry (j, k) of the ±1 hyperplane matrix: +1 iff the mixed
    integer ((j*dim + k + 1) * 2654435761) % (2^31-1) is odd. The
    mod-prime fold breaks the parity structure of the raw product
    (2654435761 is odd, so the product's low bit would just alternate
    with the index)."""
    return 1 if ((j * dim + k + 1) * _SIGN_MULT) % _SIGN_FOLD % 2 == 1 else -1


#: fixed-point quantization scale for the sign projections: each
#: embedding element becomes round(x * 1e12) pico-units in BIGINT.
SIGN_FIXED_SCALE = 1_000_000_000_000


def sign_signatures(
    corpus: DataFrame,
    bits: int = SIGNATURE_BITS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector ``bits``-bit sign signature (SRP-LSH): bit j = 1 iff
    the vector's projection onto ±1-hyperplane j is positive.

    EXACT & ENGINE-PORTABLE by construction: the hyperplane entries
    are ±1 integers derived from plane_sign's integer arithmetic, and
    each element is quantized ONCE to fixed-point BIGINT pico-units
    (round(CAST(x AS DOUBLE) * 1e12) — the float->double cast and the
    half-away round are IEEE-deterministic in any engine, the same
    contract s05's quantization oracle proves), so every projection
    is a sum of ±bigints: exact, associative, bit-identical in every
    engine and under every partitioning. The same fixed-point
    determinism that makes PageRank (g01) oracle-verifiable, applied
    to LSH. Headroom: |element| < ~10 => |term| < 1e13, a 64-term sum
    < 1e15 — five orders below int64.

    Scale shape: one row-local projection — signatures come off the
    scan with NO shuffle and no Python; the ±bigint chains are plain
    long additions. (Two rejected alternatives, measured: DECIMAL
    projections in flat chains blow janino's 64 KB method limit and
    pay a failed compile + interpreted decimal ops per action; a
    zip_with/aggregate HOF fold over decimals evaluates lambdas
    element-at-a-time with boxed Decimals — ~40 s for 2000 vectors
    vs well under a second for the bigint chains.)
    """
    vi = f"transform(v, x -> CAST(round(CAST(x AS DOUBLE) * {SIGN_FIXED_SCALE}) AS BIGINT))"
    bit_terms = []
    for j in range(bits):
        dot_j = " + ".join(
            ("" if plane_sign(j, k, dim) > 0 else "-") + f"vi[{k}]" for k in range(dim)
        )
        bit_terms.append(
            f"IF(({dot_j}) > 0, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
        )
    sig = " + ".join(bit_terms)
    # fan_out: bits x dim bigint terms per row — keep the projection
    # off the single-row-group scan's one core (skew.fan_out is the
    # identity on any already-parallel input)
    from kaylee_spark.operators.skew import fan_out

    return (
        fan_out(corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")))
        .selectExpr("vid", f"{vi} AS vi")
        .selectExpr("vid", f"CAST({sig} AS BIGINT) AS sig")
    )


def sign_neardup_pairs(
    corpus: DataFrame,
    max_hamming: int = 3,
    bits: int = SIGNATURE_BITS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs by sign-signature Hamming distance:
    all (id_a, id_b, hamming) with hamming <= max_hamming, where
    hamming/bits estimates the angular distance theta/pi (the SRP-LSH
    collision identity). Unlike a float-cosine threshold, the
    signature predicate is integer-exact, and the pigeonhole bucketed
    plan (operators/dedup.hamming_pairs) is COMPLETE for it — so the
    sub-quadratic Spark plan emits exactly the pair set a quadratic
    scan (or the DuckDB oracle) defines."""
    sig = sign_signatures(corpus, bits=bits, dim=dim, id_col=id_col, vec_col=vec_col)
    from kaylee_spark.operators.dedup import hamming_pairs

    return hamming_pairs(sig, max_hamming, bits, id_col="vid", sig_col="sig", out_prefix="id")


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: 8x smaller vectors for
    storage and shuffle at 100 TB (a 64-dim float64 row shrinks from
    512 B to 64 B + one float scale).

    Each vector gets scale = 127 / max|x| and elements round(x * scale)
    in [-127, 127] (tinyint). Reconstruction error per element is
    bounded by 0.5 / scale = max|x| / 254 (tested). All arithmetic is
    built-in element-wise expressions — codegen'd, no Python. Rounding
    is HALF_UP away from zero on both Spark and DuckDB, so the emitted
    ints are engine-exact (the oracle-checked query relies on this).
    """
    v = _as_double(F.col(vec_col))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.greatest(maxabs, F.lit(1e-30))
    return df.withColumn(scale_col, scale).withColumn(
        q_col,
        F.transform(v, lambda x: F.round(x * F.col(scale_col)).cast("tinyint")),
    )


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "qvec",
    scale_col: str = "qscale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of quantize_embeddings (lossy: within 0.5/scale per
    element)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") / F.col(scale_col)),
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean embedding ("class prototype"), long format:
    (label, dim, c) with the mean rounded to 6dp.

    The per-dimension sums accumulate in DECIMAL(28,12): decimal
    addition is exact and associative, so the prototype is
    bit-identical under any partitioning or engine (a double sum is
    merge-order-dependent and could never hash-match an external
    oracle). float->decimal conversion is safe cross-engine because a
    float widened to double can't land exactly on a half-way 12th
    decimal digit, so every rounding mode agrees.

    Scale: posexplode to (label, dim, v) then ONE map-side-combined
    aggregate over |labels| * dims groups — the result is model-sized
    (KBs), whatever the corpus size.
    """
    dims = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")).alias("dim", "v"),
    )
    return dims.groupBy("label", "dim").agg(
        F.round(
            (F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count("*")), 6
        ).alias("c")
    )


def nearest_centroid_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Assign every vector to its nearest class prototype (squared
    euclidean), returning (id, true_label, assigned_label).

    The centroid table is MODEL STATE — |labels| * dims floats, KBs —
    so it is collected once and folded into a single codegen'd
    expression: per row, one decimal-fold zip per label and an
    array_min over (distance, label) structs. Classification runs at
    scan speed with no join and no shuffle (the same
    parameters-as-literals shape as s04's broadcast k-means centers).
    Distances accumulate in DECIMAL(28,12) (exact, associative), and
    ties break on the smaller label — bit-deterministic end to end.
    """
    cent_rows = label_centroids(df, vec_col, label_col).collect()
    by_label: dict = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[r["dim"]] = r["c"]
    labels = sorted(by_label)
    emb_d = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    dist_structs = ", ".join(
        "named_struct('d2', aggregate(zip_with({e}, array({cs}), (v, c) -> CAST((v - c) * (v - c) AS DECIMAL(28,12))), CAST(0 AS DECIMAL(28,12)), (a, x) -> CAST(a + x AS DECIMAL(28,12))), 'label', {l})".format(
            e=emb_d,
            cs=", ".join(repr(by_label[l][d]) for d in sorted(by_label[l])),
            l=int(l),
        )
        for l in labels
    )
    assigned = F.expr(f"array_min(array({dist_structs})).label")
    return df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("true_label"),
        assigned.cast("int").alias("assigned_label"),
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: greedy re-rank of
    each query's top-``pool`` cosine candidates so every next pick
    maximizes  lam * rel(d)  -  (1 - lam) * max_{s in S} sim(d, s)
    (with the diversity term 0 for the first pick) — the standard
    knob for retrieval/curation that must not return k near-copies of
    the same document (RAG contexts, eval-set sampling, labeling
    batches).

    Output: (query_id, vec_id, rank 1..k, mmr_score) — the objective
    value AT selection time, rounded 6dp.

    Scale shape: candidate generation is the broadcast-query corpus
    scan of cosine_topk (the expensive part — everything after runs on
    pool * |queries| rows). Pairwise sims materialize once (pool² per
    query, e.g. 400 rows for pool=20 — bounded by the POOL, not the
    corpus), and the greedy loop is k-1 driver iterations over those
    tiny cached frames; per-query groups are independent, so
    parallelism = |queries|. Determinism: every comparison is the
    identical IEEE double expression on both engines, ties break by
    id, MAX over selected is order-independent — which is what lets a
    greedy iterative re-ranker hash-match a SQL oracle at all. The
    loop runs under ``pin_width(corpus)`` (see pagerank); scores are
    width-independent, the pin is purely physical.
    """
    if k < 1:
        raise ValueError(f"mmr_topk requires k >= 1, got {k}")
    if pool < k:
        raise ValueError(f"mmr_topk requires pool >= k, got pool={pool} k={k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"mmr_topk requires 0 <= lam <= 1, got {lam}")
    # the loop body checkpoints every step, so the returned frame's
    # lineage is already materialized in-scope; the final select is
    # trivial under any caller conf
    with pin_width(corpus):
        cands = cosine_topk(
            corpus, queries, k=pool, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col
        )
        ce = corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
        )
        # localCheckpoint (eager) rather than cache: every loop step below
        # references the previous step's frame THREE times (max-sim join,
        # anti-join, union), so a lazy lineage grows 3^k plan copies — at
        # k=5 that is an 81x plan blow-up that costs more to ANALYZE than
        # to run, and re-invocation OOMs the driver on tree strings.
        # Checkpointing truncates lineage to the materialized rows (pool x
        # |queries| at most), keeping every step's plan constant-size.
        cand_e = (
            cands.select("query_id", "neighbor_id", F.col("cosine_sim").alias("rel"))
            .join(ce, "neighbor_id")
            .localCheckpoint()
        )
        a = cand_e.select("query_id", F.col("neighbor_id").alias("a"), F.col("cv").alias("va"))
        b = cand_e.select("query_id", F.col("neighbor_id").alias("b"), F.col("cv").alias("vb"))
        psim = (
            a.join(b, "query_id")
            .filter(F.col("a") != F.col("b"))
            .withColumn("sim", cosine(F.col("va"), F.col("vb")))
            .select("query_id", "a", "b", "sim")
            .localCheckpoint()
        )
        rels = cand_e.select("query_id", "neighbor_id", "rel")
        w = Window.partitionBy("query_id").orderBy(F.desc("mmr"), F.asc("neighbor_id"))
        selected = (
            rels.withColumn("mmr", F.lit(lam) * F.col("rel"))
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("query_id", "neighbor_id", F.lit(1).alias("rank"), "mmr")
            .localCheckpoint()
        )
        for rank in range(2, k + 1):
            maxsim = (
                psim.join(
                    selected.select("query_id", F.col("neighbor_id").alias("b")),
                    ["query_id", "b"],
                )
                .groupBy("query_id", F.col("a").alias("neighbor_id"))
                .agg(F.max("sim").alias("maxsim"))
            )
            nxt = (
                rels.join(
                    selected.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                    "left_anti",
                )
                .join(maxsim, ["query_id", "neighbor_id"])
                .withColumn(
                    "mmr", F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("maxsim")
                )
                .withColumn("r", F.row_number().over(w))
                .filter(F.col("r") == 1)
                .select("query_id", "neighbor_id", F.lit(rank).alias("rank"), "mmr")
            )
            selected = selected.unionByName(nxt).localCheckpoint()
        return selected.select(
            "query_id",
            F.col("neighbor_id").alias("vec_id"),
            F.col("rank").cast("int").alias("rank"),
            F.round("mmr", 6).cast("double").alias("mmr_score"),
        )


def bucket_balanced_sample(
    corpus: DataFrame,
    k_per_bucket: int = 2,
    bucket_bits: int = 6,
    bits: int = SIGNATURE_BITS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-balanced coreset sample: exact-k vectors per semantic
    bucket, where the bucket is the low ``bucket_bits`` of the
    portable sign signature (a coarse SRP-LSH cell — nearby vectors
    share cells). The SemDeDup-style pruning shape: instead of
    sampling the corpus uniformly (which over-represents dense
    regions), keep a fixed quota per semantic cell so the sample
    covers the embedding space — the standard trick for building
    eval/labeling subsets and deduplicated coresets from web-scale
    embeddings.

    Fully deterministic AND externally auditable: the cell comes from
    the integer-exact sign signature (see sign_signatures) and the
    within-cell ranking from the portable multiplicative hash
    (operators/sampling.portable_bucket), so any SQL engine can
    re-derive the exact member set — no Spark rerun needed for a
    compliance audit of "which vectors made the coreset".

    Output: (bucket, vec_id, rk) with rk 1..k per bucket.

    Scale shape: signatures come off the scan row-locally; the only
    shuffle keys on the 2^bucket_bits cells, and exact-k selection is
    a per-cell window rank (per-cell candidates must co-locate — the
    same inherent cost as stratified_sample_k). Cell occupancy on
    isotropic data is |corpus| / 2^bucket_bits: raise ``bucket_bits``
    with corpus size to keep cells bounded (and the sample's coverage
    resolution rises with it, which is what you want at scale).
    """
    from kaylee_spark.operators.sampling import portable_bucket

    if k_per_bucket < 1:
        raise ValueError(f"bucket_balanced_sample requires k_per_bucket >= 1, got {k_per_bucket}")
    if not (1 <= bucket_bits <= bits):
        raise ValueError(
            f"bucket_balanced_sample requires 1 <= bucket_bits <= bits ({bits}), got {bucket_bits}"
        )
    sig = sign_signatures(corpus, bits=bits, dim=dim, id_col=id_col, vec_col=vec_col)
    b = sig.select(
        "vid", (F.col("sig") % F.lit(1 << bucket_bits)).alias("bucket")
    )
    w = Window.partitionBy("bucket").orderBy(
        portable_bucket(F.col("vid")).asc(), F.col("vid").asc()
    )
    return (
        b.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k_per_bucket)
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("vid").alias(id_col),
            F.col("rk").cast("int").alias("rk"),
        )
    )


#: k-means lattice: embeddings land on an exact integer grid of 1e-6
#: resolution, then shift by +2^20 so every coordinate is non-negative
#: (floor-division and truncating division agree on non-negatives, so
#: Spark's DIV, DuckDB's //, and Python's // all compute the same
#: centroid means). Distances are shift-invariant, so the offset never
#: reaches the output.
KMEANS_QUANT_SCALE = 1_000_000
KMEANS_QUANT_OFFSET = 1 << 20  # > max|x| * scale for unit-ish embeddings


def kmeans_lattice(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project a float embedding column onto the exact k-means integer
    lattice: one BIGINT column per dimension, ``x0..x{dim-1}``, each
    ``FLOOR(CAST(v AS DOUBLE) * 1e6) + 2^20``.

    float->double widening is exact and the scale multiply is a single
    IEEE op, so every engine lands on the same integer — the lattice
    is the determinism boundary; everything after it is exact integer
    arithmetic. The 1e-6 resolution is part of the operator contract
    (embeddings carry ~7 significant digits; the lattice keeps 6).
    """
    # string expressions, ONE Py4J/parse round-trip each: building the
    # same chains from Column objects costs ~6 JVM calls per dimension
    # (~1.5 s of pure driver time at dim=64 — measured; see
    # _kmeans_distances for the same finding on the distance chains).
    # fan_out: the lattice is CACHED and rescanned once per Lloyd
    # iteration with k x dim arithmetic per row — a single-row-group
    # fixture scan would pin every one of those passes to one core
    # (operators/skew.fan_out; identity on already-parallel input).
    from kaylee_spark.operators.skew import fan_out

    cols = [
        f"CAST(FLOOR(CAST({vec_col}[{i}] AS DOUBLE) * {float(KMEANS_QUANT_SCALE)!r})"
        f" AS BIGINT) + {KMEANS_QUANT_OFFSET} AS x{i}"
        for i in range(dim)
    ]
    return fan_out(df.select(id_col, vec_col)).selectExpr(
        f"{id_col} AS vec_id", *cols
    )


def _kmeans_distances(
    v: DataFrame,
    centroids: list[tuple[int, list[int]]],
    dims: list[int],
    tag: str = "",
):
    """Flat codegen'd squared-euclidean distance columns over the
    lattice dimensions ``dims``, one per centroid (bigint — exact),
    named ``__d{tag}{cl}``. Flat binary chains, not HOF lambdas:
    interpreted lambdas over arrays cost ~20us/element (measured on
    the MMR work). Expanded form ``Σx² − Σ2c·x + Σc²`` instead of
    ``Σ(x−c)²``: Σx² is ONE shared |dims|-term column and Σc² folds
    to a literal, so each per-centroid chain is a single multiply-add
    per dimension — the naive form generated ~1.3 MB task binaries
    that Janino recompiled EVERY iteration (the centroid literals
    change, so the codegen cache can't hit). Integer arithmetic makes
    the two forms exactly equal, not just approximately.

    Built as SQL strings, not Column objects: every Column operator is
    a Py4J JVM round-trip, and k×dim of them cost ~2 s of pure driver
    time PER ITERATION at (5, 64) — measured; string building is
    Python-local and Catalyst parses each expression once."""
    s2 = " + ".join(f"x{i} * x{i}" for i in dims)
    out = v.selectExpr("*", f"{s2} AS __s2{tag}")
    dcols = []
    for cl, c in centroids:
        chain = " + ".join(f"x{i} * {-2 * int(ci)}" for i, ci in zip(dims, c))
        dcols.append(
            f"__s2{tag} + ({int(sum(ci * ci for ci in c))} + {chain}) AS __d{tag}{cl}"
        )
    return out.selectExpr("*", *dcols)


def _kmeans_argmin(centroids: list[tuple[int, list[int]]], tag: str = ""):
    """(cluster, min-distance) Column pair for a distance-augmented
    frame: LEAST over the ``__d{tag}{cl}`` columns plus a when-chain
    walked in ascending cluster order, so ties land on the lowest
    cluster id — the same tie-break the oracle's ORDER BY dist, cl
    expresses."""
    dcols = [F.col(f"__d{tag}{cl}") for cl, _ in centroids]
    mind = dcols[0] if len(dcols) == 1 else F.least(*dcols)
    cluster = None
    for cl, _ in centroids:
        cond = F.col(f"__d{tag}{cl}") == mind
        cluster = (
            F.when(cond, F.lit(cl)) if cluster is None else cluster.when(cond, F.lit(cl))
        )
    return cluster.cast("int"), mind


def _lloyd_update(
    v: DataFrame,
    centroids: list[tuple[int, list[int]]],
    dims: list[int],
) -> list[tuple[int, list[int]]]:
    """One Lloyd's update step on the lattice dimensions ``dims``:
    assign every vector to its nearest current centroid, then replace
    each surviving cluster's centroid with the exact floor-division
    mean of its members. Empty clusters are dropped (never respawned).
    One cached-frame scan reducing to ≤k map-side-combined rows."""
    dists = _kmeans_distances(v, centroids, dims)
    cluster, _ = _kmeans_argmin(centroids)
    stats = (
        dists.select(cluster.alias("cluster"), *[f"x{i}" for i in dims])
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"x{i}").alias(f"s{i}") for i in dims],
        )
        .collect()
    )
    return sorted(
        (int(r["cluster"]), [r[f"s{i}"] // r["n"] for i in dims]) for r in stats
    )


def kmeans_fit_assign(
    df: DataFrame,
    dim: int,
    k: int = 5,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over an embedding column, exact
    to the bit across engines and partitionings.

    Contract: seeds are the vectors of the k smallest ids (a
    deterministic init — k-means++ needs a random stream no two
    engines share); ``iterations`` assignment/update rounds follow;
    clusters that lose every member are dropped (never respawned).
    Returns (vec_id, cluster, dist_sq) for the FINAL assignment, with
    dist_sq the exact integer squared distance on the 1e-6 lattice
    (kmeans_lattice). Ties assign the lowest cluster id.

    Why integer arithmetic: the update step is a per-dimension mean —
    a repeated float sum would be merge-order-dependent and could
    never hash-match an oracle or reproduce across restarts. On the
    lattice, sums are exact bigints and the mean is one floor
    division; coordinates stay under 2^21, so a 64-dim squared
    distance tops out near 2^48 and per-cluster coordinate sums fit
    bigint up to ~2^42 members.

    Scale shape — broadcast-Lloyd, the textbook Spark layout: the
    model (k x dim ints, KBs) lives driver-side; each iteration folds
    it into codegen literals (zero joins — the parameters-as-literals
    shape s06 uses), scans the cached lattice frame ONCE, and reduces
    to k x (dim+1) map-side-combined sums. 3 iterations = 3 scans + 3
    model-sized collects; nothing else moves. The trajectory runs
    under ``pin_width(df)`` like pagerank()/hits() — the
    per-iteration aggregate has k rows, so batch-width shuffles pay
    near-empty partition commits per step.
    """
    if iterations < 1:
        raise ValueError(f"kmeans requires iterations >= 1, got {iterations}")
    if k < 2:
        raise ValueError(f"kmeans requires k >= 2, got {k}")
    with pin_width(df):
        v = kmeans_lattice(df, dim, id_col=id_col, vec_col=vec_col).cache()
        seeds = v.orderBy("vec_id").limit(k).collect()
        if len(seeds) < k:
            raise ValueError(f"kmeans with k={k} needs >= k vectors, got {len(seeds)}")
        dims = list(range(dim))
        centroids = [(j, [r[f"x{i}"] for i in dims]) for j, r in enumerate(seeds)]
        for _ in range(iterations - 1):
            centroids = _lloyd_update(v, centroids, dims)
        dists = _kmeans_distances(v, centroids, dims)
        cluster, mind = _kmeans_argmin(centroids)
        out = dists.select(
            "vec_id", cluster.alias("cluster"), mind.alias("dist_sq")
        ).cache()
        out.count()
    return out


def _pq_fit(v, dim: int, m: int, k: int, iterations: int):
    """Train the m per-subspace exact-lattice codebooks off a cached
    lattice frame (shared by pq_encode and pq_adc_topk — one training
    definition, two consumers). Returns (subspaces, books)."""
    seeds = v.orderBy("vec_id").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"PQ with k={k} needs >= k vectors, got {len(seeds)}")
    sub = dim // m
    subspaces = [list(range(s * sub, (s + 1) * sub)) for s in range(m)]
    books = []
    for dims in subspaces:
        cents = [(j, [r[f"x{i}"] for i in dims]) for j, r in enumerate(seeds)]
        for _ in range(iterations - 1):
            cents = _lloyd_update(v, cents, dims)
        books.append(cents)
    return subspaces, books


def pq_encode(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization: split each embedding into ``m`` equal
    subspaces, learn an independent exact-lattice Lloyd's codebook of
    ``k`` centroids per subspace (same contract as kmeans_fit_assign:
    smallest-id seeds, ``iterations`` assignment rounds, empty
    clusters dropped, lowest-code tie-break), and encode every vector
    as its per-subspace nearest-centroid codes.

    Returns (vec_id, c0..c{m-1}, dist_sq): the m int codes plus the
    exact total squared reconstruction error on the 1e-6 lattice —
    the sum of per-subspace residuals, since the decoded vector is
    the concatenation of the selected centroids.

    Why PQ at 100 TB: codes are m bytes instead of dim floats (64-dim
    float32 → 4 bytes here, a 64x cut), so the quantized corpus rides
    every shuffle and fits executor memory where raw vectors cannot;
    asymmetric-distance ANN then scans codes and only re-ranks
    candidates against raw vectors. Training cost is m small
    broadcast-Lloyd runs over ONE shared cached lattice scan —
    each update is a ≤k-row map-side-combined aggregate, and the
    final encode pass computes all m argmins in a single select
    (per-subspace distance chains are column-pruned independently,
    so no subspace pays for another's arithmetic). Nothing but
    (m x k x dim/m) ints ever reaches the driver. Training and encoding
    run under ``pin_width(df)``.
    """
    with pin_width(df):
        out = _pq_codes(df, dim, m, k, iterations, id_col, vec_col).cache()
        out.count()
    return out


def _pq_codes(df, dim, m, k, iterations, id_col, vec_col) -> DataFrame:
    if dim % m != 0 or m < 1:
        raise ValueError(f"pq_encode needs m >= 1 dividing dim, got m={m} dim={dim}")
    if iterations < 1:
        raise ValueError(f"pq_encode requires iterations >= 1, got {iterations}")
    if k < 2:
        raise ValueError(f"pq_encode requires k >= 2, got {k}")
    v = kmeans_lattice(df, dim, id_col=id_col, vec_col=vec_col).cache()
    subspaces, books = _pq_fit(v, dim, m, k, iterations)
    out = v
    for s, (dims, cents) in enumerate(zip(subspaces, books)):
        out = _kmeans_distances(out, cents, dims, tag=f"s{s}_")
    cols, total = [F.col("vec_id")], None
    for s, cents in enumerate(books):
        code, mind = _kmeans_argmin(cents, tag=f"s{s}_")
        cols.append(code.alias(f"c{s}"))
        total = mind if total is None else total + mind
    return out.select(*cols, total.alias("dist_sq"))


def pq_neardup_pairs(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic near-duplicate candidates via product quantization:
    vectors that land in the SAME cell of all ``m`` subspace codebooks
    (pq_encode) pair up, and each pair carries its exact full-lattice
    squared distance so callers threshold on real geometry, not on
    code equality alone. Returns (id_a, id_b, dist_sq), id_a < id_b.

    This is the candidate→verify shape of the dedup family (d04's
    LSH banding with learned, data-adaptive buckets instead of random
    planes): the self-join runs on the m-code tuple — k^m cells — so
    cost is Σ|cell|², never |corpus|², and the verify join touches
    only candidate ids. Codes are m ints; the wide vectors stay out
    of the candidate shuffle entirely and are re-joined (id, lattice)
    only for surviving pairs. Cell skew is the knob: raise k or m
    until the hottest cell's |cell|² fits a task. Training, encoding
    and the pair joins run under ``pin_width(df)``.
    """
    with pin_width(df):
        codes = _pq_codes(
            df, dim, m, k, iterations, id_col, vec_col
        ).select("vec_id", *[f"c{s}" for s in range(m)]).cache()
        code_cols = [f"c{s}" for s in range(m)]
        a = codes.select(F.col("vec_id").alias("id_a"), *code_cols)
        b = codes.select(F.col("vec_id").alias("id_b"), *code_cols)
        pairs = a.join(b, code_cols).filter(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b"
        )
        v = kmeans_lattice(df, dim, id_col=id_col, vec_col=vec_col)
        va = v.select(
            F.col("vec_id").alias("id_a"), *[F.col(f"x{i}").alias(f"ax{i}") for i in range(dim)]
        )
        vb = v.select(
            F.col("vec_id").alias("id_b"), *[F.col(f"x{i}").alias(f"bx{i}") for i in range(dim)]
        )
        chain = " + ".join(f"(ax{i} - bx{i}) * (ax{i} - bx{i})" for i in range(dim))
        out = (
            pairs.join(va, "id_a")
            .join(vb, "id_b")
            .selectExpr("id_a", "id_b", f"CAST({chain} AS BIGINT) AS dist_sq")
            .cache()
        )
        out.count()
    return out


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucketed: bool = False,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
    parity_rerank: bool = False,
) -> DataFrame:
    """k-nearest-neighbor GRAPH over an embedding corpus: every vector
    becomes a node with directed edges to its k most cosine-similar
    neighbors — the substrate for semantic clustering (connected
    components / label propagation over the edges), graph-based
    near-dup review, and diversity analysis, composing directly with
    the operators/graph.py family.

    Output: (src, dst, cosine_sim, rank), k rows per vector,
    deterministic (6dp-rounded score, id tie-break).

    Scale shape: ``bucketed=False`` is the exact baseline — the corpus
    broadcasts as its own query set and ranks inside each src
    partition (right up to ~10^5 vectors / a few hundred MB broadcast,
    quadratic beyond). ``bucketed=True`` routes through the multi-table
    sign-LSH candidate machinery (lsh_bucketed_topk with the corpus as
    its own query set): candidate volume tracks bucket occupancy, not
    corpus size — the 100 TB path, with recall dialed by
    n_tables/n_planes (property-tested; recall <1.0 means an
    approximate graph, the standard trade).
    """
    queries = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("embedding"))
    if bucketed:
        out = lsh_bucketed_topk(
            emb,
            queries,
            k=k,
            n_planes=n_planes,
            n_tables=n_tables,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
            parity_rerank=parity_rerank,
        )
    else:
        out = cosine_topk(emb, queries, k=k, id_col=id_col, vec_col=vec_col)
    return out.select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
        "rank",
    )


def semantic_clusters(
    emb: DataFrame,
    max_hamming: int = 3,
    bits: int = SIGNATURE_BITS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic near-duplicate CLUSTERS over an embedding corpus:
    sign-signature near-dup pairs (sign_neardup_pairs — integer-exact,
    pigeonhole-complete) closed under min-label connected components
    (operators/dedup.connected_components), with every vector labeled
    — singletons become their own cluster and the lowest id in each
    cluster is the deterministic canonical representative.

    This is the embedding-space twin of the text pipeline's
    d06_dedup_clusters: pairs tell you who MATCHES, clusters tell you
    who to KEEP — one canonical per group of paraphrases/re-encodes,
    the shape a curation pipeline actually consumes.

    Output: (vec_id, cluster, is_canonical) for EVERY corpus vector.

    Scale shape: pairs come from the bucketed hamming join (candidate
    volume ~ bucket occupancy), the CC loop runs on the PAIR graph
    only (ids, never vectors; O(log diameter) pointer-jumped rounds,
    localCheckpoint per round), and the final labeling is one id-keyed
    left join of the id-only label frame back onto the corpus ids.
    The pair stage and the loop run under ``pin_width(emb)``.
    """
    from kaylee_spark.operators.dedup import _min_label_loop

    pairs = sign_neardup_pairs(
        emb, max_hamming=max_hamming, bits=bits, dim=dim, id_col=id_col, vec_col=vec_col
    ).select("id_a", "id_b")
    with pin_width(emb):
        cc = _min_label_loop(pairs, "id_a", "id_b", max_iter=20).select(
            F.col("doc").alias("__id"), "cluster"
        )
    ids = emb.select(F.col(id_col).alias("__id"))
    lab = F.coalesce(F.col("cluster"), F.col("__id"))
    return ids.join(cc, "__id", "left").select(
        F.col("__id").alias(id_col),
        lab.alias("cluster"),
        (F.col("__id") == lab).alias("is_canonical"),
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive/retriever training: for
    each anchor, the k corpus vectors MOST similar to it that carry a
    DIFFERENT label — the negatives that actually move a contrastive
    loss (random negatives are trivially separable; these sit on the
    decision boundary).

    corpus: (id_col, vec_col, label_col); queries: (query_id_col,
    vec_col, label_col). Output: (query_id, query_label, neighbor_id,
    neighbor_label, cosine_sim, rank).

    Scale shape — identical to cosine_topk: the anchor set (a training
    batch or a sampled slice, always << corpus) broadcasts; ONE corpus
    scan scores every (anchor, candidate) with the label-mismatch
    predicate applied BEFORE the rank window, so same-label rows never
    enter the per-anchor sort; the window keeps k rows per anchor. At
    100 TB swap the scoring scan for lsh_bucketed_topk's candidate
    generation and keep this exact filter+rank tail.

    Reference scope note: sdiehl/kaylee has no vector surface; this
    extends the engine for embedding-corpus curation.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        _as_double(F.col(vec_col)).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .withColumn("cosine_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.col("cosine_sim").cast("double"),
            "rank",
        )
    )


def pq_adc_topk(
    df: DataFrame,
    dim: int,
    query_ids: list[int],
    m: int = 4,
    k: int = 4,
    iterations: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ search (Jégou et al. 2011) — the scan
    path that makes PQ an ANN index, not just a compressor: each query
    precomputes an m x k lookup table of exact squared distances from
    its subvectors to every codebook centroid, and a corpus vector's
    approximate distance is the SUM of m table lookups on its codes —
    the raw corpus vectors are never touched during the scan.

    Exact-lattice arithmetic end to end (the s09/s10 contract), so the
    ADC distances are bigints and the (dist, id)-tie-broken ranking is
    engine-invariant — a SQL oracle replays codebooks, codes, and
    scores bit-for-bit. Returns (query_id, neighbor_id, adc_dist,
    rank), self-matches excluded, top ``topk`` per query.

    Scale shape: codes melt to m (vec_id, subspace, code) int rows and
    join the BROADCAST |queries| x m x k lookup frame, then one
    (query, vec) map-side-combined sum and a per-query rank window —
    the corpus-side traffic is 3 ints per code, independent of dim.
    Training reuses _pq_fit off one cached lattice scan; the whole
    search runs under ``pin_width(df)``.
    """
    with pin_width(df):
        spark = df.sparkSession
        v = kmeans_lattice(df, dim, id_col=id_col, vec_col=vec_col).cache()
        subspaces, books = _pq_fit(v, dim, m, k, iterations)
        out = v
        for s, (dims, cents) in enumerate(zip(subspaces, books)):
            out = _kmeans_distances(out, cents, dims, tag=f"s{s}_")
        code_cols = []
        for s, cents in enumerate(books):
            code, _ = _kmeans_argmin(cents, tag=f"s{s}_")
            code_cols.append(code.alias(f"c{s}"))
        codes = out.select(F.col("vec_id"), *code_cols)
        qlat = {
            r["vec_id"]: [r[f"x{i}"] for i in range(dim)]
            for r in v.filter(F.col("vec_id").isin([int(q) for q in query_ids])).collect()
        }
        missing = [q for q in query_ids if q not in qlat]
        if missing:
            raise ValueError(f"query ids not in corpus: {missing}")
        lut_rows = []
        for qid, qx in qlat.items():
            for s, (dims, cents) in enumerate(zip(subspaces, books)):
                for code, cx in cents:
                    d = sum((qx[i] - cx[j]) ** 2 for j, i in enumerate(dims))
                    lut_rows.append((int(qid), s, int(code), int(d)))
        # literal_frame, not createDataFrame: the model-sized lookup table
        # must not plan a Python-worker scan (measured ~8.6 s of executor
        # time per bench pass for these 320 rows on local[32])
        from kaylee_spark.functions import literal_frame

        lut = literal_frame(spark, lut_rows, "query_id long, s int, code int, d long")
        melted = codes.select(
            "vec_id",
            F.explode(
                F.array(*[
                    F.struct(F.lit(s).alias("s"), F.col(f"c{s}").alias("code"))
                    for s in range(m)
                ])
            ).alias("sc"),
        ).select("vec_id", F.col("sc.s").alias("s"), F.col("sc.code").alias("code"))
        scored = (
            melted.join(F.broadcast(lut), ["s", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.sum("d").alias("adc_dist"))
        )
        w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
        res = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("query_id", "neighbor_id", "adc_dist", "rank")
        )
        v.unpersist()
        out = res.cache()
        out.count()
    return out
