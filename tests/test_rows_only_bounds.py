"""Hard guarantees for the three formerly-rows-only registry queries
(a02/d05/s03). Since round 6 all three are oracle-hash-gated (portable
integer hashes / exact-decimal sign signatures / exact-plus-bound
booleans), but the gate only checks the registered configuration —
these tests pin the underlying OPERATOR guarantees: sketch error
bounds, pigeonhole completeness on both signature families, and the
xxhash64 (non-portable) production paths the oracle can't see."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaylee_spark.queries import load_everything
from kaylee_spark.sources import load_table

REG = load_everything()


def test_a02_sketch_bound_booleans_hold(spark, sf_dir):
    """The emitted rows must carry TRUE bound booleans (the oracle
    asserts the same literal TRUE — a sketch drifting out of bound
    fails the driver hash gate) and exact values matching a direct
    computation."""
    out = {r["l_returnflag"]: r.asDict() for r in REG["a02_approx_sketches"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r.asDict()
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_orderkey").alias("n"),
            F.round(F.expr("percentile(l_extendedprice, 0.5)").cast("double"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)").cast("double"), 4).alias("p95"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)").cast("double"), 4).alias("p99"),
        )
        .collect()
    }
    assert set(out) == set(exact)
    for flag, got in out.items():
        assert got["hll_within_bound"] is True, flag
        assert got["quantiles_within_bound"] is True, flag
        assert got["n_orders"] == exact[flag]["n"]
        for p in ("p50", "p95", "p99"):
            assert got[p] == exact[flag][p], (flag, p)


def test_d05_pigeonhole_bucketing_is_complete(spark, sf_dir):
    """The chunk-bucketed SimHash pair set must EQUAL the brute-force
    all-pairs Hamming<=k set computed from the same signatures — the
    pigeonhole guarantee (any pair within k differing bits agrees on
    >=1 of k+1 chunks) has no probabilistic slack, so bucketing may
    lose nothing."""
    from kaylee_spark.operators.dedup import simhash, simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=6).collect()
    }
    sig = simhash(docs, "doc_id", "text")
    a = sig.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sig.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"))
        .filter(F.col("hamming") <= 6)
    )
    want = {(r.doc_a, r.doc_b, r.hamming) for r in brute.collect()}
    assert got == want


def test_s03_bucketed_pairs_equal_brute_force(spark, sf_dir):
    """The pigeonhole-bucketed sign-signature pair set must EQUAL the
    brute-force all-pairs Hamming<=3 set over the same signatures —
    completeness with zero slack, on the embedding signature family."""
    from kaylee_spark.operators.similarity import sign_signatures

    out = {(r.id_a, r.id_b, r.hamming) for r in REG["s03_embedding_neardup"].fn(spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings")
    sig = sign_signatures(emb, dim=64)
    a = sig.select(F.col("vid").alias("id_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("vid").alias("id_b"), F.col("sig").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int"))
        .filter(F.col("hamming") <= 3)
    )
    want = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
    assert out == want


def test_sign_signature_hamming_tracks_angle(spark):
    """SRP-LSH sanity: identical vectors -> hamming 0; a vector vs its
    negation -> all bits flip (hamming = SIGNATURE_BITS when no
    projection is exactly zero); a small perturbation stays near."""
    from kaylee_spark.operators.similarity import SIGNATURE_BITS, sign_signatures

    base = [float(((i * 37) % 13) - 6) or 1.0 for i in range(64)]
    rows = [
        (1, base),
        (2, [-x for x in base]),
        (3, [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    sigs = {r["vid"]: r["sig"] for r in sign_signatures(df, dim=64).collect()}
    assert bin(sigs[1] ^ sigs[2]).count("1") == SIGNATURE_BITS
    assert bin(sigs[1] ^ sigs[3]).count("1") <= 2
