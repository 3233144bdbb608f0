"""Dedup/ANN candidate-growth probe: multiply the documents and
embeddings fixtures by N (with REMAPPED ids, so every copy is a new
document — row multiplication with duplicate ids would collapse in
the per-doc distinct and test nothing) and measure how each
candidate-generation stage grows, then oracle-verify the outputs at
the top multiplier.

What the growth numbers mean (predictions the probe checks):
- d03 capped inverted index: candidates = Σ_shingle df² with df
  capped at DEFAULT_MAX_DF; at xN every df multiplies by N, so below
  the cap candidates grow ~N² IN THE DUPLICATED-CORPUS worst case
  (every copy is an exact dup — real corpora grow closer to N).
  The cap is what bounds the constant: candidates ≤ max_df·|postings|.
- d04 MinHash banding / d05 SimHash pigeonhole / s03 sign-signature
  pigeonhole: candidates = Σ_bucket C(occupancy, 2) per band/chunk —
  same Σ² shape, measured per family so a skew regression in any
  signature scheme shows up as super-quadratic growth.
- s02 query-vs-corpus LSH: queries fixed, corpus xN -> candidates
  must grow ~LINEARLY (per-bucket occupancy xN, query count const).

Usage: python tools/dedup_scale_probe.py [base_sf_dir] [multipliers]
(defaults: /root/testdata/sf0.01 and 1,3,10; builds under
/tmp/kaylee_dedup_probe_x{N})
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ID_STRIDE = 10_000_000


def build(base: str, out: str, multiplier: int) -> None:
    from pyspark.sql import functions as F

    from kaylee_spark.session import get_spark
    from kaylee_spark.sources import TABLES

    spark = get_spark("dedup_scale_probe", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)
    for t, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        dst = f"{out}/{t}.parquet"
        if os.path.lexists(dst):
            (shutil.rmtree if os.path.isdir(dst) else os.remove)(dst)
        df = spark.read.parquet(f"{base}/{t}.parquet")
        big = (
            df.crossJoin(spark.range(multiplier).select(F.col("id").alias("_copy")))
            .withColumn(id_col, F.col(id_col) + F.col("_copy") * ID_STRIDE)
            .drop("_copy")
        )
        tmp = f"{out}/_tmp_{t}"
        big.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        shutil.rmtree(tmp)
    for t in TABLES:
        dst = f"{out}/{t}.parquet"
        if not os.path.lexists(dst):
            os.symlink(f"{base}/{t}.parquet", dst)


def measure(sf_dir: str) -> dict:
    """Candidate + output counts for each dedup/ANN family at sf_dir."""
    from pyspark.sql import functions as F

    from kaylee_spark.operators import dedup as D
    from kaylee_spark.operators import similarity as S
    from kaylee_spark.session import get_spark
    from kaylee_spark.sources import load_table

    spark = get_spark("dedup_scale_probe", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    out: dict[str, dict] = {}

    def timed(name, cand_fn, out_fn):
        t0 = time.monotonic()
        cands = cand_fn()
        rows = out_fn()
        out[name] = {"candidates": cands, "out_rows": rows, "secs": round(time.monotonic() - t0, 2)}

    # d03: capped inverted-index self-join volume
    def d03_cands():
        sh = D.hashed_shingles(docs, "doc_id", "text", 3).withColumnRenamed("sh64", "shingle")
        rare = sh.groupBy("shingle").agg(F.count("*").alias("df")).filter(F.col("df") <= D.DEFAULT_MAX_DF)
        # sum(C(df,2)) == join candidate pairs, no join needed
        return int(rare.agg(F.sum(F.expr("df * (df - 1) / 2"))).first()[0] or 0)

    timed(
        "d03_jaccard",
        d03_cands,
        lambda: D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2).count(),
    )

    # d04: banded-MinHash bucket volume (16 bands x 4 rows over 64 hashes)
    def d04_cands():
        sig = D.minhash_signatures(docs, "doc_id", "text", 3, 64)
        banded = sig.select(
            "doc",
            F.explode(
                F.array(*[F.xxhash64(F.slice("signature", b * 4 + 1, 4)) for b in range(16)])
            ).alias("bucket"),
        )
        occ = banded.groupBy("bucket").agg(F.count("*").alias("n"))
        return int(occ.agg(F.sum(F.expr("n * (n - 1) / 2"))).first()[0] or 0)

    timed(
        "d04_minhash",
        d04_cands,
        lambda: D.minhash_lsh_verified_pairs(docs, "doc_id", "text", n=3, num_hashes=32, bands=16, threshold=0.5).count(),
    )

    def pigeonhole_cands(sig, sig_col, max_hamming, bits):
        """Σ C(occupancy, 2) over the (chunk, key) buckets the pair
        join of dedup.Pigeonhole meets in."""
        keys = D.Pigeonhole(max_hamming, bits).keys(sig_col)
        banded = sig.select(keys.alias("cb")).select("cb.chunk", "cb.key")
        occ = banded.groupBy("chunk", "key").agg(F.count("*").alias("n"))
        return int(occ.agg(F.sum(F.expr("n * (n - 1) / 2"))).first()[0] or 0)

    # d05: pigeonhole chunk-bucket volume on portable 62-bit signatures
    timed(
        "d05_simhash",
        lambda: pigeonhole_cands(D.simhash(docs, "doc_id", "text"), "simhash", 6, D.PORTABLE_SIMHASH_BITS),
        lambda: D.simhash_pairs(docs, "doc_id", "text", max_hamming=6).count(),
    )

    # s03: pigeonhole chunk-bucket volume on 24-bit sign signatures
    timed(
        "s03_signlsh",
        lambda: pigeonhole_cands(S.sign_signatures(emb, dim=64), "sig", 3, S.SIGNATURE_BITS),
        lambda: S.sign_neardup_pairs(emb, max_hamming=3, dim=64).count(),
    )

    # s02: query-vs-corpus LSH — candidates must grow LINEARLY with
    # the corpus (query set pinned to the 5 original base vectors)
    def s02_cands():
        tables = [S.random_hyperplanes(64, 4, 42 + 1000 * t) for t in range(12)]
        c = emb.select(F.col("vec_id").alias("vid"), F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        banded = c.select("vid", F.posexplode(S._table_signatures("v", tables)).alias("table", "bucket"))
        qb = banded.filter(F.col("vid") < 5).groupBy("table", "bucket").agg(F.count("*").alias("nq"))
        cb = banded.groupBy("table", "bucket").agg(F.count("*").alias("nc"))
        return int(qb.join(cb, ["table", "bucket"]).agg(F.sum(F.col("nq") * F.col("nc"))).first()[0] or 0)

    def s02_out():
        queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
        return S.lsh_bucketed_topk(emb, queries, k=10, n_planes=4, n_tables=12, dim=64, parity_rerank=True).count()

    timed("s02_annlsh", s02_cands, s02_out)

    # d12: incremental near-dup with the increment PINNED to the base
    # copy (the stride preserves mod-10, so without the < ID_STRIDE
    # guard the increment would grow with the corpus and test
    # nothing). Prediction: pair-join volume = Σ_shared df_inc·df_cor
    # with df_inc fixed -> candidates grow ~LINEARLY in the corpus
    # multiplier, the increment-driven cost claim in docs/SCALE.md.
    inc_pred = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < ID_STRIDE)

    def d12_cands():
        ish = D.hashed_shingles(docs.filter(inc_pred), "doc_id", "text", 3).withColumnRenamed("sh64", "shingle")
        csh = D.hashed_shingles(docs.filter(~inc_pred), "doc_id", "text", 3).withColumnRenamed("sh64", "shingle")
        cdf = csh.groupBy("shingle").agg(F.count("*").alias("dc")).filter(F.col("dc") <= D.DEFAULT_MAX_DF)
        idf = ish.groupBy("shingle").agg(F.count("*").alias("di"))
        return int(idf.join(cdf, "shingle").agg(F.sum(F.col("di") * F.col("dc"))).first()[0] or 0)

    timed(
        "d12_incneardup",
        d12_cands,
        lambda: D.incremental_neardup_pairs(
            docs.filter(inc_pred), docs.filter(~inc_pred), "doc_id", "text", n=3, threshold=0.2
        ).count(),
    )
    return out


def skew_leg(base: str, multiplier: int = 10, n_phrases: int = 8) -> dict:
    """The dedup staging planner's REGIME fixture (VERDICT r9 item 3):
    every natural fixture sits in stage-floor noise where exact vs LSH
    never changes wall-clock. This leg plants document-frequency skew —
    each doc gets one of ``n_phrases`` sentinel phrases appended, so
    n_docs/n_phrases docs share one hot shingle (kept BELOW the
    DEFAULT_MAX_DF cap, the regime the cap does not save you from) —
    and measures the blow-up of the exact inverted-index path against
    LSH's corpus-size-linear banding, with plan_dedup_edges deciding
    from the histogram alone.

    Expected: exact candidates ~ n_phrases * C(n_docs/n_phrases, 2)
    (quadratic in the planted df) while LSH candidates stay near the
    unskewed corpus's (the hot shingle shifts signatures only for the
    minority of hash slots it wins), so the planner must pick "lsh"
    and the wall-clock gap is the planner's value in seconds."""
    from pyspark.sql import functions as F

    from kaylee_spark.operators import dedup as D
    from kaylee_spark.operators.lsh_planner import plan_dedup_edges, shingle_df_histogram
    from kaylee_spark.session import get_spark

    out_dir = f"/tmp/kaylee_dedup_probe_skew_x{multiplier}"
    build(base, out_dir, multiplier)
    spark = get_spark("dedup_scale_probe", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{out_dir}/documents.parquet")
    # one sentinel phrase per doc: phrase_{id%n} -> each shingle lands
    # in ~n_docs/n_phrases documents. Tokens are novel (no fixture
    # collision), so exactly ONE hot 3-shingle per phrase plus df~1
    # boundary shingles against each doc's own tail.
    phrase = F.concat(
        F.lit("zq"), (F.col("doc_id") % n_phrases).cast("string"),
        F.lit("a zq"), (F.col("doc_id") % n_phrases).cast("string"),
        F.lit("b zq"), (F.col("doc_id") % n_phrases).cast("string"),
        F.lit("c"),
    )
    skewed = docs.withColumn("text", F.concat(F.col("text"), F.lit(" "), phrase)).cache()
    n_docs = skewed.count()

    sh = D.hashed_shingles(skewed, "doc_id", "text", 3).withColumnRenamed("sh64", "shingle")
    hist = shingle_df_histogram(sh)
    plan = plan_dedup_edges(hist, n_docs=n_docs, threshold=0.5)

    t0 = time.monotonic()
    exact_pairs = D.jaccard_pairs(skewed, "doc_id", "text", n=3, threshold=0.5).count()
    exact_secs = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    lsh_pairs = D.minhash_lsh_verified_pairs(
        skewed, "doc_id", "text", n=3, threshold=0.5
    ).count()
    lsh_secs = round(time.monotonic() - t0, 2)
    skewed.unpersist()
    result = {
        "n_docs": n_docs,
        "planted_df": n_docs // n_phrases,
        "plan_stage": plan.stage,
        "plan_exact_pairs": plan.exact_pairs,
        "plan_lsh_extra_rows": plan.lsh_extra_rows,
        "exact_secs": exact_secs,
        "lsh_secs": lsh_secs,
        "exact_pairs": exact_pairs,
        "lsh_pairs": lsh_pairs,
        "outputs_equal": exact_pairs == lsh_pairs,
    }
    print(f"skew_leg: {json.dumps(result)}", flush=True)
    return result


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if "--skew-only" in sys.argv:
        res = skew_leg(base)
        return 0 if res["plan_stage"] == "lsh" and res["outputs_equal"] else 1
    multipliers = [int(x) for x in (sys.argv[2].split(",") if len(sys.argv) > 2 else ["1", "3", "10"]) if x != "--skew-only"]
    results = {}
    top_dir = None
    for m in multipliers:
        out = f"/tmp/kaylee_dedup_probe_x{m}"
        build(base, out, m)
        results[m] = measure(out)
        top_dir = out
        print(f"x{m}: {json.dumps(results[m])}", flush=True)
    print("\ngrowth vs x1 (multiplier -> candidates ratio per family):")
    base_counts = results[multipliers[0]]
    for m in multipliers[1:]:
        ratios = {
            k: round(results[m][k]["candidates"] / max(base_counts[k]["candidates"], 1), 1)
            for k in results[m]
        }
        print(f"x{m}: {json.dumps(ratios)}")
    # oracle-verify the dedup/ANN outputs at the top multiplier
    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_oracle.py")
    return subprocess.call(
        [sys.executable, tool, top_dir,
         "d03_jaccard_pairs", "d04_minhash_lsh", "d05_simhash_pairs",
         "s03_embedding_neardup", "s02_lsh_ann_topk", "d12_incremental_neardup",
         # r10: the bounded-output rung — each copy-group's top-3 ties
         # at jaccard 1.0, so the (jaccard DESC, neighbor ASC) break is
         # exercised under MAXIMAL ties while output stays 3/doc
         "d21_topk_neighbors"]
    )


if __name__ == "__main__":
    raise SystemExit(main())
