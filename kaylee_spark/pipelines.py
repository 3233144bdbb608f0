"""End-to-end training-data curation: the LLM-pipeline operators
composed the way a real 100 TB pretraining-data job runs them.

Stage order is the cost ladder — each stage is cheaper per row than
the next and shrinks the input to it:

1. quality gate        (scan-speed column predicates, no shuffle)
2. exact dedup         (one shuffle on a 32-byte content hash)
3. near-dup clustering (LSH candidates -> exact verify -> components)
4. deterministic split (scan-speed seeded-hash predicate)

Everything is lazily composed DataFrames: Catalyst fuses the quality
predicates into the scan, and nothing materializes until the caller
writes. The returned frames are reproducible end to end — every
stage's survivor choice is a pure function of the data (min-id
winners, seeded hashes), never of partitioning or scheduling.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kaylee_spark.operators import text as T
from kaylee_spark.operators.dedup import content_hash, dedup_clusters
from kaylee_spark.operators.sampling import train_eval_split


@dataclass(frozen=True)
class CurationResult:
    train: DataFrame
    eval: DataFrame
    rejected: DataFrame  # rows dropped by quality or dedup, with a reason column


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_stopword_ratio: float = 0.05,
    max_repeated_line_ratio: float = 0.3,
    near_dup_threshold: float = 0.5,
    eval_fraction: float = 0.1,
    seed: int = 42,
) -> CurationResult:
    """Run the full curation ladder over a documents frame.

    Returns (train, eval, rejected): train/eval partition the unique,
    quality-passing canonical documents by seeded hash; rejected keeps
    every dropped row tagged with WHY (`reason` in
    {'quality', 'exact_dup', 'near_dup'}) — at scale the reject stream
    is data you audit, not data you delete.
    """
    sw = T.stopword_ratio(text_col)
    rep = T.repeated_line_ratio(text_col)
    scored = docs.withColumn("_sw", sw).withColumn("_rep", rep)
    quality_pred = (F.col("_sw") >= min_stopword_ratio) & (F.col("_rep") <= max_repeated_line_ratio)
    passed = scored.filter(quality_pred).drop("_sw", "_rep")
    rej_quality = scored.filter(~quality_pred).drop("_sw", "_rep").withColumn("reason", F.lit("quality"))

    # exact dedup: deterministic min-id winner per content hash
    w_hash = passed.withColumn("_h", content_hash(text_col))
    winners = w_hash.groupBy("_h").agg(F.min(id_col).alias("_winner"))
    tagged = w_hash.join(winners, "_h")
    exact_unique = tagged.filter(F.col(id_col) == F.col("_winner")).drop("_h", "_winner")
    rej_exact = (
        tagged.filter(F.col(id_col) != F.col("_winner"))
        .drop("_h", "_winner")
        .withColumn("reason", F.lit("exact_dup"))
    )

    # near-dup clustering over the exact-unique survivors; keep the
    # canonical (min-id) doc of every cluster
    clusters = dedup_clusters(exact_unique, id_col, text_col, threshold=near_dup_threshold)
    labeled = exact_unique.join(
        clusters.select(F.col("doc").alias(id_col), "is_canonical"), id_col
    )
    canonical = labeled.filter("is_canonical").drop("is_canonical")
    rej_near = labeled.filter(~F.col("is_canonical")).drop("is_canonical").withColumn(
        "reason", F.lit("near_dup")
    )

    train, ev = train_eval_split(canonical, id_col, eval_fraction=eval_fraction, seed=seed)
    rejected = rej_quality.unionByName(rej_exact).unionByName(rej_near)
    return CurationResult(train=train, eval=ev, rejected=rejected)


def pretraining_mix(
    docs: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    max_dup_frac: float = 0.2,
) -> DataFrame:
    """Pretraining-mix builder: gate documents on the intra-doc
    repetition filter (language-neutral, unlike p01's stopword gate),
    then fill per-language token budgets in deterministic id order —
    the "300B web / 50B code / 30B per long-tail language" recipe.

    Returns kept docs tagged with exact token costs and running
    totals: (id, lang, n_tokens). Docs with fewer tokens than one
    trigram (dup_frac NULL) pass the gate — the Gopher filter only
    rejects MEASURED repetition.

    Scale shape: the gate is t25's zero-shuffle row-local profile
    fused into the scan; the budget fill is ONE lang-keyed running
    window (take_until_budget). Nothing else shuffles.
    """
    from kaylee_spark.operators.sampling import take_until_budget

    pool = (
        T.with_repetition_profile(docs, text_col, n=3)
        .filter(F.col("dup_frac").isNull() | (F.col("dup_frac") <= max_dup_frac))
        .select(
            F.col(id_col).alias("doc"),
            F.col(lang_col).alias("lang"),
            T.token_count(text_col).alias("n_tokens"),
        )
    )
    return take_until_budget(pool, "lang", "doc", "n_tokens", budgets)
