"""Deduplication operators for training-data pipelines.

Four families, all designed around the 100 TB shape of the problem
(dedup is THE canonical big-data-pipeline op; the reference's algebra
expresses only the exact variant, as map-to-key + keep-one,
SURVEY.md §2.2 "distinct"):

- exact:    content hash -> one shuffle on a 32-byte key.
- MinHash:  shingle -> k independent min-hashes -> band buckets ->
            candidate pairs only within buckets (LSH). Avoids the
            O(n^2) all-pairs join; cost is output-bound, standard for
            web-scale near-dedup.
- SimHash:  62-bit portable signature per doc; near-dup iff small
            Hamming distance; bucketed by bit-chunks (Pigeonhole) for
            sub-quadratic search.
- n-gram Jaccard: exact pairwise similarity, driven THROUGH the
            inverted index (pairs sharing >=1 shingle), not a cross
            join — still quadratic in the worst case, so it's the
            verify stage after LSH at scale, or standalone at small n.

Everything is built-in-function based (xxhash64, explode, groupBy);
no Python in the hot path.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kaylee_spark.operators.skew import pin_width


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def content_hash(col) -> Column:
    """SHA-256 hex of a text column — the dedup identity at scale
    (hashing first means the wide text column never shuffles)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct content; adds dup_count.

    One shuffle on the 32-byte hash; the min-id winner policy makes
    the result deterministic (dropDuplicates keeps an arbitrary row).
    """
    h = content_hash(text_col).alias("content_sha")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_sha")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# Shingling + exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


def tokens(text_col: str = "text") -> Column:
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def _gram_array(text_col: str, n: int) -> Column:
    """array of word n-grams of one document, duplicates removed.

    ``array_distinct`` BEFORE the explode is the load-bearing choice:
    a document's shingles all live in its own row, so per-doc
    distinctness is a row-local computation — no shuffle. (An explode
    followed by DataFrame .distinct() computes the same set through a
    full exchange of the shingle stream, which at 100 TB is the single
    largest avoidable shuffle in the dedup family.)
    """
    from kaylee_spark.operators.text import positional_grams

    return F.array_distinct(positional_grams(tokens(text_col), n))


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built-ins only: slice+concat_ws over the token array, deduped
    row-locally (array_distinct), exploded. Shuffle-free past the
    fan_out (which is the identity on any already-parallel input —
    see operators/skew.fan_out: single-row-group fixture scans would
    otherwise shingle the whole corpus on one core).
    """
    from kaylee_spark.operators.skew import fan_out

    return fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("doc"), F.explode(_gram_array(text_col, n)).alias("shingle")
    )


def hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (doc, xxhash64(shingle)) pairs, computed shuffle-free
    past the fan_out (see shingles/_gram_array).

    Hashing at the source means every downstream shuffle in the dedup
    pipeline — the inverted-index self-join, the minhash aggregation —
    carries an 8-byte key instead of the n-gram string (~4x smaller at
    n=3). Collision analysis in jaccard_pairs.
    """
    from kaylee_spark.operators.skew import fan_out

    return (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col).alias("doc"), F.explode(_gram_array(text_col, n)).alias("g")
        )
        .select("doc", F.xxhash64("g").alias("sh64"))
    )


#: Default document-frequency cap for the inverted-index self-join.
#: The join cost is Σ_shingle df²; capping df bounds it by
#: DEFAULT_MAX_DF × |postings| — LINEAR in corpus size with a fixed
#: constant, instead of quadratic in the hottest shingle's df. 1000
#: is far above any discriminative shingle's df (a shingle shared by
#: >1000 documents is boilerplate by definition — the same content
#: class d11's segment dedup strips) while turning the worst case
#: (one navigation-chrome shingle in 10^6 docs = 10^12 pair rows)
#: into a non-event.
DEFAULT_MAX_DF = 1000


def _capped_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
    pair_budget: int | None,
) -> tuple[DataFrame, dict | None]:
    """Shared candidate stage of the exact-pairs family: the hashed
    (doc, shingle) postings, df-capped either by the explicit
    ``max_df`` or by the ``pair_budget`` planner. Returns
    (postings, plan_meta) — plan_meta is None unless a budget was
    planned.

    Cache discipline: the budget path is already eager (the df
    histogram is collected to plan the cap), so the capped postings
    are materialized with an eager localCheckpoint and the raw-postings
    cache — which served the histogram pass and both reads of the
    capped build — is RELEASED before returning, instead of leaking
    one cached dataset per call for the session lifetime. The plain
    max_df path stays fully lazy (shipped query semantics) and keeps
    its caches alive for the deferred execution.
    """
    plan_meta = None
    sh = hashed_shingles(df, id_col, text_col, n).withColumnRenamed("sh64", "shingle")
    if pair_budget is not None:
        from kaylee_spark.operators.lsh_planner import plan_max_df, shingle_df_histogram

        raw = sh.cache()
        max_df, bound = plan_max_df(shingle_df_histogram(raw), pair_budget)
        plan_meta = {
            "pair_budget": int(pair_budget),
            "max_df": int(max_df),
            "predicted_pair_bound": int(bound),
        }
        rare = (
            raw.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
        )
        capped = raw.join(rare.select("shingle"), "shingle").localCheckpoint(eager=True)
        raw.unpersist()
        return capped, plan_meta
    if max_df is not None:
        # cache the raw posting frame: the df-count pass and the capped
        # join both read it — uncached, the shingling scan runs twice
        sh = sh.cache()
        rare = sh.groupBy("shingle").agg(F.count("*").alias("_df")).filter(F.col("_df") <= max_df)
        sh = sh.join(rare.select("shingle"), "shingle")
    return sh.cache(), plan_meta


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_MAX_DF,
    pair_budget: int | None = None,
    return_plan: bool = False,
) -> DataFrame | tuple[DataFrame, dict | None]:
    """Exact n-gram Jaccard over candidate pairs from the inverted index.

    plan: shingles -> self-join on shingle (pairs sharing >=1 gram)
          -> count intersection -> join per-doc sizes -> |A∩B|/|A∪B|.
    Counts are integers, so the similarity is a deterministic double.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The join key is xxhash64(shingle), not the shingle string — the
    inverted-index self-join is the dominant shuffle and an 8-byte key
    cuts it ~4x vs the raw n-gram. Counts stay exact unless two
    distinct shingles in the SAME corpus collide in 64 bits
    (P ≈ m²/2⁶⁵; ~10⁻⁹ at one million distinct shingles, ~10⁻³ at a
    web-scale 10¹⁰ — at that scale pair it with a second hash or use
    this as the candidate stage before an exact verify).

    ``max_df`` (default DEFAULT_MAX_DF) is the web-scale safety valve:
    the self-join cost is Σ_shingle df², so ONE boilerplate shingle in
    10⁶ docs costs 10¹² pair rows. Capping drops shingles with
    document frequency > ``max_df`` from the index AND from the
    per-doc sizes, computing Jaccard over the capped shingle space —
    a well-defined metric any engine can mirror (the d03 oracle
    applies the identical HAVING df <= cap filter, so the hash gate
    verifies the CAPPED semantics, not an approximation of the
    uncapped one). The losslessness argument for a registered
    threshold t: a pair can change verdict only if a material share
    of its SHARED shingles is corpus-hot (df > max_df), i.e. its
    similarity is boilerplate — exactly the content near-dup scoring
    should ignore (it's what remove_common_segments strips before
    training anyway). Discriminative overlap — shingles in up to
    max_df documents — is untouched, and the planted-duplicate stress
    test (tests/test_dedup.py) pins that behavior. ``max_df=None``
    opts out for the exact full-space metric on corpora known to be
    boilerplate-free.

    ``pair_budget`` is the production knob for users who think in
    join-cost, not document frequency: lsh_planner.plan_max_df reads
    the corpus's df histogram (one droplet-sized aggregate over the
    same cached postings) and picks the LARGEST cap whose Σ C(df,2)
    candidate bound fits the budget — ``max_df`` is then ignored. The
    planner's decision is returned alongside the frame when
    ``return_plan=True`` — the call returns (DataFrame, plan) with
    plan = {pair_budget, max_df, predicted_pair_bound} (or None when
    no budget was planned) — so a pipeline can log exactly what the
    cap dropped without fishing attributes off the DataFrame. Users
    who want bounded OUTPUT rather than bounded join cost should use
    jaccard_topk_per_doc below.
    """
    sh, plan_meta = _capped_postings(df, id_col, text_col, n, max_df, pair_budget)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    a = sh.withColumnRenamed("doc", "doc_a")
    b = sh.withColumnRenamed("doc", "doc_b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_shingles", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_shingles", "size_b"), "doc_b")
        .withColumn(
            "jaccard",
            (F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    if return_plan:
        return out, plan_meta
    return out


def jaccard_topk_per_doc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 3,
    max_df: int | None = DEFAULT_MAX_DF,
    pair_budget: int | None = None,
    return_plan: bool = False,
) -> DataFrame | tuple[DataFrame, dict | None]:
    """Bounded-OUTPUT rung of the exact-pairs family: each document's
    ``k`` most similar partners by capped n-gram Jaccard, instead of
    every pair above a threshold. On a duplicated corpus the full pair
    set is inherently quadratic in the duplication factor (d03's
    measured 79x at x10 — no exact semantics can beat its own output
    cardinality); a production user usually wants "who are this doc's
    nearest neighbors", whose output is <= k rows per doc at ANY
    corpus scale.

    Plan: the same capped inverted-index candidate stage (optionally
    budget-planned via ``pair_budget``, see jaccard_pairs), then the
    pair set symmetrized and cut by a per-doc rank window — ties
    broken (jaccard DESC, neighbor ASC) so the output is
    deterministic. The window partitions by doc, so it shuffles the
    PAIR set (already bounded by the cap/budget), never the corpus.

    Output: (doc, neighbor, jaccard, rnk) with rnk in 1..k.
    """
    from pyspark.sql import Window

    pairs, plan_meta = jaccard_pairs(
        df,
        id_col,
        text_col,
        n=n,
        threshold=0.0,
        max_df=max_df,
        pair_budget=pair_budget,
        return_plan=True,
    )
    sym = pairs.select(
        F.col("doc_a").alias("doc"), F.col("doc_b").alias("neighbor"), "jaccard"
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc"), F.col("doc_a").alias("neighbor"), "jaccard"
        )
    )
    w = Window.partitionBy("doc").orderBy(F.desc("jaccard"), F.asc("neighbor"))
    out = (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc", "neighbor", "jaccard", "rnk")
    )
    if return_plan:
        return out, plan_meta
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_MAX_DF,
    pair_budget: int | None = None,
    return_plan: bool = False,
) -> DataFrame | tuple[DataFrame, dict | None]:
    """Asymmetric n-gram containment over candidate pairs from the
    inverted index: containment(src -> dst) = |S(src) ∩ S(dst)| /
    |S(src)| — the quote / near-superset detector Jaccard misses. A
    short document embedded verbatim in a long one (a quoted article,
    a template wrapping real content, a chunk of a larger doc) has
    Jaccard ~|src|/|dst| (arbitrarily low) but containment ~1, so
    near-superset dedup must normalize by the SMALLER side, not the
    union.

    Output: (src, dst, containment) for ordered pairs src != dst with
    containment >= ``threshold`` — both directions of each candidate
    pair are scored, so a doc contained in many hosts emits one row
    per host. Counts are exact integers; the one division is a
    deterministic double.

    Scale shape is jaccard_pairs verbatim (same inverted index, same
    Σdf² bound via ``max_df``, same 8-byte xxhash64 shingle keys, same
    capped-space semantics any engine can mirror): the intersection
    count and both per-doc sizes come from ONE shingle self-join plus
    two size joins; scoring both directions is a row-local projection
    of the symmetric candidate aggregate, not a second join.

    Reference parity: the reference engine (sdiehl/kaylee) has no
    similarity surface at all (server.py's MapReduce core); this and
    jaccard_pairs are part of the dedup family the absence list in
    SURVEY.md §2.3 prescribes.

    ``pair_budget`` works as in jaccard_pairs: plan_max_df picks the
    cap from the df histogram to fit the candidate-pair budget, and
    ``return_plan=True`` returns (DataFrame, plan) with the decision.

    The whole candidate/score pipeline runs under ``pin_width(df)``
    and its result is materialized inside the scope: the pipeline is
    ~5 chained shuffles (df-cap, sizes, self-join, pair count, two
    size joins), so a batch-tuned width multiplies near-empty
    partition commits — and AQE's per-stage replan rounds — by the
    stage count on a capped candidate set (measured r15 at sf0.1:
    unpinned 4.39 s vs pinned-8 1.85 s). The eager localCheckpoint
    (blocks GC-freed) means the caller's conf never replans it.
    """
    with pin_width(df):
        out, plan_meta = _containment_scores(
            df, id_col, text_col, n, threshold, max_df, pair_budget
        )
        out = out.localCheckpoint(eager=True)
    if return_plan:
        return out, plan_meta
    return out


def _containment_scores(df, id_col, text_col, n, threshold, max_df, pair_budget):
    """containment_pairs' lazy pipeline and the df-cap plan."""
    sh, plan_meta = _capped_postings(df, id_col, text_col, n, max_df, pair_budget)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    a = sh.withColumnRenamed("doc", "doc_a")
    b = sh.withColumnRenamed("doc", "doc_b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    scored = common.join(
        sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_shingles", "size_a"),
        "doc_a",
    ).join(
        sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_shingles", "size_b"),
        "doc_b",
    )
    fwd = scored.select(
        F.col("doc_a").alias("src"),
        F.col("doc_b").alias("dst"),
        (F.col("n_common") / F.col("size_a")).cast("double").alias("containment"),
    )
    rev = scored.select(
        F.col("doc_b").alias("src"),
        F.col("doc_a").alias("dst"),
        (F.col("n_common") / F.col("size_b")).cast("double").alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold), plan_meta


def containment_topk_per_src(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 3,
    max_df: int | None = DEFAULT_MAX_DF,
    pair_budget: int | None = None,
    return_plan: bool = False,
) -> DataFrame | tuple[DataFrame, dict | None]:
    """Bounded-OUTPUT rung of the containment family — the directional
    twin of jaccard_topk_per_doc: each document's ``k`` strongest
    hosts/quotes by capped n-gram containment(src -> dst), instead of
    every ordered pair above a threshold. On a duplicated corpus the
    full containment pair set grows with the square of the duplication
    factor in BOTH directions (d16 measured 979x output at x10 — an
    output-cardinality fact no exact semantics can beat); the
    production question is usually "what is this doc quoted from /
    what quotes it", whose answer is <= k rows per src at ANY scale.

    Plan: containment_pairs' one symmetric candidate aggregate
    (optionally budget-planned via ``pair_budget``), then a per-src
    rank window over the ALREADY-CAPPED ordered pair set — the window
    shuffles candidate pairs, never the corpus. Ties broken
    (containment DESC, dst ASC) on exact int/int doubles so any engine
    ranks identically.

    Output: (src, dst, containment, rnk) with rnk in 1..k.
    """
    from pyspark.sql import Window

    pairs, plan_meta = _containment_scores(
        df, id_col, text_col, n, 0.0, max_df, pair_budget
    )
    w = Window.partitionBy("src").orderBy(F.desc("containment"), F.asc("dst"))
    out = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("src", "dst", "containment", "rnk")
    )
    if return_plan:
        return out, plan_meta
    return out


def incremental_exact_dedup(
    increment: DataFrame,
    text_col: str,
    id_col: str,
    seen_hashes: DataFrame,
    hash_col: str = "content_sha",
) -> DataFrame:
    """Dedup a NEW data increment against an already-ingested corpus —
    the daily-ingest shape: full-corpus re-dedup at 100 TB costs a
    100 TB scan per day, while this touches only the increment plus an
    anti-join against the (hash-only, 32 bytes/row) seen-set.

    Two stages, both on hashes: (1) dedup WITHIN the increment
    (min-id winner, same semantics as exact_dedup), (2) left_anti
    against ``seen_hashes`` drops content the corpus already has. The
    seen-set is the running output of prior ingests — exactly what
    `exact_dedup(...).select(hash_col)` of the corpus produces — and
    anti-joins shuffle only hashes, never text.

    Output: one surviving (hash, id, dup_count) row per NEW-to-the-
    corpus content item in the increment.
    """
    within = exact_dedup(increment, text_col, id_col)
    return within.join(
        seen_hashes.select(F.col(hash_col).alias("content_sha")), "content_sha", "left_anti"
    )


def incremental_neardup_pairs(
    increment: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """NEAR-dup counterpart of incremental_exact_dedup: exact n-gram
    Jaccard pairs between a new ingest increment and the standing
    corpus — the daily question "which incoming docs are near-copies
    of something we already have" without re-running corpus-wide
    pair detection.

    Output: (doc_new, doc_old, jaccard) with jaccard >= ``threshold``
    — one row per (increment doc, corpus doc) near-dup pair.

    Scale shape — increment-driven, never corpus²:
    - both sides reduce to 8-byte hashed shingles before any join
      (hashed_shingles), and corpus-HOT shingles (df > ``max_df``)
      are dropped from BOTH sides via a broadcast anti-join, so the
      metric is Jaccard over the corpus-rare shingle space (the same
      capped semantics d03 verifies; the hot set holds at most
      |corpus postings| / max_df shingles — broadcastable by
      construction);
    - only corpus postings whose shingle ALSO occurs in the increment
      enter the pair join (broadcast semi-join on the increment's
      distinct shingles — an increment is small by definition), so
      join cost is Σ_shared df_inc × df_cor ≤ max_df × |increment
      postings|: linear in the increment, independent of corpus size;
    - at 100 TB the corpus-side aggregates here (hot set, per-doc
      sizes) are the standing inverted-index stats a production
      ingest maintains incrementally instead of recomputing — this
      operator recomputes them from the corpus frame so its output is
      a pure function of (increment, corpus), which is what the
      oracle verifies.
    """
    inc_sh = (
        hashed_shingles(increment, id_col, text_col, n)
        .withColumnRenamed("sh64", "shingle")
        .withColumnRenamed("doc", "doc_new")
    )
    cor_sh = (
        hashed_shingles(corpus, id_col, text_col, n)
        .withColumnRenamed("sh64", "shingle")
        .withColumnRenamed("doc", "doc_old")
    )
    if max_df is not None:
        cor_sh = cor_sh.cache()
        hot = (
            cor_sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        cor_sh = cor_sh.join(F.broadcast(hot), "shingle", "left_anti")
        inc_sh = inc_sh.join(F.broadcast(hot), "shingle", "left_anti")
    inc_sh = inc_sh.cache()
    cor_sh = cor_sh.cache()
    inc_sizes = inc_sh.groupBy("doc_new").agg(F.count("*").alias("size_new"))
    cor_sizes = cor_sh.groupBy("doc_old").agg(F.count("*").alias("size_old"))
    inc_keys = inc_sh.select("shingle").distinct()
    cand = cor_sh.join(F.broadcast(inc_keys), "shingle", "left_semi")
    common = (
        cand.join(inc_sh, "shingle")
        .groupBy("doc_new", "doc_old")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(inc_sizes, "doc_new")
        .join(cor_sizes, "doc_old")
        .withColumn(
            "jaccard",
            (
                F.col("n_common")
                / (F.col("size_new") + F.col("size_old") - F.col("n_common"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_old", "jaccard")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Cross-corpus n-gram decontamination: per TRAIN document, the
    fraction of its distinct word n-gram shingles that appear anywhere
    in the EVAL corpus — the standard pretraining contamination check
    (an eval benchmark leaking into the training set shows up as a
    train doc whose shingles are mostly eval shingles).

    Output: (doc, n_shingles, n_contaminated, contamination, flagged)
    for every train doc with at least one shingle (docs shorter than
    ``n`` tokens have no n-grams and no defined overlap fraction).

    Scale shape — a bipartite variant of the jaccard_pairs inverted
    index, but cheaper: eval benchmarks are tiny relative to a 100 TB
    train corpus, so the eval shingle set (distinct 8-byte xxhash64
    keys) is broadcast and the 'join' is a map-side semi-join — the
    train corpus is scanned ONCE with no shuffle of shingles at all;
    the only exchange is the per-doc count aggregation, which map-side
    combines to one row per doc. Set ``broadcast_eval=False`` if the
    eval side genuinely exceeds broadcast size (falls back to a
    shuffled semi-join).
    """
    tr = hashed_shingles(train, id_col, text_col, n)
    ev = hashed_shingles(eval_df, id_col, text_col, n).select("sh64").distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    per_doc = tr.join(ev.withColumn("_hit", F.lit(1)), "sh64", "left").groupBy("doc").agg(
        F.count("*").alias("n_shingles"),
        F.count("_hit").alias("n_contaminated"),
    )
    contamination = (F.col("n_contaminated") / F.col("n_shingles")).cast("double")
    return per_doc.select(
        "doc",
        "n_shingles",
        "n_contaminated",
        contamination.alias("contamination"),
        (contamination >= threshold).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 64) -> DataFrame:
    """(doc, array<long> signature): sig[i] = min over shingles of the
    i-th hash of the shingle.

    The variable-length shingle string is hashed ONCE (xxhash64); the k
    independent hash functions are then xxhash64 over that fixed-width
    long + seed — k cheap 12-byte hashes instead of k string re-hashes,
    which at corpus scale is the difference between rehashing the whole
    shingle stream k times and once. One explode + one groupBy; each
    min-aggregation is map-side partial, so the shuffle carries k longs
    per doc regardless of document length.
    """
    return _signatures_from_shingles(hashed_shingles(df, id_col, text_col, n), num_hashes)


def _signatures_from_shingles(sh: DataFrame, num_hashes: int, col: str = "sh64") -> DataFrame:
    """Signatures from an existing (doc, sh64) shingle frame — lets a
    pipeline that also needs the shingles for exact verification scan
    them once instead of twice."""
    # one parsed SQL string for all k min-hash aggregates (the Column
    # form costs ~4 py4j round trips per hash — driver-time, not data)
    sig = F.expr(
        "array(" + ",".join(f"MIN(xxhash64({col}, {i}))" for i in range(num_hashes)) + ")"
    ).alias("signature")
    return sh.groupBy("doc").agg(sig)


def _band_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bucket) banded-bucket stream from a signature frame.

    Band bucket = xxhash64 of the signature SLICE (xxhash64 accepts
    array input) — far smaller codegen than stringifying each slot,
    which matters because this expression is instantiated per band.
    """
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.slice("signature", b * rows_per_band + 1, rows_per_band)).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def _lsh_candidates(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Distinct candidate id pairs (doc_a < doc_b) from banded buckets.

    Candidates are deduped on the bare 16-byte id pair BEFORE any
    rejoin of wide columns — carrying k-long signature arrays through
    the bucket join and the distinct would multiply the shuffle ~64x.
    """
    banded = _band_buckets(sig, num_hashes, bands)
    a = banded.select(F.col("doc").alias("doc_a"), "band", "bucket")
    b = banded.select(F.col("doc").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def resolve_banding(
    num_hashes: int | None,
    bands: int | None,
    threshold: float,
    target_recall: float = 0.99,
    max_hashes: int = 64,
) -> tuple[int, int]:
    """Planner-backed banding defaults: when the caller does not pin a
    config, lsh_planner.minhash_plan picks the minimum-false-candidate
    (bands, rows) meeting the recall floor at ``threshold`` within the
    signature budget — the SURVEY §4.2 optimizer decision, made once
    at plan time from pure S-curve arithmetic.

    Half-pinned configs are honored as constraints, not silently
    re-planned: a pinned ``num_hashes`` with ``bands=None`` becomes
    the planner's signature BUDGET CEILING — the 128-hash caller's
    plan is chosen within 128 hashes instead of the 64 default, but
    the planner may use fewer if a shorter signature already meets
    the recall floor (callers that must bake an exact signature
    length, e.g. write_lsh_index, should pin both); a pinned
    ``bands`` without ``num_hashes`` is an error — bands alone does
    not determine a row count."""
    if num_hashes is None and bands is None:
        from kaylee_spark.operators.lsh_planner import minhash_plan

        plan = minhash_plan(threshold, target_recall=target_recall, max_hashes=max_hashes)
        return plan.num_hashes, plan.bands
    if bands is None:
        from kaylee_spark.operators.lsh_planner import minhash_plan

        plan = minhash_plan(threshold, target_recall=target_recall, max_hashes=num_hashes)
        return plan.num_hashes, plan.bands
    if num_hashes is None:
        raise ValueError(
            "bands pinned without num_hashes — pass both (explicit banding) "
            "or neither (planner default); bands alone does not determine "
            "a signature length"
        )
    return num_hashes, bands


def minhash_lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """The full LSH dedup pipeline: banded-MinHash candidate generation
    followed by EXACT n-gram Jaccard verification of only the
    candidates — the shape a 100 TB dedup run actually uses (LSH prunes
    the pair space; the quadratic exact-Jaccard stage touches only
    candidate pairs).

    Verification cost scales with |candidates| x avg shingle count, not
    corpus²: candidates explode by doc_a's shingles, then one hash join
    against the (doc, shingle) index on (doc_b, shingle) counts the
    intersection; sizes join in last.

    Output (doc_a, doc_b, jaccard) — exact values. With a banding
    config whose recall is 1.0 at or above ``threshold`` (the
    planner's default for threshold 0.5 is 17 bands x 2 rows:
    P(miss) = (1-J²)^17, ~0.75% at J=0.5 and <1e-7 at J=0.8 —
    verified exhaustively equal to the exact pair set on the test
    fixtures), the result equals jaccard_pairs(threshold), which is
    what makes this driver-verifiable against the same SQL oracle as
    the exact query. Banding defaults come from
    lsh_planner.minhash_plan via resolve_banding.
    """
    num_hashes, bands = resolve_banding(num_hashes, bands, threshold)
    sh = hashed_shingles(df, id_col, text_col, n).withColumnRenamed("sh64", "shingle").cache()
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    # signatures derive from the SAME cached shingle frame the verify
    # stage reads — one shingle scan for the whole pipeline
    sig = _signatures_from_shingles(sh, num_hashes, col="shingle")
    cands = _lsh_candidates(sig, num_hashes, bands)
    common = (
        cands.join(sh.select(F.col("doc").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b")), "doc_b")
        .withColumn(
            "jaccard",
            (F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Dedup clustering (iterative connected components)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation over an undirected pair graph.

    The canonical post-pass of every dedup pipeline: near-dup PAIRS
    (from Jaccard/MinHash/SimHash) become CLUSTERS, and min-label makes
    the lowest doc id the deterministic cluster representative. This is
    the engine's iterative-algorithm shape: a driver loop where each
    step is one distributed join + min-aggregate, converging in
    O(graph diameter) steps — near-dup clusters are shallow (dups of a
    common source), so a handful of iterations suffices at any scale.

    Per iteration: label(n) <- min(label(n), min over neighbors of
    label(m)), then a pointer-jump label(n) <- label(label(n)) --
    the jump halves chain depth each step, so convergence is
    O(log diameter) instead of O(diameter) (a 1000-hop dup chain needs
    ~10 iterations, not 1000). Stops early when an iteration changes
    nothing; warns if ``max_iter`` is exhausted unconverged rather than
    silently returning split clusters. localCheckpoint truncates the
    growing lineage so iteration i+1 doesn't replan/recompute 1..i.

    Output: (doc, cluster) for every node appearing in ``edges``.

    The loop runs under ``pin_width(edges)``, same trade as
    pagerank(): each iteration is ~3 shuffles plus an eager
    localCheckpoint, so a batch-tuned width multiplies near-empty
    partition overhead by the iteration count on a small pair graph.
    Labels are exact min-propagation — width-independent — and every
    iteration (and the lazy edge pipeline the first one forces)
    materializes inside the pinned scope, so the caller's conf never
    replans the loop.
    """
    with pin_width(edges):
        return _min_label_loop(edges, src, dst, max_iter)


def _min_label_loop(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionAll(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.distinct().localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("doc"))
        .distinct()
        .withColumn("cluster", F.col("doc"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.doc)
            .groupBy(F.col("a").alias("doc"))
            .agg(F.min("cluster").alias("nmin"))
        )
        propagated = labels.join(neighbor_min, "doc", "left").select(
            "doc", F.least(F.col("cluster"), F.coalesce("nmin", "cluster")).alias("cluster")
        )
        # pointer jump: cluster <- label(cluster). Labels are node ids,
        # so self-joining (doc, cluster) resolves each label one hop
        # further; compounded with the neighbor step, chain depth
        # halves every iteration.
        jump = propagated.select(
            F.col("doc").alias("jdoc"), F.col("cluster").alias("jcluster")
        )
        new_labels = (
            propagated.join(jump, propagated.cluster == jump.jdoc, "left")
            .select(
                "doc",
                F.least(F.col("cluster"), F.coalesce("jcluster", "cluster")).alias("cluster"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        warnings.warn(
            f"connected_components: max_iter={max_iter} exhausted before "
            "convergence; cluster labels may be split. Increase max_iter.",
            RuntimeWarning,
            stacklevel=3,
        )
    return labels


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    edges: str = "lsh",
    n_docs: int | None = None,
) -> DataFrame:
    """Full near-dup clustering: Jaccard pairs above ``threshold``
    -> connected components -> (doc, cluster, is_canonical) for every
    document (singletons are their own cluster).

    ``edges`` picks the pair stage:
    - "auto": lsh_planner.plan_dedup_edges stages the pipeline from
      the corpus's df histogram (one extra shingle scan into a
      droplet-sized aggregate, plus — when no ``n_docs`` hint is
      given — a count job on the corpus frame; at scale pass
      ``n_docs`` from catalog statistics, so planning reads no data
      at all): exact inverted-index while its
      Sigma C(df,2) candidate volume stays below the LSH path's fixed
      signature cost, banded LSH once shingle sharing makes the exact
      join explode — SURVEY §4.2's "dedup-pipeline staging" decision,
      made from measured quantities, not a guess. Both stages emit
      the same edge set (recall-1.0 banding), so the choice never
      changes the output — only the cost.
    - "lsh": banded-MinHash candidates + exact-Jaccard verify
      (minhash_lsh_verified_pairs) — the 100 TB pipeline shape; with
      the recall-1.0 banding config the edge set EQUALS the exact
      one (asserted in tests/test_dedup.py), so clustering output is
      unchanged while the pair stage cost scales with candidates, not
      corpus².
    - "exact": full inverted-index exact Jaccard (jaccard_pairs) —
      the brute-force reference path.

    The loop runs under ``pin_width(df)``: the corpus, not the pair
    stage, sizes it, since the pair stage's cached leaves are read
    several times over. The lazy pair stage materializes inside the
    loop's first localCheckpoint, so the pin covers both the candidate
    joins and the iterative loop.
    """
    if edges not in ("auto", "lsh", "exact"):
        raise ValueError(f"edges must be 'auto', 'lsh', or 'exact' (got {edges!r})")
    if edges == "auto":
        from kaylee_spark.operators.lsh_planner import (
            plan_dedup_edges,
            shingle_df_histogram,
        )

        sh = hashed_shingles(df, id_col, text_col, n).withColumnRenamed("sh64", "shingle")
        hist = shingle_df_histogram(sh)  # one scan; the result is droplet-sized
        if n_docs is None:
            n_docs = df.count()  # avoidable: pass n_docs from catalog stats
        edges = plan_dedup_edges(hist, n_docs=n_docs, threshold=threshold).stage
    if edges == "lsh":
        pairs = minhash_lsh_verified_pairs(df, id_col, text_col, n=n, threshold=threshold)
    else:
        pairs = jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)
    with pin_width(df):
        comps = _min_label_loop(pairs, "doc_a", "doc_b", max_iter=20)
    all_docs = df.select(F.col(id_col).alias("doc"))
    return (
        all_docs.join(comps, "doc", "left")
        .select("doc", F.coalesce("cluster", F.col("doc")).alias("cluster"))
        .withColumn("is_canonical", (F.col("doc") == F.col("cluster")).cast("boolean"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# Portable token hash: two 31-bit polynomial rolling hashes (bases 31
# and 131, both mod the Mersenne prime 2^31-1) packed into one 62-bit
# integer. Every step is plain int64 arithmetic (acc < 2^31, so
# acc*131 + 0x10FFFF < 2^39 — no overflow), which any SQL engine
# folds identically — that is what lets an external auditor re-derive
# the signatures (the DuckDB oracle does exactly this).
PORTABLE_HASH_MOD = 2147483647  # 2^31 - 1
PORTABLE_HASH_BASES = (31, 131)
PORTABLE_SIMHASH_BITS = 62


def portable_token_hash_sql(tok_expr: str) -> str:
    """Spark-SQL expression for the 62-bit portable hash of a token.
    (The DuckDB twin is built by queries/dedup.py's oracle generator —
    list_reduce starting from the first element equals this 0-seeded
    fold because 0*base + c1 = c1.)"""
    folds = [
        f"aggregate(transform(sequence(1, char_length({tok_expr})), "
        f"i -> CAST(ascii(substr({tok_expr}, i, 1)) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc * {b} + x) % {PORTABLE_HASH_MOD})"
        for b in PORTABLE_HASH_BASES
    ]
    return f"({folds[0]} * CAST({1 << 31} AS BIGINT) + {folds[1]})"


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """62-bit SimHash per document from the portable polynomial token
    hash, so any SQL engine can re-derive every signature.

    Fully JVM-side: explode tokens -> token hash -> per-bit
    conditional-sum votes in ONE hash aggregate (map-side partial,
    codegen'd) -> signature reassembled with shifts. No Python, no
    collect_list — the shuffle carries one long per bit per doc
    regardless of doc length, which is what survives 100 TB. (An
    earlier pandas-UDF fold over collect_list was ~10x slower and
    materialized whole documents.)
    """
    bits = PORTABLE_SIMHASH_BITS
    toks = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok"))
    hashed = toks.select("doc", F.expr(portable_token_hash_sql("tok")).alias("h"))
    # Both the bit-vote aggregates and the signature reassembly are
    # single parsed SQL strings: the Column-operator form costs ~400
    # py4j round trips (~2.5 s of driver time per run, measured); one
    # expr() each crosses the bridge once. shiftright & 1 extracts bit
    # i exactly like shiftrightunsigned & 1 (the shifts differ only in
    # bits the & 1 masks away).
    votes = F.expr(
        "array(" + ",".join(f"SUM(IF((shiftright(h, {i}) & 1) = 1, 1, -1))" for i in range(bits)) + ")"
    ).alias("votes")
    per_doc = hashed.groupBy("doc").agg(votes)
    sig = F.expr(
        " | ".join(
            f"IF(votes[{i}] > 0, shiftleft(CAST(1 AS BIGINT), {i}), CAST(0 AS BIGINT))"
            for i in range(bits)
        )
    )
    return per_doc.select("doc", sig.alias("simhash"))


@dataclass(frozen=True)
class Pigeonhole:
    """The pigeonhole split of a ``bits``-bit signature for Hamming
    search within ``max_hamming``: max_hamming+1 disjoint chunks of
    width bits // (max_hamming+1). A pair within distance max_hamming
    differs in at most max_hamming chunks, so at least one chunk
    agrees exactly — bucketing on (chunk, key) loses no pair, and an
    exact popcount verifies the candidates. Chunks may leave the top
    bits % chunks bits un-keyed; that only ADDS candidates, the
    popcount still sees every bit.

    ``keys`` bands a signature column into its chunk keys; ``verify``
    keeps a joined candidate once (in its FIRST agreeing chunk) and
    only within distance. hamming_pairs, hamming_probe and the
    candidate counters of tools/dedup_scale_probe.py share it.
    """

    max_hamming: int
    bits: int

    def __post_init__(self):
        if self.bits < self.max_hamming + 1:
            raise ValueError(
                f"pigeonhole Hamming search needs bits >= max_hamming + 1 "
                f"(got bits={self.bits}, max_hamming={self.max_hamming}); width "
                "would floor to 0 and every chunk key would be 0 (a full cross join)"
            )

    @property
    def chunks(self) -> int:
        return self.max_hamming + 1

    @property
    def width(self) -> int:
        return self.bits // self.chunks

    @property
    def mask(self) -> int:
        return (1 << self.width) - 1

    def keys(self, sig_col: str) -> Column:
        """explode of one struct(chunk, key) per chunk of ``sig_col``."""
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col(sig_col), c * self.width)
                        .bitwiseAND(F.lit(self.mask))
                        .alias("key"),
                    )
                    for c in range(self.chunks)
                ]
            )
        )

    def verify(self, joined: DataFrame, sh_a: str, sh_b: str) -> DataFrame:
        """Candidates of a (chunk, key) join that met in their first
        agreeing chunk and lie within max_hamming, with ``hamming``.

        A pair can meet in several agreeing chunks; both signatures
        ride the join, so the first agreeing chunk (the lowest zero
        chunk of the XOR) is arithmetic, not a distinct. The join
        guarantees SOME chunk agrees, so the CASE always hits."""
        w, mask = self.width, self.mask
        first_agree = "CASE " + " ".join(
            f"WHEN (shiftrightunsigned({sh_a}, {c * w}) & {mask}) = "
            f"(shiftrightunsigned({sh_b}, {c * w}) & {mask}) THEN {c}"
            for c in range(self.chunks)
        ) + " END"
        ham = F.bit_count(F.col(sh_a).bitwiseXOR(F.col(sh_b)))
        return (
            joined.filter(F.col("chunk") == F.expr(first_agree))
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= self.max_hamming)
        )


def hamming_pairs(
    sig: DataFrame,
    max_hamming: int,
    bits: int,
    id_col: str = "doc",
    sig_col: str = "simhash",
    out_prefix: str = "doc",
) -> DataFrame:
    """All id pairs whose ``bits``-bit signatures differ in at most
    ``max_hamming`` bits — COMPLETE (every qualifying pair emitted,
    exactly once) and sub-quadratic: a self-join on the Pigeonhole
    chunk keys, then its first-agree dedup and popcount verify.

    One shuffle total past the signature frame: each side carries its
    8-byte signature through the bucket join, so there is no
    pair-distinct exchange and no signature re-attach join (an earlier
    ids-only+rejoin shape paid three shuffles to save 8 bytes/row of
    join width; strictly worse at any scale since |candidates| >=
    |banded rows|).
    """
    ph = Pigeonhole(max_hamming, bits)
    a_id, b_id = f"{out_prefix}_a", f"{out_prefix}_b"
    # Cache the signature frame: both join branches read it, and —
    # more important — without a materialization barrier Catalyst
    # collapses the signature-producing projection INTO the join
    # branches, re-evaluating the (potentially expensive, e.g. the
    # sign-LSH decimal fold) signature expression once per exploded
    # chunk row and again inside every first-agree comparison —
    # measured 185 s vs ~2 s on the s03 shape. Signatures are tiny
    # (16 bytes/row) next to what they index.
    sig = sig.cache()
    banded = sig.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        ph.keys(sig_col).alias("cb"),
    ).select("id", "sig", "cb.chunk", "cb.key")
    a = banded.select(F.col("id").alias(a_id), F.col("sig").alias("sh_a"), "chunk", "key")
    b = banded.select(F.col("id").alias(b_id), F.col("sig").alias("sh_b"), "chunk", "key")
    cands = a.join(b, ["chunk", "key"]).filter(F.col(a_id) < F.col(b_id))
    return ph.verify(cands, "sh_a", "sh_b").select(a_id, b_id, "hamming")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming
    (pigeonhole bucketing + exact popcount verify — see Pigeonhole
    for the completeness argument). The signatures are portable, so
    any SQL engine can re-derive the whole pair set (the d05 oracle
    brute-forces it)."""
    sig = simhash(df, id_col, text_col)
    return hamming_pairs(
        sig, max_hamming, PORTABLE_SIMHASH_BITS, id_col="doc", sig_col="simhash", out_prefix="doc"
    )


def write_lsh_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
) -> None:
    """Materialize the STANDING MinHash-LSH index a daily ingest
    probes: band buckets (doc, band, bucket) written parquet
    PARTITIONED BY band, plus the hashed shingle postings (doc, sh64)
    for the exact-verify stage. This is the persisted form of the
    state incremental_neardup_pairs recomputes from the corpus frame —
    build it once per corpus snapshot, probe it every ingest without
    touching corpus text again (the IVF-at-rest idea applied to text
    LSH). Banding defaults are planner-derived for the probe
    ``threshold`` (resolve_banding); the RESOLVED config
    (num_hashes, bands, shingle n) is persisted as index metadata at
    ``{path}/meta`` so probe_lsh_index reads the baked banding instead
    of re-deriving it from a possibly-different threshold.
    """
    num_hashes, bands = resolve_banding(num_hashes, bands, threshold)
    sh = hashed_shingles(corpus, id_col, text_col, n).cache()
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    sig = _signatures_from_shingles(sh, num_hashes)
    (
        _band_buckets(sig, num_hashes, bands)
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(f"{path}/buckets")
    )
    sh.unpersist()
    # metadata travels with the index via the same storage scheme the
    # index uses (works for any Hadoop-FS path, not just local disk)
    corpus.sparkSession.createDataFrame(
        [(int(num_hashes), int(bands), int(n))],
        "num_hashes int, bands int, shingle_n int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def probe_lsh_index(
    spark,
    path: str,
    increment: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs of an ingest increment against a PERSISTED LSH
    index (write_lsh_index) — the daily probe that never rescans
    corpus text: candidates come from joining the increment's band
    buckets (broadcast — an increment is small) against the persisted
    bucket table, and the exact-verify stage reads only the candidate
    docs' persisted shingle postings (broadcast semi-join on candidate
    ids). Cost ∝ increment bucket occupancy + candidate postings,
    independent of corpus size.

    Output: (doc_new, doc_old, jaccard >= threshold) — with a
    recall-1.0 banding config (the planner's 34x17 on the fixture)
    this EQUALS the exact bipartite Jaccard pair set, which is what
    the d13 oracle verifies.

    The banding/shingle config is read from the index's persisted
    metadata (written by write_lsh_index), so a probe with a different
    ``threshold`` still hashes into the SAME buckets the index baked —
    threshold stays purely the Jaccard filter. Explicitly pinned
    arguments are validated against the metadata and raise on mismatch
    (a silent mismatch previously produced near-empty results).
    Indexes written before metadata existed fall back to
    resolve_banding — which must then match the write-time config.
    """
    from pyspark.errors import AnalysisException

    try:
        meta = spark.read.parquet(f"{path}/meta").first()
    except AnalysisException as e:
        # PATH_NOT_FOUND: a pre-metadata index layout — legacy fallback.
        # Anything else (e.g. UNABLE_TO_INFER_SCHEMA from an empty or
        # footerless meta dir left by an interrupted write_lsh_index)
        # must raise: silently re-deriving banding is the bug this
        # metadata exists to kill.
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        meta = None
    if meta is not None:
        if num_hashes is not None and num_hashes != meta["num_hashes"]:
            raise ValueError(
                f"probe num_hashes={num_hashes} mismatches the persisted "
                f"index (num_hashes={meta['num_hashes']}) — omit it to use "
                "the index's baked config"
            )
        if bands is not None and bands != meta["bands"]:
            raise ValueError(
                f"probe bands={bands} mismatches the persisted index "
                f"(bands={meta['bands']}) — omit it to use the index's "
                "baked config"
            )
        if n != meta["shingle_n"]:
            raise ValueError(
                f"probe shingle n={n} mismatches the persisted index "
                f"(shingle_n={meta['shingle_n']})"
            )
        num_hashes, bands = meta["num_hashes"], meta["bands"]
    else:
        num_hashes, bands = resolve_banding(num_hashes, bands, threshold)
    inc_sh = hashed_shingles(increment, id_col, text_col, n).cache()
    inc_sig = _signatures_from_shingles(inc_sh, num_hashes)
    inc_b = _band_buckets(inc_sig, num_hashes, bands).withColumnRenamed("doc", "doc_new")
    cor_b = spark.read.parquet(f"{path}/buckets")
    cands = (
        cor_b.join(F.broadcast(inc_b), ["band", "bucket"])
        .select("doc_new", F.col("doc").alias("doc_old"))
        .distinct()
        .cache()
    )
    cor_sh = spark.read.parquet(f"{path}/shingles")
    cand_old = cands.select(F.col("doc_old").alias("doc")).distinct()
    cor_sh_c = cor_sh.join(F.broadcast(cand_old), "doc", "left_semi")
    inc_sizes = inc_sh.groupBy(F.col("doc").alias("doc_new")).agg(
        F.count("*").alias("size_new")
    )
    cor_sizes = cor_sh_c.groupBy(F.col("doc").alias("doc_old")).agg(
        F.count("*").alias("size_old")
    )
    common = (
        inc_sh.withColumnRenamed("doc", "doc_new")
        .join(cor_sh_c.withColumnRenamed("doc", "doc_old"), "sh64")
        .join(cands, ["doc_new", "doc_old"], "left_semi")
        .groupBy("doc_new", "doc_old")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(inc_sizes, "doc_new")
        .join(cor_sizes, "doc_old")
        .withColumn(
            "jaccard",
            (
                F.col("n_common")
                / (F.col("size_new") + F.col("size_old") - F.col("n_common"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_old", "jaccard")
    )


def leakage_free_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_ppm: int = 100_000,
    n: int = 3,
    threshold: float = 0.5,
    edges: str = "lsh",
) -> DataFrame:
    """Train/eval assignment that can never leak near-duplicates
    across the split: documents are first clustered by near-dup
    similarity (dedup_clusters), then the WHOLE CLUSTER is assigned
    by the portable hash of its canonical id — two documents that are
    near-copies always share a cluster, hence always share a side.
    Splitting per-document (train_eval_split on doc id) cannot give
    this property: a paraphrase pair split across sides leaks eval
    content into training, the exact failure decontamination audits
    hunt for after the fact. This operator prevents it by
    construction.

    ``eval_ppm`` is the eval rate in parts-per-million of CLUSTERS
    (singletons are their own cluster, so for a mostly-unique corpus
    this ~equals the document rate). Membership is the portable
    multiplicative hash (operators/sampling.portable_bucket) of the
    cluster id — three integer ops any SQL engine re-derives, so the
    assignment itself is externally auditable.

    Output: (doc, cluster, split) for every input document, split in
    {'train', 'eval'}.
    """
    from kaylee_spark.operators.sampling import portable_bucket

    clusters = dedup_clusters(df, id_col, text_col, n=n, threshold=threshold, edges=edges)
    return clusters.select(
        "doc",
        "cluster",
        F.when(portable_bucket(F.col("cluster")) < F.lit(eval_ppm), F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def corpus_jaccard(df: DataFrame, group_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Pairwise Jaccard similarity between document GROUPS (sources,
    languages, crawl snapshots) over their union n-gram shingle sets —
    the corpus-overlap report that decides which crawls are worth
    ingesting and which mirror an existing source.

    Returns one row per intersecting group pair (grp_a < grp_b):
    (grp_a, grp_b, n_a, n_b, n_common, jaccard), where n_* are distinct
    shingle counts and jaccard = |A∩B| / |A∪B| exactly (integer
    counts, one rounded division).

    Scale shape: each document's shingles dedup row-locally
    (_gram_array) and hash to 8 bytes before the ONE (grp, shingle)
    distinct shuffle; the per-shingle posting list is bounded by the
    number of GROUPS (not documents), so the intersection self-join
    costs at most |distinct shingles| x G² — linear in corpus size
    for a fixed group count. The G²-pair result is droplet-sized.
    At petabyte scale the same report can run from per-group MinHash
    signatures instead (minhash_signatures aggregated per group) when
    exact counts aren't required.
    """
    sh = (
        df.select(F.col(group_col).alias("grp"), F.explode(_gram_array(text_col, n)).alias("g"))
        .select("grp", F.xxhash64("g").alias("sh64"))
        .distinct()
        .cache()
    )
    sizes = sh.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh64") == F.col("b.sh64")) & (F.col("a.grp") < F.col("b.grp")))
        .groupBy(F.col("a.grp").alias("grp_a"), F.col("b.grp").alias("grp_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("grp").alias("grp_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("grp").alias("grp_b"), F.col("n").alias("n_b"))
    union_n = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return (
        common.join(sa, "grp_a")
        .join(sb, "grp_b")
        .select(
            "grp_a",
            "grp_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(F.col("n_common").cast("double") / union_n, 6).alias("jaccard"),
        )
    )


def duplicate_window_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 10,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-document duplicated-substring signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the fraction of its length-``w`` token-window
    OCCURRENCES whose window string also appears in at least one OTHER
    document. High shared_frac = the doc is largely assembled from
    text that exists elsewhere in the corpus — the substring-level
    contamination that document-hash dedup (d01) and whole-doc Jaccard
    (d03) both under-report.

    Output: (doc, n_windows, n_shared, shared_frac, is_contaminated)
    for every doc with >= 1 window (docs shorter than w tokens are
    absent); shared_frac is an exact bigint/bigint IEEE division,
    deliberately unrounded (the d03 recipe). Intra-doc repeats do NOT
    make a window "shared" — sharing is defined on DISTINCT-doc
    support, so this composes with (rather than duplicates) the
    intra-doc t25 repetition filter.

    Scale shape — the published approach's MapReduce skeleton, no
    suffix array needed for the *fraction* statistic: windows keep
    multiplicity per doc but collapse map-side to (doc, window) counts
    before the first exchange; window doc-support is ONE count over
    that frame (never count-distinct over raw occurrences); the
    support join is co-partitioned on the window key it just
    aggregated on. The window strings themselves ride two shuffles —
    at 100 TB swap the key for xxhash64(window) (8 bytes vs ~6x w)
    and accept the 2^-64 collision odds; kept as raw strings here so
    the DuckDB oracle replays the exact same keys.
    """
    from kaylee_spark.operators.text import positional_grams

    grams = positional_grams(tokens(text_col), w)
    occ = (
        df.select(F.col(id_col).alias("doc"), F.explode(grams).alias("win"))
        .groupBy("doc", "win")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    support = occ.groupBy("win").agg(F.count(F.lit(1)).alias("dd"))
    joined = occ.join(support, "win")
    shared = F.when(F.col("dd") >= 2, F.col("c")).otherwise(F.lit(0))
    out = joined.groupBy("doc").agg(
        F.sum("c").alias("n_windows"), F.sum(shared).alias("n_shared")
    )
    frac = F.col("n_shared") / F.col("n_windows")
    return out.select(
        "doc",
        "n_windows",
        "n_shared",
        frac.alias("shared_frac"),
        (frac > threshold).alias("is_contaminated"),
    )


#: polynomial fold bases for the portable Bloom pre-screen's k=3 hash
#: functions (the d05/t04 portable-hash family — any SQL engine
#: replays them, so even the Bloom's false positives are
#: oracle-derivable integers, not just bounded).
BLOOM_BASES = (257, 263, 269)


def bloom_prescreen_report(
    increment: DataFrame,
    corpus: DataFrame,
    key,
    bits_per_item: int = 16,
) -> DataFrame:
    """Bloom-filter dedup PRE-SCREEN report: before running the exact
    (or near-) dedup of a daily increment against a standing corpus,
    a Bloom filter of the corpus KEY SET (``key`` — content, a
    normalized form, or a cheap near-dup key like the leading-tokens
    prefix) cheaply flags the increment
    rows that MIGHT be duplicates — only flagged rows proceed to the
    expensive verify, and the no-false-negative guarantee means
    nothing real is lost. This is the standard cost-ladder rung below
    d08's exact anti-join at 100 TB: the filter is k*|corpus| set
    BITS (here materialized as a distinct int-position table; swap in
    an xxhash64-built binary bloom broadcast for production — same
    semantics, these portable polynomial hashes exist so an external
    SQL engine can replay the screen bit-for-bit, FALSE POSITIVES
    INCLUDED).

    Output (1 row): n_increment, n_true_dup, n_flagged, n_false_pos,
    n_false_neg — the last is structurally 0 (Bloom guarantee; emitted
    so the oracle asserts it as data, not doctrine).

    Scale shape: corpus contributes only k int positions per row
    (map-side distinct); the probe is ONE int-keyed join of exploded
    increment positions against the position set; truth is the d08
    hash semi-join. Text never shuffles.
    """
    from kaylee_spark.operators.text import fingerprint_portable

    key = F.col(key) if isinstance(key, str) else key
    n_corpus = corpus.count()
    m = max(1, bits_per_item * n_corpus)
    fps = [fingerprint_portable(key, base=b) % F.lit(m) for b in BLOOM_BASES]
    bits = (
        corpus.select(F.explode(F.array(*fps)).alias("pos")).distinct()
    )
    probes = increment.select(
        F.col("doc_id").alias("doc"),
        content_hash(key).alias("sha"),
        F.array_distinct(F.array(*fps)).alias("ps"),
    )  # referenced twice below; increments are small — recompute beats
    # a cache this helper could never safely unpersist
    ex = probes.select("doc", F.explode("ps").alias("pos"), F.size("ps").alias("need"))
    hits = (
        ex.join(bits, "pos")
        .groupBy("doc", "need")
        .agg(F.count(F.lit(1)).alias("got"))
    )
    flagged = probes.join(hits, "doc", "left").select(
        "doc", "sha", F.coalesce(F.col("got") == F.col("need"), F.lit(False)).alias("flagged")
    )
    seen = corpus.select(content_hash(key).alias("sha")).distinct()
    truth = flagged.join(
        seen.select("sha", F.lit(True).alias("is_dup")), "sha", "left"
    ).select("doc", "flagged", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    out = truth.agg(
        F.count(F.lit(1)).alias("n_increment"),
        F.count(F.when(F.col("is_dup"), 1)).alias("n_true_dup"),
        F.count(F.when(F.col("flagged"), 1)).alias("n_flagged"),
        F.count(F.when(F.col("flagged") & ~F.col("is_dup"), 1)).alias("n_false_pos"),
        F.count(F.when(~F.col("flagged") & F.col("is_dup"), 1)).alias("n_false_neg"),
    )
    return out


def hamming_probe(
    corpus_sig: DataFrame,
    probe_sig: DataFrame,
    max_hamming: int,
    bits: int,
    corpus_id: str = "vid",
    probe_id: str = "vid",
    sig_col: str = "sig",
) -> DataFrame:
    """Bipartite pigeonhole probe: all (corpus, probe) id pairs whose
    ``bits``-bit signatures differ in at most ``max_hamming`` bits —
    hamming_pairs' increment/eval-probe sibling (the d12/d13 shape for
    signature space). COMPLETE for the same reason: a pair within
    distance d differs in at most d of the d+1 disjoint chunks, so
    some chunk agrees exactly; candidates come only from
    agreeing-chunk buckets, exact popcount verifies.

    Why not hamming_pairs on the tagged union: the self-join also
    generates corpus×corpus candidates — at 100 TB that is almost ALL
    of the work, spent on pairs the caller filters away. Here the
    probe side (an eval set, a daily increment) is exploded into its
    d+1 chunk keys and BROADCAST; the corpus side streams through the
    bucket join at scan speed with no corpus×corpus term at all.
    Duplicate meetings dedup arithmetically (first agreeing chunk of
    the XOR — both signatures ride the join), never via a distinct.

    Output: (``corpus_id``, ``probe_id``, hamming), exactly once; when
    the two id names coincide they come out as ``<id>_c``/``<id>_p``.
    """
    ph = Pigeonhole(max_hamming, bits)

    def banded(df: DataFrame, idc: str, out_id: str, out_sig: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(out_id),
            F.col(sig_col).alias(out_sig),
            ph.keys(sig_col).alias("cb"),
        ).select(out_id, out_sig, "cb.chunk", "cb.key")

    out_c = f"{corpus_id}_c" if corpus_id == probe_id else corpus_id
    out_p = f"{probe_id}_p" if corpus_id == probe_id else probe_id
    # materialization barrier (the hamming_pairs lesson): without it
    # Catalyst re-evaluates the signature fold per exploded chunk row
    corp = banded(corpus_sig.localCheckpoint(eager=True), corpus_id, out_c, "sh_c")
    prob = banded(probe_sig.localCheckpoint(eager=True), probe_id, out_p, "sh_p")
    cands = corp.join(F.broadcast(prob), ["chunk", "key"])
    return ph.verify(cands, "sh_c", "sh_p").select(out_c, out_p, "hamming")
