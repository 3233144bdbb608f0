"""Join operators Spark lacks natively: as-of join and interval/range
join helpers (SURVEY.md §2.3 lists these as absent in both the
reference and stock Spark's high-level API).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
) -> DataFrame:
    """As-of join: for each left row, the single right row with the
    latest right_time <= left_time, per `on` key.

    Implementation is the union+window pattern — one shuffle on the
    key, one ordered scan, no range explosion:
      tag rows, union, sort by (key, time, tag), last() over the
      ordered window carries the most recent right row forward.
    Scales as sort-merge, the right strategy when both sides are huge
    (the alternative, key+bucketed range join, multiplies rows).
    """
    rcols = [c for c in right.columns if c != on and c != right_time]
    l_tag = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.struct(*left.columns).alias("_lrow"),
        F.lit(None).cast(right.select(F.struct(*[F.col(c) for c in rcols]).alias("s")).schema["s"].dataType).alias("_rrow"),
    )
    r_tag = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(left.select(F.struct(*left.columns).alias("s")).schema["s"].dataType).alias("_lrow"),
        F.struct(*[F.col(c) for c in rcols]).alias("_rrow"),
    )
    unioned = l_tag.unionByName(r_tag)
    # right rows sort before left rows at equal time -> <= semantics
    w = Window.partitionBy("_k").orderBy(F.asc("_t"), F.asc("_is_left")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried = F.last(F.col("_rrow"), ignorenulls=True).over(w)
    carried_t = F.last(F.when(F.col("_is_left") == 0, F.col("_t")), ignorenulls=True).over(w)

    out = (
        unioned.withColumn("_matched", carried)
        .withColumn("_matched_t", carried_t)
        .filter(F.col("_is_left") == 1)
    )
    flat_left = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    flat_right = [F.col(f"_matched.{c}").alias(c) for c in rcols]
    # expose the matched right-side time too (asof analyses almost
    # always need the gap); null when no match
    matched_time = F.when(F.col("_matched").isNotNull(), F.col("_matched_t")).alias(right_time)
    return out.select(*flat_left, *flat_right, matched_time)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float | None = None,
) -> DataFrame:
    """Interval join: left rows whose point falls in [right_lo, right_hi].

    Without help Spark plans point-in-interval as BroadcastNestedLoop /
    cartesian. When ``bucket_width`` is given, both sides get bucketed
    so the join becomes an equi-join on bucket id (intervals exploded
    across the buckets they span) + residual filter — turning O(n*m)
    into a co-partitioned hash join. That's the 100 TB path.
    """
    cond = (F.col(left_point) >= F.col(right_lo)) & (F.col(left_point) <= F.col(right_hi))
    if bucket_width is None:
        return left.join(right, cond)

    lb = left.withColumn("_bucket", F.floor(F.col(left_point).cast("double") / bucket_width).cast("long"))
    span = F.sequence(
        F.floor(F.col(right_lo).cast("double") / bucket_width).cast("long"),
        F.floor(F.col(right_hi).cast("double") / bucket_width).cast("long"),
    )
    rb = right.withColumn("_bucket", F.explode(span))
    return lb.join(rb, (lb["_bucket"] == rb["_bucket"]) & cond).drop("_bucket")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    q: int = 3,
) -> DataFrame:
    """Edit-distance join: all (left, right) pairs with
    ``levenshtein(left_col, right_col) <= max_dist``, as an EXACT
    result without a cross join.

    Candidate generation is PREFIX-FILTERED q-gram indexing (the
    Ed-Join shape). One edit changes at most q distinct q-grams, so
    two strings within distance d differ in at most q*d grams each
    way. Fix one global total order on grams — here ascending
    (document frequency, gram hash) — and index only each string's
    FIRST p = q*d + 1 distinct grams under that order. If either
    string of a pair has more than q*d distinct grams, their p-prefixes
    must intersect (if the prefixes were disjoint, the side whose
    prefix maxes out earlier would contribute p > q*d grams all absent
    from the other — contradiction), so joining prefix grams to prefix
    grams loses nothing. Ordering by ascending frequency pushes
    corpus-boilerplate grams out of every prefix: WITHOUT it, one
    shared substring across the corpus (think "Customer#0000…")
    buckets everything together and the candidate set degenerates to
    the cross product — measured 3.4B candidate rows on 15k TPC-H
    names vs ~linear with prefixes.

    GRAM-POOR strings (fewer than p distinct grams after
    deduplication: shorter than q*(d+1), or long but repetitive like
    "ababab…") carry no prefix guarantee between themselves; those
    pairs route through a broadcast length-banded cross join of the
    two gram-poor subsets. A gram-poor x gram-rich pair is still
    caught by the gram path (the poor side's "prefix" is ALL its
    grams). Strings shorter than q are gram-poor by construction and
    can only be within d of other gram-poor strings (their partner's
    length is under q + d, hence under p distinct grams).

    Scale shape: everything runs per DISTINCT VALUE, not per row (rows
    rejoin by value at the end). Linear passes: gram explode, one
    df-count aggregation over both sides, one per-value rank window
    (partitions of ~L grams), then the prefix-bucket join whose cost
    is the sum of squared RARE-gram bucket sizes. The verify is the
    built-in threshold levenshtein (early-exit, returns -1 past d) on
    deduped value pairs. The length band |len_a - len_b| <= d prunes
    inside the bucket join, before the distinct.

    Both inputs must share no column names; output = left columns +
    right columns + ``edit_distance`` (int, <= max_dist).
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"left/right share column names: {sorted(overlap)}")
    for internal in ("_fj_s", "_fj_t", "_fj_g", "_fj_df", "_fj_rich"):
        if internal in left.columns or internal in right.columns:
            raise ValueError(f"column name {internal!r} is reserved by fuzzy_join")
    p = q * max_dist + 1

    def vals(df: DataFrame, col: str, out: str) -> DataFrame:
        grams = (
            f"CASE WHEN length({out}) >= {q} THEN "
            f"array_distinct(transform(sequence(1, length({out}) - {q - 1}),"
            f" i -> xxhash64(substr({out}, i, {q})))) "
            f"ELSE array() END"
        )
        return (
            df.select(F.col(col).alias(out))
            .filter(F.col(out).isNotNull())
            .distinct()
            .withColumn("_fj_grams", F.expr(grams))
            .withColumn("_fj_rich", F.size("_fj_grams") > q * max_dist)
        )

    vl = vals(left, left_col, "_fj_s")
    vr = vals(right, right_col, "_fj_t")

    gl = vl.select("_fj_s", "_fj_rich", F.explode("_fj_grams").alias("_fj_g"))
    gr = vr.select("_fj_t", "_fj_rich", F.explode("_fj_grams").alias("_fj_g"))

    # one global gram order shared by both sides: ascending df, gram
    # hash as the deterministic tie-break
    dfreq = (
        gl.select("_fj_g")
        .unionAll(gr.select("_fj_g"))
        .groupBy("_fj_g")
        .agg(F.count("*").alias("_fj_df"))
    )

    def prefix(g: DataFrame, key: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.asc("_fj_df"), F.asc("_fj_g"))
        return (
            g.join(dfreq, "_fj_g")
            .withColumn("_fj_rk", F.row_number().over(w))
            .filter(F.col("_fj_rk") <= p)
            .select(key, "_fj_rich", "_fj_g")
        )

    pl = prefix(gl, "_fj_s").withColumnRenamed("_fj_rich", "_fj_rich_l")
    pr = prefix(gr, "_fj_t").withColumnRenamed("_fj_rich", "_fj_rich_r")

    band = F.abs(F.length("_fj_s") - F.length("_fj_t")) <= max_dist
    gram_pairs = (
        pl.join(pr, "_fj_g")
        .filter(band & (F.col("_fj_rich_l") | F.col("_fj_rich_r")))
        .select("_fj_s", "_fj_t")
        .distinct()
    )
    poor_pairs = (
        vl.filter(~F.col("_fj_rich"))
        .select("_fj_s")
        .crossJoin(F.broadcast(vr.filter(~F.col("_fj_rich")).select("_fj_t")))
        .filter(band)
    )

    verified = (
        gram_pairs.unionByName(poor_pairs)
        .withColumn("edit_distance", F.levenshtein(F.col("_fj_s"), F.col("_fj_t"), max_dist))
        .filter(F.col("edit_distance") >= 0)
    )
    return (
        left.join(verified, F.col(left_col) == F.col("_fj_s"))
        .join(right, F.col("_fj_t") == F.col(right_col))
        .select(*left.columns, *right.columns, "edit_distance")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bucket_width: int | None = None,
) -> DataFrame:
    """Interval×interval OVERLAP join: all (left, right) pairs whose
    closed ranges intersect (left_lo <= right_hi AND right_lo <=
    left_hi) — the sessions×incidents / stays×promotions shape that
    range_join (point-in-interval) cannot express.

    Bounds must be INTEGER columns (epoch seconds, days, positions):
    bucketing uses exact integer division, so the bucket assignment is
    reproducible by any engine — no float floor at bucket boundaries.

    Without ``bucket_width`` Spark plans the inequality-only condition
    as a nested-loop — fine for one broadcast-small side, unshippable
    fact×fact. With it, BOTH sides explode across the width-``w``
    buckets their interval spans and the join becomes an equi-join on
    bucket id + the overlap residual. An overlapping pair then meets
    in EVERY shared bucket, which would duplicate output; instead of a
    distinct pass (a second shuffle of the whole result), each pair is
    kept only in its FIRST overlap bucket — the one containing
    max(left_lo, right_lo), a row-local predicate. Exactly-once output
    with zero dedup shuffle.

    Pick ``bucket_width`` near the typical interval length: cost is
    sum of per-bucket |left|x|right| products, so the width trades
    explode factor (len/width copies per row) against bucket occupancy
    — same law as range_join's bucketing, both sides exploded.
    """
    cond = (F.col(left_lo) <= F.col(right_hi)) & (F.col(right_lo) <= F.col(left_hi))
    if bucket_width is None:
        return left.join(right, cond)
    w = int(bucket_width)
    lb = left.withColumn(
        "_lbkt", F.explode(F.sequence(F.expr(f"{left_lo} div {w}"), F.expr(f"{left_hi} div {w}")))
    )
    rb = right.withColumn(
        "_rbkt", F.explode(F.sequence(F.expr(f"{right_lo} div {w}"), F.expr(f"{right_hi} div {w}")))
    )
    first_bucket = F.expr(f"greatest({left_lo}, {right_lo}) div {w}")
    return (
        lb.join(rb, (lb["_lbkt"] == rb["_rbkt"]) & cond)
        .filter(F.col("_lbkt") == first_bucket)
        .drop("_lbkt", "_rbkt")
    )
