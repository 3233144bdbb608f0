"""profile_table / zscore_outliers / bm25_topk operator semantics."""

from __future__ import annotations

import pytest

from kaylee_spark.operators.analytics import zscore_outliers
from kaylee_spark.operators.profiling import profile_table
from kaylee_spark.operators.ranking import bm25_oracle_sql, bm25_topk


# ---------------------------------------------------------------------------
# profile_table
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mixed_df(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "a", None),
            (3, None, 30.0),
            (3, "b", 30.0),
        ],
        ["id", "tag", "score"],
    )


def test_profile_counts_and_ranges(spark, mixed_df):
    prof = {r["col_name"]: r for r in profile_table(mixed_df).collect()}
    assert set(prof) == {"id", "tag", "score"}
    for r in prof.values():
        assert r["n_rows"] == 4
    assert prof["id"]["n_nulls"] == 0 and prof["id"]["n_distinct"] == 3
    assert prof["tag"]["n_nulls"] == 1 and prof["tag"]["n_distinct"] == 2
    assert prof["score"]["n_nulls"] == 1 and prof["score"]["n_distinct"] == 2
    # numeric min/max as doubles; string columns emit null range
    assert prof["id"]["min_value"] == 1.0 and prof["id"]["max_value"] == 3.0
    assert prof["score"]["min_value"] == 10.0 and prof["score"]["max_value"] == 30.0
    assert prof["tag"]["min_value"] is None and prof["tag"]["max_value"] is None


def test_profile_single_scan_and_subset(spark, mixed_df):
    out = profile_table(mixed_df)
    assert [r["col_name"] for r in out.collect()] == ["id", "tag", "score"]
    # ONE pass: exactly one scan of the source in the optimized plan
    # (the executed-plan string is AQE-formatted and can render the
    # same scan subtree twice, so count in the logical plan)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") + plan.count("LocalRelation") == 1


# ---------------------------------------------------------------------------
# zscore_outliers
# ---------------------------------------------------------------------------


def test_zscore_flags_only_the_planted_outlier(spark):
    rows = [(i, "a", 10.0) for i in range(20)] + [(99, "a", 1000.0)]
    # a second group whose values are all equal: zero variance must not
    # produce spurious rows (z is NaN there, NaN >= t is false)
    rows += [(200 + i, "b", 5.0) for i in range(5)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    out = zscore_outliers(df, value_col="value", group_col="event_type", threshold=3.0)
    got = out.collect()
    assert [r["event_id"] for r in got] == [99]
    assert got[0]["zscore"] > 4.0
    # stats columns do not leak into the output
    assert set(out.columns) == {"event_id", "event_type", "value", "zscore"}


def test_zscore_is_deterministic_across_repartition(spark):
    rows = [(i, "g", float((i * 37) % 100)) for i in range(200)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    a = zscore_outliers(df, threshold=1.5).orderBy("event_id").collect()
    b = zscore_outliers(df.repartition(13), threshold=1.5).orderBy("event_id").collect()
    assert [(r["event_id"], r["zscore"]) for r in a] == [(r["event_id"], r["zscore"]) for r in b]
    assert len(a) > 0


# ---------------------------------------------------------------------------
# bm25_topk
# ---------------------------------------------------------------------------


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "spark spark spark runs fast"),
            (2, "spark joins tables"),
            (3, "nothing relevant here at all"),
            (4, "rare rare word"),
        ],
        ["doc_id", "text"],
    )


def test_bm25_orders_by_relevance_and_drops_nonmatches(spark):
    out = bm25_topk(_docs(spark), ["spark", "rare"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # no query term -> dropped
    # doc 4 is the only one with the rarer term: highest idf mass
    assert ids[0] == 4
    # doc 1 has higher tf for 'spark' than doc 2
    assert ids.index(1) < ids.index(2)
    assert all(r["score"] > 0 for r in out)


def test_bm25_no_shuffle_of_the_corpus(spark):
    plan = bm25_topk(_docs(spark), ["spark"], k=5)._jdf.queryExecution().executedPlan().toString()
    # the only exchange feeds the 1-row stats broadcast; the corpus
    # itself reaches TakeOrdered without a partitioner change
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_bm25_rejects_bad_terms(spark):
    with pytest.raises(ValueError):
        bm25_topk(_docs(spark), [])
    with pytest.raises(ValueError):
        bm25_topk(_docs(spark), ["ok", "BAD TERM"])
    with pytest.raises(ValueError):
        bm25_oracle_sql(["injection'--"])


def test_equidepth_histogram_balanced_on_uniform_ranks(spark):
    """1..1000 in one group: every decile bucket holds exactly 100 rows
    and buckets partition the value range in order."""
    from kaylee_spark.operators.profiling import equidepth_histogram

    df = spark.createDataFrame([("g", float(i)) for i in range(1, 1001)], ["grp", "v"])
    out = sorted(
        (r["bucket"], r["n_rows"], r["min_value"], r["max_value"])
        for r in equidepth_histogram(df, "v", "grp", 10).collect()
    )
    assert [b for b, *_ in out] == list(range(1, 11))
    assert all(n == 100 for _, n, *_ in out)
    for (_, _, _, hi), (_, _, lo, _) in zip(out, out[1:]):
        assert hi < lo  # buckets are disjoint, ordered ranges


def test_equidepth_histogram_counts_are_exhaustive(spark):
    from kaylee_spark.operators.profiling import equidepth_histogram

    rows = [("a", float(i % 37)) for i in range(500)] + [("b", float(i % 11)) for i in range(300)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = equidepth_histogram(df, "v", "grp", 10)
    got = {r["grp"]: 0 for r in out.collect()}
    for r in out.collect():
        got[r["grp"]] += r["n_rows"]
    assert got == {"a": 500, "b": 300}


# ---------------------------------------------------------------------------
# spearman_corr
# ---------------------------------------------------------------------------


def test_spearman_matches_pandas_with_ties(spark):
    import pandas as pd

    from kaylee_spark.operators.profiling import spearman_corr

    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 4.0, 2.5, 7.0]
    ys = [2.0, 4.0, 3.0, 7.0, 9.0, 9.0, 5.0, 12.0]
    df = spark.createDataFrame([("g", x, y) for x, y in zip(xs, ys)], ["g", "x", "y"])
    got = spearman_corr(df, "x", "y", ["g"]).collect()[0]
    # pearson on average ranks == spearman (avoids pandas' scipy dep)
    want = pd.Series(xs).rank().corr(pd.Series(ys).rank())
    assert got["n"] == len(xs)
    assert got["spearman_rho"] == round(want, 6)


def test_spearman_perfect_and_constant(spark):
    from kaylee_spark.operators.profiling import spearman_corr

    rows = [("up", float(i), float(i * 10)) for i in range(5)]
    rows += [("down", float(i), float(-i)) for i in range(5)]
    rows += [("flat", float(i), 3.0) for i in range(5)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {r["g"]: r["spearman_rho"] for r in spearman_corr(df, "x", "y", ["g"]).collect()}
    assert got["up"] == 1.0
    assert got["down"] == -1.0
    assert got["flat"] is None  # zero variance -> undefined, not a crash


def test_spearman_single_exchange_plan(spark):
    from kaylee_spark.operators.profiling import spearman_corr

    df = spark.createDataFrame([("g", 1.0, 2.0)], ["g", "x", "y"])
    plan = (
        spearman_corr(df, "x", "y", ["g"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # both rank windows and the final aggregate ride ONE group-keyed
    # exchange (two sorts, zero re-shuffles)
    assert plan.count("Exchange hashpartitioning") == 1
