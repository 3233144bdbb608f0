"""LSH parameter planner tests (SURVEY §4.2's named optimizer scope):
S-curve math invariants, reproduction of the shipped configs, planted-
corpus recall floors at two scales, and the Sigma df^2 cost model
against ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kaylee_spark.operators import dedup as D
from kaylee_spark.operators.lsh_planner import (
    BandingPlan,
    candidate_pairs_bound,
    minhash_plan,
    minhash_recall,
    plan_max_df,
    shingle_df_histogram,
    signlsh_plan,
    signlsh_recall,
)


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.7, 0.9])
@pytest.mark.parametrize("target", [0.9, 0.99])
def test_minhash_plan_meets_recall_within_budget(threshold, target):
    plan = minhash_plan(threshold, target_recall=target, max_hashes=128)
    assert plan.bands * plan.rows == plan.num_hashes <= 128
    assert plan.recall_at_threshold >= target
    assert minhash_recall(threshold, plan.bands, plan.rows) >= target
    # the S-curve must discriminate: clearly-below-threshold pairs
    # are strictly less likely to surface than threshold pairs
    assert plan.fp_rate < plan.recall_at_threshold


def test_minhash_plan_prefers_sharper_curves_with_budget():
    """More hash budget must never produce a WORSE false-candidate
    rate — the planner trades hashes for S-curve sharpness."""
    tight = minhash_plan(0.5, target_recall=0.99, max_hashes=16)
    wide = minhash_plan(0.5, target_recall=0.99, max_hashes=64)
    assert wide.fp_rate <= tight.fp_rate


def test_minhash_plan_reproduces_shipped_d04_config():
    """The config wired into d04/d13 (resolve_banding's default)."""
    plan = minhash_plan(0.5, target_recall=0.99, max_hashes=64)
    assert (plan.bands, plan.rows, plan.num_hashes) == (17, 2, 34)
    assert D.resolve_banding(None, None, 0.5) == (34, 17)
    # explicit configs pass through untouched
    assert D.resolve_banding(32, 16, 0.5) == (32, 16)


def test_resolve_banding_honors_half_pinned_budget():
    """A pinned num_hashes with bands=None is a BUDGET, not a value to
    silently discard: the planner must plan within it (and a bigger
    budget must not plan worse than the 64-hash default)."""
    nh_default, _ = D.resolve_banding(None, None, 0.5)
    nh_128, bands_128 = D.resolve_banding(128, None, 0.5)
    assert nh_128 <= 128
    assert nh_128 >= nh_default  # the larger budget was actually used
    assert nh_128 % bands_128 == 0  # still a valid bands x rows grid
    # a tiny pinned budget binds
    nh_8, _ = D.resolve_banding(8, None, 0.5)
    assert nh_8 <= 8
    # bands without num_hashes is underdetermined -> error, not a guess
    with pytest.raises(ValueError):
        D.resolve_banding(None, 16, 0.5)


def test_signlsh_plan_reproduces_shipped_s02_config():
    """The shipped ANN config (4 planes x 12 tables, 1-bit probe) is
    the planner's own choice at recall 0.9999 / cosine 0.45 / 48 bits
    — and the multi-probe term is what affords the 4-plane depth:
    without probing the same recall forces shallower 2-plane tables
    with a strictly worse false-candidate rate."""
    plan = signlsh_plan(0.45, target_recall=0.9999, max_bits=48, probe_bits=1)
    assert (plan.bands, plan.rows) == (12, 4)  # (tables, planes)
    assert plan.recall_at_threshold >= 0.9999
    flat = signlsh_plan(0.45, target_recall=0.9999, max_bits=48, probe_bits=0)
    assert flat.rows < plan.rows and flat.fp_rate > plan.fp_rate


def test_signlsh_recall_monotone_in_probing_and_tables():
    base = signlsh_recall(0.4, n_tables=8, n_planes=4, probe_bits=0)
    probed = signlsh_recall(0.4, n_tables=8, n_planes=4, probe_bits=1)
    more_tables = signlsh_recall(0.4, n_tables=16, n_planes=4, probe_bits=0)
    assert base < probed <= 1.0
    assert base < more_tables <= 1.0


def _planted_corpus(spark, n_base: int, seed_words: int = 30):
    """n_base originals + one mutated near-copy each (J well above
    0.5) + unrelated filler; deterministic arithmetic, no RNG."""
    rows = []
    for i in range(n_base):
        words = [f"w{(i * 7 + j) % seed_words}x{i}" for j in range(20)]
        rows.append((2 * i, " ".join(words)))
        mutated = list(words)
        mutated[3] = f"mut{i}"  # one token swap: 3-gram J ~ 0.7
        rows.append((2 * i + 1, " ".join(mutated)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("n_base", [25, 100])
def test_planner_banding_recall_floor_on_planted_corpus(spark, n_base):
    """The planner's default banding must find >= its target fraction
    of true J>=0.5 pairs on planted near-dup corpora — at two corpus
    scales, since recall is per-pair but bucket collisions shift with
    corpus size."""
    docs = _planted_corpus(spark, n_base)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert len(exact) >= n_base  # the plants are really there
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_verified_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.99, f"planner banding recall {recall} at n_base={n_base}"
    # verified pipeline can't hallucinate: every emitted pair is exact
    assert got <= exact


def test_candidate_pairs_bound_matches_ground_truth(spark):
    docs = _planted_corpus(spark, 20)
    sh = D.hashed_shingles(docs, "doc_id", "text", 3).withColumnRenamed("sh64", "shingle")
    hist = shingle_df_histogram(sh)
    assert sum(n for _, n in hist) == sh.select("shingle").distinct().count()
    # the bound with no cap == the actual inverted-index join size
    truth = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(F.sum(F.expr("df * (df - 1) / 2")).alias("s"))
        .collect()[0]["s"]
    )
    max_df = max(df for df, _ in hist)
    assert candidate_pairs_bound(hist, max_df) == int(truth)


def test_plan_max_df_respects_budget_and_is_maximal():
    hist = [(1, 1000), (2, 100), (5, 10), (50, 2), (1000, 1)]
    # full cost: 100*1 + 10*10 + 2*1225 + 499500 = 502150
    cap, bound = plan_max_df(hist, pair_budget=10_000)
    assert cap == 50 and bound == 100 + 100 + 2450
    cap_all, bound_all = plan_max_df(hist, pair_budget=1_000_000)
    assert cap_all == 1000 and bound_all == 502150
    # a starvation budget still returns the df=2 evidence floor
    cap_min, bound_min = plan_max_df(hist, pair_budget=1)
    assert cap_min == 2 and bound_min == 100
    with pytest.raises(ValueError):
        plan_max_df(hist, 0)


def test_plan_max_df_confirms_shipped_jaccard_cap(spark, sf_dir):
    """DEFAULT_MAX_DF=1000 (d03/d12/d16's Sigma df^2 valve) must be
    consistent with the planner on the real fixture: the planner's
    choice at a 10M-candidate budget is at least the fixture's hottest
    shingle (cap not binding, as d03's docstring claims)."""
    from kaylee_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = D.hashed_shingles(docs, "doc_id", "text", 3).withColumnRenamed("sh64", "shingle")
    hist = shingle_df_histogram(sh)
    cap, bound = plan_max_df(hist, pair_budget=10_000_000)
    hottest = max(df for df, _ in hist)
    assert cap >= hottest, f"planner cap {cap} would bind below df={hottest}"
    assert bound <= 10_000_000


def test_plans_are_frozen_dataclasses():
    plan = minhash_plan(0.5)
    assert isinstance(plan, BandingPlan)
    with pytest.raises(Exception):
        plan.bands = 1
