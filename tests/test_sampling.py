"""Deterministic sampling operators: reproducibility, disjointness,
fraction accuracy, and partitioning-invariance."""

from __future__ import annotations

from kaylee_spark.operators.sampling import stratified_sample, train_eval_split
from kaylee_spark.sources import load_table


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_stratified_sample_respects_strata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(docs, "doc_id", "lang", {"en": 1.0, "de": 0.0})
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    n_en = docs.filter("lang = 'en'").count()
    assert out.count() == n_en  # fraction 1.0 keeps every en row


def test_train_eval_split_disjoint_exhaustive_stable(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    train, ev = train_eval_split(docs, "doc_id", eval_fraction=0.2)
    t, e = _ids(train), _ids(ev)
    assert t.isdisjoint(e)
    assert t | e == _ids(docs)
    # stability: same split after reprocessing a subset
    sub = docs.limit(100)
    t2, e2 = train_eval_split(sub, "doc_id", eval_fraction=0.2)
    assert _ids(t2) <= t and _ids(e2) <= e


def test_weighted_sample_k_deterministic_and_exact_k(spark):
    from kaylee_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [(f"k{i}", float(1 + i % 5)) for i in range(500)], ["key", "w"]
    )
    a = {r["key"] for r in weighted_sample_k(df, "key", "w", 50).collect()}
    b = {r["key"] for r in weighted_sample_k(df.repartition(13), "key", "w", 50).collect()}
    assert len(a) == 50
    assert a == b  # partition-invariant, retry-stable
    c = {r["key"] for r in weighted_sample_k(df, "key", "w", 50, seed=7).collect()}
    assert a != c  # seed actually matters


def test_weighted_sample_k_respects_weights(spark):
    """Heavy keys (w=20) must dominate a k=100 sample over light keys
    (w=1) at equal population. Deterministic given the seed, so the
    assertion is stable, not flaky."""
    from kaylee_spark.operators.sampling import weighted_sample_k

    rows = [(f"h{i}", 20.0) for i in range(300)] + [(f"l{i}", 1.0) for i in range(300)]
    df = spark.createDataFrame(rows, ["key", "w"])
    got = [r["key"] for r in weighted_sample_k(df, "key", "w", 100).collect()]
    heavy = sum(1 for kk in got if kk.startswith("h"))
    assert heavy > 75  # expectation ~95; far above the 50/50 null


def test_weighted_sample_k_excludes_nonpositive_and_caps(spark):
    from kaylee_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0), ("c", -2.0), ("d", None)], ["key", "w"]
    )
    got = {r["key"] for r in weighted_sample_k(df, "key", "w", 10).collect()}
    assert got == {"a"}  # only the positive-weight row; fewer than k is fine


def test_stratified_sample_k_exact_k_and_deterministic(spark):
    from collections import Counter

    from kaylee_spark.operators.sampling import stratified_sample_k

    rows = [(f"k{i}", "big") for i in range(200)] + [(f"s{i}", "tiny") for i in range(3)]
    df = spark.createDataFrame(rows, ["key", "stratum"])
    out = stratified_sample_k(df, "key", "stratum", 10)
    counts = Counter(r["stratum"] for r in out.collect())
    assert counts == {"big": 10, "tiny": 3}  # under-k strata keep all
    again = stratified_sample_k(df.repartition(7), "key", "stratum", 10)
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in again.collect()}


def test_take_until_budget_prefix_semantics(spark):
    from kaylee_spark.operators.sampling import take_until_budget

    rows = [
        ("a", 1, 60), ("a", 2, 60), ("a", 3, 60),   # starts at 0, 60, 120
        ("b", 1, 500),                              # first row always starts in-budget
        ("c", 1, 10),                               # no budget entry -> dropped
    ]
    df = spark.createDataFrame(rows, ["stratum", "ord", "cost"])
    out = take_until_budget(df, "stratum", "ord", "cost", {"a": 100, "b": 100})
    got = {(r["stratum"], r["ord"]) for r in out.collect()}
    # a3 starts at 120 >= 100; b1 overshoots but STARTED in budget
    assert got == {("a", 1), ("a", 2), ("b", 1)}
    # scalar budget applies to every stratum
    out2 = take_until_budget(df, "stratum", "ord", "cost", 50)
    got2 = {(r["stratum"], r["ord"]) for r in out2.collect()}
    assert got2 == {("a", 1), ("b", 1), ("c", 1)}


def test_portable_stratified_sample_matches_python_arithmetic(spark):
    """Membership is the documented pure integer formula — re-derived
    here in plain Python, the way any external auditor would."""
    from kaylee_spark.operators.sampling import (
        PORTABLE_MULT,
        PORTABLE_PPM,
        portable_stratified_sample,
    )

    rows = [(i, "en" if i % 3 == 0 else "de") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = portable_stratified_sample(
        df, key="doc_id", strata_col="lang", ppm={"en": 250_000}, default_ppm=700_000
    )
    got = {r["doc_id"] for r in out.collect()}
    expect = {
        i
        for i, lang in rows
        if (i % 2147483647) * PORTABLE_MULT % PORTABLE_PPM
        < (250_000 if lang == "en" else 700_000)
    }
    assert got == expect
    # partitioning-invariant, like every sampler in this module
    again = {
        r["doc_id"]
        for r in portable_stratified_sample(
            df.repartition(13), "doc_id", "lang", {"en": 250_000}, 700_000
        ).collect()
    }
    assert again == got


def test_mad_outliers_flags_contamination_zscore_misses(spark):
    """The classic MASKING case: two corrupt readings inflate stddev
    together until each shows z = sqrt((n-k)/k) ~ 2 < 3, while the MAD
    gate (cut line from the clean majority) still flags both."""
    from kaylee_spark.operators.analytics import mad_outliers, zscore_outliers

    inliers = [10, 11, 9, 10, 12, 8, 10, 11]
    rows = [("g", float(v)) for v in inliers + [1_000_000, 1_000_000]]
    df = spark.createDataFrame(rows, ["event_type", "value"])
    robust = mad_outliers(df, value_col="value", group_col="event_type")
    assert [r["value"] for r in robust.collect()] == [1_000_000.0, 1_000_000.0]
    classic = zscore_outliers(df, value_col="value", group_col="event_type", threshold=3.0)
    assert classic.count() == 0  # the pair mask each other's z-score


def test_mad_outliers_zero_mad_group_defines_none(spark):
    from kaylee_spark.operators.analytics import mad_outliers

    rows = [("c", 5.0)] * 8 + [("c", 9e9)]  # median & MAD both degenerate
    df = spark.createDataFrame(rows, ["event_type", "value"])
    assert mad_outliers(df, "value", "event_type").count() == 0


def test_weighted_sample_k_portable_matches_reference(spark):
    """The portable variant's membership is re-derivable outside Spark:
    recompute the quantized-ln scores in pure Python and check the
    exact top-k set, partitioning-invariant."""
    import math

    from kaylee_spark.operators.sampling import (
        PORTABLE_MULT,
        PORTABLE_PPM,
        _PORTABLE_FOLD,
        weighted_sample_k_portable,
    )

    rows = [(i, 1 + (i * 7) % 50) for i in range(500)]
    df = spark.createDataFrame(rows, "key long, w long")
    got = sorted(r["key"] for r in weighted_sample_k_portable(df, "key", "w", 40).collect())
    again = sorted(
        r["key"]
        for r in weighted_sample_k_portable(df.repartition(17), "key", "w", 40).collect()
    )
    assert got == again

    def score(k, w):
        b = (k % _PORTABLE_FOLD) * PORTABLE_MULT % PORTABLE_PPM
        return round(math.log((b + 0.5) / PORTABLE_PPM), 6) / w

    ref = sorted(rows, key=lambda r: (-score(r[0], r[1]), r[0]))[:40]
    assert got == sorted(k for k, _ in ref)
    # heavier keys are overrepresented vs uniform: selection prob ~ w
    heavy = {k for k, w in rows if w >= 40}
    frac_heavy_corpus = len(heavy) / len(rows)
    frac_heavy_sample = len(heavy & set(got)) / 40
    assert frac_heavy_sample > 1.5 * frac_heavy_corpus
