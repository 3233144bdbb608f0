"""Planted-defect / metamorphic tests for the FORMULA-TWINNED oracle
families (VERDICT r11 item 2 — the t28 lesson systematized).

The twin-replay oracles verify engine-oracle AGREEMENT, not intent: a
query whose DuckDB oracle re-derives the engine's own arithmetic
(portable hashes, HLL registers, BPE replace chains, sign signatures)
passes the 202-query hash gate even if both engines share a semantic
flaw — exactly how t28's cross-token-boundary merge bug survived the
gate until a review caught it. Each test here pins the SEMANTIC
contract against ground truth the shared formula cannot auto-pass:
hand-computed expected outputs, geometric invariants, or properties
computed independently in plain Python on the planted fixture.

Family coverage:
- BPE (t28/t30/t31): hand-computed merge tables on a corpus designed
  to exercise tie-breaking, left-to-right non-overlap, batch
  token-disjointness, and the boundary trap that bit t28.
- HLL (a37/e35): estimate vs constructed true distinct count, and
  duplicate-inflation invariance of the registers.
- Sign signatures (d23/s02): scale invariance, antipodal complement,
  and a planted decontamination fixture with geometric ground truth.
- Portable-hash text family (t04; t16/d20 have planted tests in
  test_sampling/test_dedup already): order sensitivity + stability.
- Unigram LM (t33/t34): lossless Viterbi + planted whole-word vocab.
- Moment store (a39): derived mean/variance vs statistics.mean/
  pvariance on a hand-computable fixture.
- Time-series closed forms: e23 rolling z vs statistics.pstdev on the
  previous-window history; e24 EWMA literal weight chain vs pandas
  ewm(adjust=True, ignore_na=False); e27 CUSUM closed cumulative form
  vs the textbook sequential recursion in exact Fractions.
- Drift shelf: a30 rational KS vs hand-derived D on tied samples +
  the published c(0.05) cut; a31 PSI quantized-ln chain vs textbook
  math.log PSI and the exact-zero no-shift case.
- Graph fixed point: g01 integer PageRank vs an independent float
  implementation of the leaky recurrence on a planted graph.
- Quantile store (a40/e41): derived p50/p90/p99 fenceposts vs a
  hand-computed fixture + day re-shard invariance.
- Co-moment store (a41): derived Pearson r vs statistics.correlation
  on a hand-computable fixture + shard-merge reproduction.
- Connected components (g08): hand-derived k-hop min labels on a
  planted two-component graph, including the not-yet-converged state
  and the fixed point one iteration later.

Exemptions (formula-twinned but already pinned elsewhere): e22's
linear interpolation (hand-computed gap/edge/tie cases in
test_timeseries) and e26's autocorrelation (vs a numpy reference and
a planted period in test_timeseries).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------- BPE

_BPE_DOCS = [
    (1, "x y x y x y"),
    (2, "x y z"),
    (3, "w xy z"),  # trap: rule (x,y) must never fire inside token "xy"
]


def test_bpe_train_matches_hand_computed_merges(spark):
    """Greedy BPE on a corpus whose 3-round merge table is derived BY
    HAND in the comments below — independent of the engine's replace
    chain and of the oracle that replays it.

    Round 1 pair counts: (x,y):4 (y,x):2 (y,z):1 (w,xy):1 (xy,z):1
      -> merge (x,y)->xy n=4; doc1 becomes [xy,xy,xy] (left-to-right
      non-overlap), doc2 [xy,z], doc3 UNCHANGED (boundary trap).
    Round 2: (xy,xy):2 (xy,z):2 (w,xy):1 — tie at n=2 breaks on
      pair_b asc ("xy" < "z") -> merge (xy,xy)->xyxy n=2; doc1
      becomes [xyxy, xy] (left-to-right: first pair wins).
    Round 3: (xy,z):2 (xyxy,xy):1 (w,xy):1 -> merge (xy,z)->xyz n=2.
    """
    from kaylee_spark.operators.text import bpe_train

    df = spark.createDataFrame(_BPE_DOCS, ["doc_id", "text"])
    got = [
        (r["round"], r["rank"], r["pair_a"], r["pair_b"], r["merged"], r["n"])
        for r in bpe_train(df, rounds=3).orderBy("round", "rank").collect()
    ]
    assert got == [
        (1, 1, "x", "y", "xy", 4),
        (2, 1, "xy", "xy", "xyxy", 2),
        (3, 1, "xy", "z", "xyz", 2),
    ]


def test_bpe_batched_round_matches_hand_computed_disjoint_picks(spark):
    """batch_m=2, rounds=1: rank 1 is (x,y) n=4; token-disjointness
    then removes (y,x) and (y,z) from rank-2 candidacy, leaving the
    n=1 tie (w,xy) vs (xy,z), broken on pair_a asc ("w" < "xy")."""
    from kaylee_spark.operators.text import bpe_train

    df = spark.createDataFrame(_BPE_DOCS, ["doc_id", "text"])
    got = [
        (r["round"], r["rank"], r["pair_a"], r["pair_b"], r["merged"], r["n"])
        for r in bpe_train(df, rounds=1, batch_m=2).orderBy("round", "rank").collect()
    ]
    assert got == [
        (1, 1, "x", "y", "xy", 4),
        (1, 2, "w", "xy", "wxy", 1),
    ]


def test_bpe_apply_hand_computed_on_held_out_doc(spark):
    """Applying the hand-verified 3-rule table to a held-out document:
    [x y x y z xy w xy] -> rule (x,y): [xy xy z xy w xy] -> rule
    (xy,xy): [xyxy z xy w xy] -> rule (xy,z): NO match — the only
    "xy" before a "z" is the tail of token "xyxy" (the t28 boundary
    trap, on the apply path)."""
    from kaylee_spark.operators.text import bpe_apply, bpe_train

    train_df = spark.createDataFrame(_BPE_DOCS, ["doc_id", "text"])
    merges = bpe_train(train_df, rounds=3)
    held_out = spark.createDataFrame([(9, "x y x y z xy w xy")], ["doc_id", "text"])
    r = bpe_apply(held_out, merges).collect()[0]
    assert r["bpe_tokens"] == ["xyxy", "z", "xy", "w", "xy"]
    assert r["n_bpe_tokens"] == 5


# ---------------------------------------------------------------- HLL


def _hll_events(spark, n_a: int = 300, n_b: int = 40, dup: int = 4):
    # scattered (non-sequential) ids by construction; truth is the
    # Python-side set size, not anything the engine computes
    ids_a = sorted({(7919 * i + 13) % 100003 for i in range(n_a)})
    ids_b = sorted({(104729 * i + 7) % 99991 + 200000 for i in range(n_b)})
    days = ["2024-03-01", "2024-03-02", "2024-03-03"]
    rows = []
    for grp, ids in (("A", ids_a), ("B", ids_b)):
        for j, uid in enumerate(ids):
            for d in range(dup):
                rows.append((grp, f"{days[(j + d) % 3]} 10:00:00", uid))
    df = spark.createDataFrame(rows, "event_type string, ts string, user_id long")
    return df.withColumn("ts", F.col("ts").cast("timestamp")), len(ids_a), len(ids_b)


def test_hll_estimate_close_to_constructed_truth(spark):
    """The estimate must land within the store's own rel_bound of the
    TRUE distinct count known by construction. A shared register
    defect (e.g. rho off by one — which the twin oracle would replay
    verbatim) roughly doubles or halves the estimate and fails here."""
    from kaylee_spark.operators.analytics import hll_distinct_store

    df, true_a, true_b = _hll_events(spark)
    rows = {r["grp"]: r for r in hll_distinct_store(df, rel_bound=0.2).collect()}
    for grp, truth in (("A", true_a), ("B", true_b)):
        r = rows[grp]
        assert r["n_exact"] == truth  # countDistinct sanity
        assert abs(r["estimate"] - truth) <= 0.2 * truth, (
            f"{grp}: estimate {r['estimate']} vs planted truth {truth}"
        )
        assert r["within_bound"] and r["merge_exact"]


def test_hll_registers_invariant_under_duplication(spark):
    """Tripling every event row must leave estimates bit-identical:
    registers are MAXes of per-id values, so multiplicity cannot move
    them. A defect that let multiplicity leak in (e.g. summing rho)
    explodes here while the twin oracle would agree with it."""
    from kaylee_spark.operators.analytics import hll_distinct_store

    df, _, _ = _hll_events(spark, n_a=120, n_b=25, dup=1)
    once = {r["grp"]: r["estimate"] for r in hll_distinct_store(df).collect()}
    tripled = df.union(df).union(df)
    thrice = {r["grp"]: r["estimate"] for r in hll_distinct_store(tripled).collect()}
    assert once == thrice


# ------------------------------------------------- sign signatures


def _dominant_vec(coord: int, dim: int = 64, scale: float = 1000.0):
    # sign of every plane projection is decided by the dominant
    # coordinate: |dominant term| = scale*1e12, noise sum < 64*1e9
    return [
        scale if k == coord else (0.001 if k % 2 == 0 else -0.001)
        for k in range(dim)
    ]


def test_sign_signature_geometric_invariants(spark):
    """SRP signatures are functions of DIRECTION only: positive
    scaling preserves them and negation complements every bit (no
    projection is zero for the dominant-coordinate vectors used). A
    magnitude leak in the quantization — replayed by the shared
    oracle CTE — breaks the scaling law."""
    from kaylee_spark.operators.similarity import SIGNATURE_BITS, sign_signatures

    v = _dominant_vec(0)
    rows = spark.createDataFrame(
        [
            (1, v),
            (2, [2.5 * x for x in v]),
            (3, [-x for x in v]),
        ],
        "vec_id long, embedding array<float>",
    )
    sig = {r["vid"]: r["sig"] for r in sign_signatures(rows, dim=64).collect()}
    mask = (1 << SIGNATURE_BITS) - 1
    assert sig[1] == sig[2], "positive scaling must preserve the signature"
    assert sig[3] == sig[1] ^ mask, "negation must complement every bit"


def test_semantic_decontamination_planted_geometry(spark):
    """d23's composition (sign_signatures -> hamming_probe) on a
    planted fixture with GEOMETRIC ground truth: a corpus vector that
    is a positive rescale of an eval vector MUST be flagged at
    hamming 0; its antipode MUST NOT be flagged (hamming = all 24
    bits); a tiny perturbation of non-dominant coordinates MUST still
    be flagged. None of this depends on the hyperplane constants the
    oracle shares."""
    from kaylee_spark.operators.dedup import hamming_probe
    from kaylee_spark.operators.similarity import sign_signatures

    v = _dominant_vec(0)
    eps = [x + (1e-9 if k > 0 else 0.0) for k, x in enumerate(v)]
    corpus = spark.createDataFrame(
        [(101, [3.0 * x for x in v]), (102, [-x for x in v]), (103, eps)],
        "vec_id long, embedding array<float>",
    )
    evalset = spark.createDataFrame([(900, v)], "vec_id long, embedding array<float>")
    got = {
        r["vid_c"]: r["hamming"]
        for r in hamming_probe(
            sign_signatures(corpus, dim=64),
            sign_signatures(evalset, dim=64),
            max_hamming=3,
            bits=24,
        ).collect()
    }
    assert got.get(101) == 0, "rescaled duplicate must be flagged at hamming 0"
    assert got.get(103) == 0, "epsilon-perturbed duplicate must be flagged"
    assert 102 not in got, "antipodal vector must not be inside the cone"


# ------------------------------------------- portable-hash text rung


def test_fingerprint_is_order_sensitive_and_stable(spark):
    """The rolling-hash fingerprint's CONTRACT is order sensitivity:
    identical token sequences collide, permuted ones must not. A
    defect degrading it to an orderless bag hash (which its portable
    oracle twin would replay) passes every equality check but fails
    the permutation leg."""
    from kaylee_spark.operators.text import fingerprint_portable

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),  # identical -> same fp
            (3, "delta gamma beta alpha"),  # permuted -> different fp
            (4, "alpha beta gamma delt"),   # one-char edit -> different
        ],
        ["doc_id", "text"],
    )
    col = fingerprint_portable("text")
    fp = {r["doc_id"]: r["fp"] for r in df.select("doc_id", col.alias("fp")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3], "permutation must change a rolling hash"
    assert fp[1] != fp[4]
    # repartition invariance: row-local column, any layout
    fp2 = {
        r["doc_id"]: r["fp"]
        for r in df.repartition(7).select("doc_id", col.alias("fp")).collect()
    }
    assert fp == fp2


# ------------------------------------------------------ unigram-LM


def test_unigram_viterbi_is_lossless_and_prefers_fewer_pieces():
    """Row-local DP contract, formula-free: the best segmentation must
    re-spell the word exactly, and with all piece probabilities < 1 a
    single covering piece always beats any split of itself (ln is
    subadditive on products of probabilities < 1)."""
    from kaylee_spark.operators.text import unigram_viterbi

    scores = {
        "a": -300_000, "b": -310_000, "c": -320_000, "d": -330_000,
        "ab": -500_000, "cd": -510_000, "abcd": -700_000, "bc": -505_000,
    }
    for w in ("abcd", "abc", "dcba", "aabbccdd", "d"):
        pieces = unigram_viterbi(w, scores, 4)
        assert "".join(pieces) == w, (w, pieces)
    assert unigram_viterbi("abcd", scores, 4) == ["abcd"]
    # tie-break: equal score paths -> fewer pieces wins
    tie = {"x": -100, "xx": -200, "xxx": -300}
    assert unigram_viterbi("xxx", tie, 4) == ["xxx"]


def test_unigram_train_planted_whole_word_vocabulary(spark):
    """Planted ground truth reasoned from first principles (no replay
    of either engine's arithmetic): a corpus of three distinct words
    must train to exactly the three whole-word pieces carrying their
    frequencies — every sub-piece is Viterbi-unused (a whole piece
    with p<1 beats any split) and therefore pruned; the coverage
    chars survive with zero uses. A defect in seeding, counting,
    pruning, or the DP moves at least one of these rows."""
    from kaylee_spark.operators.text import unigram_train

    text = " ".join(["abcd"] * 10 + ["efg"] * 8 + ["ab"] * 5)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = {
        r["piece"]: (r["piece_len"], r["n_uses"])
        for r in unigram_train(df).collect()
    }
    expected_multi = {"abcd": (4, 10), "efg": (3, 8), "ab": (2, 5)}
    for piece, want in expected_multi.items():
        assert got.get(piece) == want, (piece, got.get(piece))
    for ch in "abcdefg":
        assert got.get(ch) == (1, 0), (ch, got.get(ch))
    assert len(got) == 7 + 3, sorted(got)


def test_moment_registers_derive_known_variance(spark):
    """a39's registers share their formula with the oracle, so the
    DERIVED statistic needs an independent check (the t28 lesson): on
    a hand-computable fixture, mean and population variance derived
    from the merged registers must equal statistics.mean/pvariance —
    and merging the two day shards must give the same registers as
    one global pass."""
    import statistics

    from kaylee_spark.operators.analytics import moment_registers

    vals_d1, vals_d2 = [1.00, 2.00, 4.00], [10.00, 0.00]
    rows = [(i, f"2024-01-0{d} 12:00:00", "t", v)
            for d, vs in ((1, vals_d1), (2, vals_d2))
            for i, v in enumerate(vs)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "event_type", "value")

    shards = moment_registers(df).collect()
    assert len(shards) == 2  # one register row per day
    n = sum(r["n"] for r in shards)
    s1 = sum(r["s1"] for r in shards)
    s2 = sum(r["s2"] for r in shards)
    vals = vals_d1 + vals_d2
    # registers are exact cents
    assert (n, s1, s2) == (
        len(vals),
        sum(round(v * 100) for v in vals),
        sum(round(v * 100) ** 2 for v in vals),
    )
    mean_cents = s1 / n
    var_cents2 = (n * s2 - s1 * s1) / (n * n)
    assert mean_cents / 100 == pytest.approx(statistics.mean(vals))
    assert var_cents2 / 10_000 == pytest.approx(statistics.pvariance(vals))


# ------------------------------------------------- time-series (e23)


def _ts_rows(user_vals: dict[int, list[float | None]]):
    return [
        (uid * 1000 + i, f"2024-01-01 0{i}:00:00", uid, v)
        for uid, vs in user_vals.items()
        for i, v in enumerate(vs)
    ]


def _ts_frame(spark, user_vals):
    return spark.createDataFrame(
        _ts_rows(user_vals), "event_id long, ts string, user_id long, value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id", "value"
    )


def test_rolling_zscore_matches_statistics_module(spark):
    """e23's oracle replays the engine's decimal-moment closed form;
    this pins the SEMANTIC contract (z of each value against its key's
    previous-window population mean/sd, self-excluded) against plain
    statistics.mean/pstdev on a planted series — including the
    empty-history (first row) and constant-history (sd = 0) nulls."""
    import statistics

    from kaylee_spark.operators.timeseries import rolling_zscore

    vals = {1: [10.0, 20.0, 40.0, 30.0, 100.0], 2: [5.0, 5.0, 5.0, 9.0]}
    df = _ts_frame(spark, vals)
    got = {
        r["event_id"]: (r["z"], r["is_anomaly"])
        for r in rolling_zscore(
            df, "value", "ts", "user_id", window_rows=3, threshold=1.0,
            tiebreak_cols=["event_id"],
        ).collect()
    }
    for uid, vs in vals.items():
        for i, v in enumerate(vs):
            hist = vs[max(0, i - 3):i]
            want_z = None
            if hist:
                sd = statistics.pstdev(hist)
                if sd > 0:
                    want_z = round((v - statistics.mean(hist)) / sd, 6)
            z, flag = got[uid * 1000 + i]
            if want_z is None:
                assert z is None and flag is False, (uid, i, z, flag)
            else:
                assert z == pytest.approx(want_z, abs=2e-6), (uid, i, z, want_z)
                assert flag == (abs(want_z) > 1.0), (uid, i)


# ------------------------------------------------- time-series (e24)


def test_ewma_matches_pandas_adjust_true(spark):
    """e24's oracle shares the engine's literal weight chain; this
    compares against pandas ewm(adjust=True, ignore_na=False) — an
    independent implementation of the declared semantics — on a
    planted series with an interior null (weights stay position-based,
    the null term is skipped)."""
    import pandas as pd

    from kaylee_spark.operators.timeseries import ewma

    series = [1.0, 2.0, None, 4.0, 8.0, 3.0]
    df = _ts_frame(spark, {1: series})
    got = [
        r["value_ewma"]
        for r in ewma(
            df, "value", "ts", "user_id", alpha=0.5, max_lags=24,
            tiebreak_cols=["event_id"],
        ).orderBy("event_id").collect()
    ]
    want = pd.Series(series, dtype="float64").ewm(alpha=0.5, adjust=True).mean()
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == pytest.approx(round(float(w), 6), abs=2e-6), (i, g, w)


# ------------------------------------------------- time-series (e27)


def test_cusum_matches_textbook_recursion_exactly(spark):
    """e27's closed cumulative form (C_t - min(0, running-min C)) is
    verified against the textbook sequential recursion
    S_t = max(0, S_{t-1} + x_t - mean - slack) computed in exact
    Fractions — the rewrite the oracle replays but never re-derives."""
    from fractions import Fraction

    from kaylee_spark.operators.timeseries import cusum

    vals = [1.0, 5.0, 1.0, 9.0, 1.0, 9.0, 9.0]
    df = _ts_frame(spark, {1: vals})
    got = [
        (r["cusum"], r["is_shift"])
        for r in cusum(
            df, "value", "ts", "user_id", slack=0.5, threshold=2.0,
            tiebreak_cols=["event_id"],
        ).orderBy("event_id").collect()
    ]
    cents = [round(v * 100) for v in vals]
    mean = Fraction(sum(cents), 100 * len(cents))
    s = Fraction(0)
    for i, c in enumerate(cents):
        s = max(Fraction(0), s + Fraction(c, 100) - mean - Fraction(1, 2))
        assert got[i][0] == pytest.approx(float(s), rel=1e-12), (i, got[i][0], s)
        assert got[i][1] == (s > 2), (i, got[i][1], s)
    assert any(flag for _, flag in got)  # the planted shift is detected


# ------------------------------------------------------- stats (a30)


def test_ks_two_sample_hand_computed(spark):
    """a30's rational |i*m - j*n| max is pinned against a hand-derived
    D on planted samples with TIES (the right-continuous-CDF case):
    control = 7x[1,1,2], t_near = 7x[1,2,2] -> D = 1/3 at x=1
    (F_t = 7/21, F_c = 14/21), below the 1.3581*sqrt(42/441) = 0.419
    cut; t_far = 21x[5] -> D = 1, significant."""
    from kaylee_spark.operators.analytics import ks_two_sample

    rows = (
        [("ctl", v) for v in [1.0, 1.0, 2.0] * 7]
        + [("t_near", v) for v in [1.0, 2.0, 2.0] * 7]
        + [("t_far", 5.0)] * 21
    )
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {
        r["grp"]: r.asDict()
        for r in ks_two_sample(df, "v", "grp", control="ctl").collect()
    }
    near = got["t_near"]
    assert (near["n"], near["m"], near["ks_num"], near["ks_denom"]) == (21, 21, 147, 441)
    assert near["ks_stat"] == pytest.approx(1 / 3, rel=1e-12)
    assert near["significant"] is False
    far = got["t_far"]
    assert far["ks_num"] == 441 and far["ks_stat"] == pytest.approx(1.0)
    assert far["significant"] is True


# ------------------------------------------------------- drift (a31)


def test_psi_drift_matches_textbook_formula(spark):
    """a31's oracle replays the 6dp-quantized ln chain; this compares
    against the textbook PSI = sum (pa-pb)*ln(pa/pb) with add-1
    smoothing computed in plain math.log on planted bin counts
    (quantization error <= n_bins * 1e-6), and pins the zero-shift
    case to an exact 0.0."""
    import math

    from kaylee_spark.operators.analytics import psi_drift

    edges = (10.0, 20.0)
    a_vals = [5.0] * 8 + [15.0] * 2            # bins (8, 2, 0)
    b_vals = [5.0] * 2 + [15.0] * 2 + [25.0] * 6  # bins (2, 2, 6)
    rows = [("g", True, v) for v in a_vals] + [("g", False, v) for v in b_vals]
    df = spark.createDataFrame(rows, "grp string, is_a boolean, value double")
    row = psi_drift(df, "value", "grp", "is_a", edges=edges).collect()[0]
    pa = [(8 + 1) / 13, (2 + 1) / 13, (0 + 1) / 13]
    pb = [(2 + 1) / 13, (2 + 1) / 13, (6 + 1) / 13]
    want = sum((x - y) * math.log(x / y) for x, y in zip(pa, pb))
    assert row["psi"] == pytest.approx(want, abs=1e-5)
    assert row["drifted"] is True
    same = [("g", p, v) for p in (True, False) for v in a_vals]
    row0 = psi_drift(
        spark.createDataFrame(same, "grp string, is_a boolean, value double"),
        "value", "grp", "is_a", edges=edges,
    ).collect()[0]
    assert row0["psi"] == 0.0 and row0["drifted"] is False


# ------------------------------------------------------- graph (g01)


def test_pagerank_close_to_float_reference(spark):
    """g01's oracle unrolls the engine's integer fixed-point
    recurrence; this checks the SEMANTICS against an independent
    float implementation of leaky PageRank (teleport 0.15, damping
    0.85, dangling mass dropped) on a planted 5-node graph — the
    integer quantization error is < 1e-9 of a rank unit."""
    from kaylee_spark.operators.graph import pagerank

    edge_list = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["id"]: r["rank_e12"] / 1e12 for r in pagerank(edges, iterations=3).collect()}

    nodes = sorted({n for e in edge_list for n in e})
    deg = {u: sum(1 for s, _ in edge_list if s == u) for u in nodes}
    r = {u: 1 / len(nodes) for u in nodes}
    for _ in range(3):
        r = {
            v: 0.15 / len(nodes)
            + 0.85 * sum(r[u] / deg[u] for u, w in edge_list if w == v)
            for v in nodes
        }
    for v in nodes:
        assert got[v] == pytest.approx(r[v], abs=1e-9), (v, got[v], r[v])
    # node 5 is dangling: it keeps only the teleport share
    assert r[5] > 0.15 / len(nodes)


# -------------------------------------------------- quantile store (a40)


def test_quantile_store_hand_computed(spark):
    """a40's oracle replays the bucket arithmetic; this pins the
    DERIVED quantiles against a hand-computed fixture (the t28
    lesson). cents: day1 [100,1000,3000,3000,6000],
    day2 [1000,2600,5100,8000,9900] -> buckets (div 2500) merge to
    {0:3, 1:3, 2:2, 3:2}, n=10; ranks r50=5 -> b1 (ub 5000),
    r90=9 -> b3 (ub 10000), r99=10 -> b3. Re-sharding the same values
    onto different days must not change the store (merge invariance
    beyond the in-query boolean)."""
    import pyspark.sql.functions as SF

    from kaylee_spark.operators.analytics import (
        quantile_buckets,
        quantile_store_close,
    )

    d1 = [1.00, 10.00, 30.00, 30.00, 60.00]
    d2 = [10.00, 26.00, 51.00, 80.00, 99.00]

    def run(day_split):
        rows = [
            (100 * d + i, f"2024-01-0{d} 12:00:00", "t", v)
            for d, vs in day_split for i, v in enumerate(vs)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "event_type", "value"
        )
        merged = quantile_buckets(df).groupBy("grp", "b").agg(SF.sum("n").alias("n"))
        base = df.select(
            SF.col("event_type").alias("grp"),
            SF.round(SF.col("value") * 100).cast("bigint").alias("c"),
        )
        return quantile_store_close(merged, base).collect()[0].asDict()

    row = run([(1, d1), (2, d2)])
    assert row == {
        "event_type": "t", "n": 10, "n_buckets": 4,
        "p50_ub_cents": 5000, "p90_ub_cents": 10000, "p99_ub_cents": 10000,
        "bracket_exact": True, "merge_exact": True,
    }, row
    # metamorphic re-shard: swap one value across days, same multiset
    reshard = run([(1, d1[:3] + [d2[0]]), (2, d2[1:] + d1[3:])])
    assert reshard == row, reshard


# ------------------------------------------------ co-moment store (a41)


def test_comoment_store_derives_known_correlation(spark):
    """a41's registers share their formula with the oracle, so the
    DERIVED correlation needs an independent check: on a
    hand-computable fixture, Pearson r derived from merged registers
    must equal statistics.correlation, and merging the two shards
    must reproduce the single-pass registers."""
    import statistics

    from kaylee_spark.operators.analytics import comoment_registers

    xs = [1, 2, 3, 4, 10]
    ys = [2, 4, 7, 8, 18]
    rows = [("g", i % 2, x, y) for i, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "grp string, shard int, x long, y long")
    shards = comoment_registers(df, "x", "y").collect()
    assert len(shards) == 2
    n = sum(r["n"] for r in shards)
    sx = sum(r["sx"] for r in shards)
    sy = sum(r["sy"] for r in shards)
    sxy = sum(r["sxy"] for r in shards)
    sxx = sum(r["sxx"] for r in shards)
    syy = sum(r["syy"] for r in shards)
    assert (n, sx, sy, sxy, sxx, syy) == (
        5, sum(xs), sum(ys),
        sum(a * b for a, b in zip(xs, ys)),
        sum(a * a for a in xs), sum(b * b for b in ys),
    )
    num = n * sxy - sx * sy
    r = num / ((n * sxx - sx * sx) ** 0.5 * (n * syy - sy * sy) ** 0.5)
    assert r == pytest.approx(statistics.correlation(xs, ys), rel=1e-12)


# ---------------------------------------------- connected components (g08)


def test_connected_components_planted_graph(spark):
    """g08's oracle unrolls the engine's own min-label passes; this
    pins the SEMANTICS on a planted graph with two components and a
    path long enough that 2 iterations have NOT converged but 3 have:
    path 1-2-3-4-5 (component min 1) and triangle 10-11-12 (min 10).
    Ground truth by hand: after k iterations each node holds the min
    id within k hops; node 5 needs 3 hops to learn about 1... wait: 4
    hops — so after 3 iterations node 5 holds label 2 (3 hops away)
    and the run must report converged = False; the component
    histogram is therefore {1: 4, 2: 1, 10: 3}."""
    from kaylee_spark.operators.graph import connected_components

    edge_list = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["id"]: (r["lbl"], r["prev_lbl"])
        for r in connected_components(edges, iterations=3).collect()
    }
    # hand-derived: lbl_k(v) = min id within k hops (undirected)
    want_l3 = {1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 10: 10, 11: 10, 12: 10}
    want_l2 = {1: 1, 2: 1, 3: 1, 4: 2, 5: 3, 10: 10, 11: 10, 12: 10}
    assert {k: v[0] for k, v in got.items()} == want_l3
    assert {k: v[1] for k, v in got.items()} == want_l2
    # one more iteration reaches the fixed point
    done = {
        r["id"]: (r["lbl"], r["prev_lbl"])
        for r in connected_components(edges, iterations=4).collect()
    }
    assert {k: v[0] for k, v in done.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10,
    }


def test_ewma_truncation_invisible_at_6dp(spark):
    """e24 truncates the weight chain at 24 lags; the operator's
    contract says the dropped tail (< 6e-8 of total weight at
    alpha = 0.5) vanishes under the 6dp rounding — so on a series
    LONGER than 24 the truncated engine must still equal full
    (untruncated) pandas ewm after rounding."""
    import pandas as pd

    from kaylee_spark.operators.timeseries import ewma

    series = [float((7 * i) % 13 + 1) for i in range(30)]
    rows = [(i, f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00", 1, v)
            for i, v in enumerate(series)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id", "value")
    got = [
        r["value_ewma"]
        for r in ewma(df, "value", "ts", "user_id", alpha=0.5, max_lags=24,
                      tiebreak_cols=["event_id"]).orderBy("event_id").collect()
    ]
    want = pd.Series(series).ewm(alpha=0.5, adjust=True).mean()
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == pytest.approx(round(float(w), 6), abs=2e-6), (i, g, w)


def test_quantile_store_reopen_reads_persisted_shards(spark, sf_dir, tmp_path):
    """The e44 claim is that the reopened closure derives from the
    PERSISTED day partitions. Plant the defect: drop one day's
    partition directory from the store and re-close — totals must
    shrink by exactly that day's count and merge_exact must flip
    false, proving the reopen path reads the files (no hidden
    lineage back to the events table). Also pins overwrite
    idempotence: writing the same store twice changes nothing."""
    import pyspark.sql.functions as F

    from kaylee_spark.operators.analytics import (
        quantile_buckets,
        quantile_store_close,
    )
    from kaylee_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    shards = quantile_buckets(ev).withColumn("d", F.to_date("day"))
    store = str(tmp_path / "qstore")
    writer = shards.select("d", "grp", "b", "n").write.mode("overwrite")
    writer.partitionBy("d").parquet(store)
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = ev.select(F.col("event_type").alias("grp"), cents.alias("c"))

    def close_from(path):
        re = spark.read.parquet(path)
        merged = re.groupBy("grp", "b").agg(F.sum("n").alias("n"))
        return {
            r["event_type"]: r.asDict()
            for r in quantile_store_close(merged, base).collect()
        }

    baseline = close_from(store)
    assert all(r["merge_exact"] for r in baseline.values())

    # overwrite idempotence: rewriting the identical store is a no-op
    shards.select("d", "grp", "b", "n").write.mode("overwrite").partitionBy(
        "d"
    ).parquet(store)
    assert close_from(store) == baseline

    # plant: remove one day partition -> reopened closure must see it
    import glob
    import shutil

    parts = sorted(glob.glob(store + "/d=*"))
    assert len(parts) >= 2
    victim = parts[0]
    victim_day = victim.rsplit("d=", 1)[1]
    lost = {
        r["grp"]: r["n"]
        for r in spark.read.parquet(victim)
        .groupBy("grp")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    shutil.rmtree(victim)
    tampered = close_from(store)
    for g, row in tampered.items():
        expect = baseline[g]["n"] - lost.get(g, 0)
        assert row["n"] == expect, (g, victim_day)
        if lost.get(g, 0):
            assert not row["merge_exact"]


def test_ivm_retraction_actually_retracts(spark, sf_dir):
    """a46's claim is refresh-equivalence under deletes. Plant both
    defects: (1) dropping the retraction batch must inflate the
    maintained counts by exactly the deleted-row count per group and
    flip maintain_exact; (2) applying the retraction TWICE must
    undershoot symmetrically — i.e. mult really is the Z-relation
    multiplicity, not an ignored tag."""
    import pyspark.sql.functions as F

    from kaylee_spark.queries import load_everything
    from kaylee_spark.sources import load_table

    reg = load_everything()
    ok = {
        r["o_orderpriority"]: r.asDict()
        for r in reg["a46_incremental_view_maintenance"].fn(spark, sf_dir).collect()
    }
    assert ok and all(r["maintain_exact"] for r in ok.values())

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        cents.alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    deleted = {
        r["grp"]: (r["dn"], r["dc"])
        for r in base.filter(F.col("k") % 10 == 3)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("dn"), F.sum("cents").alias("dc"))
        .collect()
    }
    assert any(n for n, _ in deleted.values())

    def fold(mults):
        out = None
        for m in mults:
            d = (
                base.filter(F.col("k") % 10 == 3) if m < 0 else base
            ).withColumn("mult", F.lit(m))
            r = d.groupBy("grp").agg(
                F.sum("mult").cast("bigint").alias("n"),
                F.sum(F.col("mult") * F.col("cents")).cast("bigint").alias("rc"),
            )
            out = r if out is None else (
                out.unionByName(r)
                .groupBy("grp")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("rc").cast("bigint").alias("rc"),
                )
            )
        return {r["grp"]: (r["n"], r["rc"]) for r in out.collect()}

    full = fold([1])              # inserts only, retraction dropped
    once = fold([1, -1])          # the correct history
    twice = fold([1, -1, -1])     # retraction replayed twice
    for g, (dn, dc) in deleted.items():
        assert full[g][0] - once[g][0] == dn
        assert full[g][1] - once[g][1] == dc
        assert once[g][0] - twice[g][0] == dn
        assert once[g][1] - twice[g][1] == dc
