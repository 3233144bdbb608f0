"""LSH parameter planning — the single candidate SURVEY §4.2 names
for custom optimizer work in this engine (everything relational is
Catalyst's job; LSH banding/table choice is a *library-level* cost
decision Spark cannot make for us).

Four pure planners, no Spark dependency, fully deterministic:

- ``minhash_plan``      — (bands, rows) for banded MinHash from the
                          standard S-curve P(candidate) = 1-(1-s^r)^b.
- ``signlsh_plan``      — (tables, planes) for random-hyperplane
                          (sign) LSH from the angular collision law
                          q(s) = 1 - arccos(s)/pi.
- ``plan_max_df``       — the document-frequency cap for inverted-
                          index exact-Jaccard (d03/d12/d16), chosen
                          from a df histogram so the Sigma df^2
                          candidate-pair bound stays inside a budget.
- ``plan_dedup_edges``  — pipeline STAGING for near-dup clustering
                          (d06): exact inverted-index vs LSH+verify,
                          decided from the same df histogram.

All four minimize *downstream verified work* (candidate volume)
subject to a recall floor at the caller's threshold — the objective
that matters at 100 TB, where every surviving candidate pays an exact
verification join. Outputs are recorded per-query in docs/SCALE.md.

SimHash's Hamming search (dedup.Pigeonhole, d05/s03/s12/d23) has no
planner: its max_hamming+1 chunk split is complete by construction,
and a deeper blocking pays off only once a corpus-size estimate says
buckets crowd, which no caller has at plan time.

Planner ~ reference: sdiehl/kaylee has no analogue (no optimizer at
all); this is north-star scope per SURVEY §4.2.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class BandingPlan:
    """A banded-LSH configuration with its predicted operating points.

    ``fp_rate`` is the S-curve's candidate probability at the caller's
    reject point — the fraction of clearly-below-threshold pairs that
    still reach the exact-verify stage, i.e. wasted verification work.
    """

    bands: int
    rows: int
    num_hashes: int
    recall_at_threshold: float
    fp_rate: float


def minhash_recall(s: float, bands: int, rows: int) -> float:
    """P(some band collides) for a pair with true Jaccard ``s``."""
    return 1.0 - (1.0 - s**rows) ** bands


def minhash_plan(
    threshold: float,
    target_recall: float = 0.99,
    max_hashes: int = 64,
    reject_at: float | None = None,
) -> BandingPlan:
    """Choose (bands, rows) for banded MinHash LSH.

    For each rows-per-band r, the minimal band count meeting the
    recall floor at ``threshold`` is b = ceil(ln(1-R) / ln(1-t^r));
    among all (b, r) fitting the ``max_hashes`` signature budget, pick
    the one with the LOWEST false-candidate rate at ``reject_at``
    (default threshold/2 — a pair clearly below threshold), breaking
    ties toward the smaller signature. More rows per band = a sharper
    S-curve = fewer junk candidates, but costs more bands to hold
    recall — exactly the trade this search walks.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    reject = threshold / 2.0 if reject_at is None else reject_at
    if not 0.0 <= reject < threshold:
        raise ValueError("reject_at must be in [0, threshold)")
    best: BandingPlan | None = None
    for rows in range(1, max_hashes + 1):
        p = threshold**rows
        if 1.0 - p == 1.0:  # p underflows: no band count can collide
            break
        bands = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p)))
        if bands * rows > max_hashes:
            continue
        plan = BandingPlan(
            bands=bands,
            rows=rows,
            num_hashes=bands * rows,
            recall_at_threshold=minhash_recall(threshold, bands, rows),
            fp_rate=minhash_recall(reject, bands, rows),
        )
        if (
            best is None
            or plan.fp_rate < best.fp_rate
            or (plan.fp_rate == best.fp_rate and plan.num_hashes < best.num_hashes)
        ):
            best = plan
    if best is None:
        raise ValueError(
            f"no (bands, rows) within {max_hashes} hashes reaches "
            f"recall {target_recall} at threshold {threshold}"
        )
    return best


def signlsh_collision(cos_sim: float) -> float:
    """P(one random hyperplane puts both vectors on the same side)."""
    c = max(-1.0, min(1.0, cos_sim))
    return 1.0 - math.acos(c) / math.pi


def _table_hit_prob(q: float, n_planes: int, probe_bits: int) -> float:
    """P(a single table surfaces the pair) when the probe also visits
    every bucket within Hamming distance ``probe_bits`` of the query's
    code: the pair is found unless MORE than probe_bits planes
    disagree — a binomial tail, sum_{i<=probe} C(p,i) q^(p-i)(1-q)^i.
    probe_bits=0 is the plain exact-bucket law q^p."""
    return sum(
        math.comb(n_planes, i) * q ** (n_planes - i) * (1.0 - q) ** i
        for i in range(0, min(probe_bits, n_planes) + 1)
    )


def signlsh_recall(
    cos_sim: float, n_tables: int, n_planes: int, probe_bits: int = 0
) -> float:
    """P(some table buckets the pair together) at cosine ``cos_sim``."""
    p = _table_hit_prob(signlsh_collision(cos_sim), n_planes, probe_bits)
    return 1.0 - (1.0 - p) ** n_tables


def signlsh_plan(
    cos_threshold: float,
    target_recall: float = 0.95,
    max_bits: int = 64,
    reject_at: float = 0.0,
    probe_bits: int = 0,
) -> BandingPlan:
    """Choose (tables, planes) for random-hyperplane LSH — the sign
    family's twin of ``minhash_plan``: tables play bands, planes play
    rows, and the per-hash collision law is the angular
    q(s) = 1 - arccos(s)/pi instead of Jaccard's s itself.
    ``probe_bits`` models multi-probe (visiting all buckets within
    that Hamming distance per table), which buys large recall at zero
    extra signature bits — the shipped ANN operator probes 1 bit.

    Returns a BandingPlan with bands = n_tables, rows = n_planes,
    num_hashes = total signature bits. ``reject_at`` defaults to
    cosine 0 (orthogonal vectors — unrelated embeddings), where
    q = 1/2 exactly.
    """
    if not 0.0 < cos_threshold < 1.0:
        raise ValueError("cos_threshold must be in (0, 1)")
    q = signlsh_collision(cos_threshold)
    if not 0.0 <= reject_at < cos_threshold:
        raise ValueError("reject_at must be in [0, cos_threshold)")
    best: BandingPlan | None = None
    for planes in range(1, max_bits + 1):
        p = _table_hit_prob(q, planes, probe_bits)
        if 1.0 - p == 1.0:  # p underflows: no table count can collide
            break
        if p >= 1.0:  # probing covers the whole code space: 1 table suffices
            tables = 1
        else:
            tables = max(
                1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p))
            )
        if tables * planes > max_bits:
            continue
        plan = BandingPlan(
            bands=tables,
            rows=planes,
            num_hashes=tables * planes,
            recall_at_threshold=signlsh_recall(cos_threshold, tables, planes, probe_bits),
            fp_rate=signlsh_recall(reject_at, tables, planes, probe_bits),
        )
        if (
            best is None
            or plan.fp_rate < best.fp_rate
            or (plan.fp_rate == best.fp_rate and plan.num_hashes < best.num_hashes)
        ):
            best = plan
    if best is None:
        raise ValueError(
            f"no (tables, planes) within {max_bits} bits reaches "
            f"recall {target_recall} at cosine {cos_threshold}"
        )
    return best


def candidate_pairs_bound(df_histogram: list[tuple[int, int]], max_df: int) -> int:
    """Upper bound on inverted-index candidate pairs if grams with
    document frequency > ``max_df`` are dropped: Sigma over kept grams
    of C(df, 2). ``df_histogram`` is [(df, n_grams_with_that_df), ...]
    — the tiny frame ``shingle_df_histogram`` computes."""
    return sum(n * (df * (df - 1) // 2) for df, n in df_histogram if df <= max_df)


def plan_max_df(
    df_histogram: list[tuple[int, int]],
    pair_budget: int,
) -> tuple[int, int]:
    """Choose the LARGEST document-frequency cap whose Sigma df^2
    candidate-pair bound stays within ``pair_budget`` — maximum recall
    (a dropped gram can only lose true pairs) at bounded join cost.

    Returns (max_df, predicted_pair_bound). A cap of at least 2 is
    always returned (df-1 grams generate no pairs; df-2 grams are the
    cheapest possible evidence), even if the budget is tighter — the
    caller asked for near-dup detection, so refusing all evidence is
    never the right plan; the returned bound tells them the real cost.
    """
    if pair_budget <= 0:
        raise ValueError("pair_budget must be positive")
    dfs = sorted({df for df, _ in df_histogram})
    chosen = 2
    for df in dfs:
        if df < 2:
            continue
        if candidate_pairs_bound(df_histogram, df) <= pair_budget:
            chosen = max(chosen, df)
    return chosen, candidate_pairs_bound(df_histogram, chosen)


@dataclass(frozen=True)
class EdgePlan:
    """A dedup-pipeline staging decision (SURVEY §4.2's second named
    candidate: 'dedup-pipeline staging'): which pair stage feeds the
    clustering — the exact inverted-index join or banded MinHash +
    exact verify."""

    stage: str  # "exact" | "lsh"
    exact_pairs: int  # capped Sigma C(df,2): the exact path's candidate volume
    lsh_extra_rows: float  # LSH's extra shuffled rows vs the exact path
    num_hashes: int
    bands: int


def plan_dedup_edges(
    df_histogram: list[tuple[int, int]],
    n_docs: int = 0,
    threshold: float = 0.5,
    target_recall: float = 0.99,
    max_hashes: int = 64,
    max_df: int | None = None,
) -> EdgePlan:
    """Stage the near-dup pipeline: exact inverted-index Jaccard or
    banded-MinHash + exact verify, chosen from the SAME droplet-sized
    df histogram plan_max_df reads (|distinct df| rows at any scale).

    The unit is SHUFFLED ROWS — both pipelines scan and exchange the
    (doc, shingle) postings; they differ in:

    - exact: every same-shingle pair reaches the verify stage —
      Sigma_g C(df_g, 2) extra rows (capped at ``max_df``), the
      quantity candidate_pairs_bound computes exactly (unit-tested
      against the real join size). Quadratic in df: one shingle shared
      by 1M docs alone contributes 5e11 rows.
    - LSH: one extra postings pass (the signature aggregate) plus
      n_docs x bands banded rows, then verify over only the banded
      candidates (measured 6.5x below the exact pair volume already at
      the x10 probe; the gap widens with df since banding is
      corpus-size-linear). True near-dup pairs pay verify in BOTH
      pipelines and cancel out of the comparison.

    So: exact iff its pair bound undercuts LSH's extra fixed volume
    (one postings pass + the banded rows). MEASURED caveat (round 9,
    BASELINE.md): at droplet scale (5k docs, sf0.1) the two pipelines
    land within stage-floor noise of each other (exact 2.7-3.5 s vs
    LSH 2.4-2.9 s warm) — the decision only MATTERS in the explosive
    regime, where it is always "lsh"; that is why d06 ships the
    scale-safe LSH stage unconditionally and "auto" exists as the
    operator-level option. Banding comes from minhash_plan at
    ``threshold``.
    """
    plan = minhash_plan(threshold, target_recall=target_recall, max_hashes=max_hashes)
    cap = max_df if max_df is not None else max((df for df, _ in df_histogram), default=2)
    exact_pairs = candidate_pairs_bound(df_histogram, cap)
    postings = sum(df * n for df, n in df_histogram)
    lsh_extra = float(postings + n_docs * plan.bands)
    return EdgePlan(
        stage="exact" if exact_pairs <= lsh_extra else "lsh",
        exact_pairs=exact_pairs,
        lsh_extra_rows=lsh_extra,
        num_hashes=plan.num_hashes,
        bands=plan.bands,
    )


def shingle_df_histogram(sh) -> list[tuple[int, int]]:
    """Collect the document-frequency histogram of a (doc, shingle)
    frame: one map-side-combined count per shingle, then a count per
    df value — the collected result has at most |distinct df| rows
    (hundreds even at 100 TB, since df is long-tailed), never a row
    per gram. This is the one statistic ``plan_max_df`` needs, and it
    doubles as the skew diagnostic for the postings join."""
    from pyspark.sql import functions as F

    hist = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy("df")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .collect()
    )
    return sorted((int(r["df"]), int(r["n_grams"])) for r in hist)
