"""LSH parameter planning — the single candidate SURVEY §4.2 names
for custom optimizer work in this engine (everything relational is
Catalyst's job; LSH banding/table choice is a *library-level* cost
decision Spark cannot make for us).

Two pure planners, no Spark dependency, fully deterministic:

- ``minhash_plan``  — (bands, rows) for banded MinHash from the
                      standard S-curve P(candidate) = 1-(1-s^r)^b.
- ``signlsh_plan``  — (tables, planes) for random-hyperplane (sign)
                      LSH from the angular collision law
                      q(s) = 1 - arccos(s)/pi.

Both minimize *downstream verified work* (candidate volume) subject
to a recall floor at the caller's threshold — the objective that
matters at 100 TB, where every surviving candidate pays an exact
verification join. Outputs are recorded per-query in docs/SCALE.md.

The exact inverted-index family (jaccard_pairs and its kin) has no
planner: its df cap is the explicit ``max_df`` each caller passes,
and near-dup clustering always stages LSH + exact verify.

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
) -> BandingPlan:
    """Choose (bands, rows) for banded MinHash LSH.

    For each rows-per-band r, the minimal band count meeting the
    recall floor at ``threshold`` is b = ceil(ln(1-R) / ln(1-t^r));
    among all (b, r) fitting the ``max_hashes`` signature budget, pick
    the one with the LOWEST false-candidate rate at threshold/2 (a
    pair clearly below threshold), breaking
    ties toward the smaller signature. More rows per band = a sharper
    S-curve = fewer junk candidates, but costs more bands to hold
    recall — exactly the trade this search walks.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    reject = threshold / 2.0
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
    num_hashes = total signature bits. The false-candidate rate is
    read at cosine 0 (orthogonal vectors — unrelated embeddings),
    where q = 1/2 exactly.
    """
    if not 0.0 < cos_threshold < 1.0:
        raise ValueError("cos_threshold must be in (0, 1)")
    q = signlsh_collision(cos_threshold)
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
            fp_rate=signlsh_recall(0.0, tables, planes, probe_bits),
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
