"""Deterministic sampling for training-data pipelines.

At 100 TB, `df.sample()` is the wrong tool for corpus curation: its
Bernoulli draw depends on partitioning and task replays, so two runs
(or a retried task) can yield different corpora. Everything here
derives membership from a seeded hash of a STABLE KEY column instead —
the sample is a pure function of the data, reproducible across runs,
partitionings, engines, and cluster sizes, and it composes (the same
row lands on the same side of every split everywhere it appears).

All predicates are single codegen'd expressions on an 8-byte hash —
scan-speed, no shuffle, prunable columns untouched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# denominator for hash->fraction mapping; 2^20 keeps fraction
# resolution ~1e-6 while staying far from the 63-bit hash range
_BUCKETS = 1 << 20


def _hash_bucket(key: Column | str, seed: int) -> Column:
    """Uniform bucket in [0, _BUCKETS) from a seeded xxhash64 of the
    key. pmod folds the signed hash into the positive range."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(c, F.lit(seed)), F.lit(_BUCKETS))


def stratified_sample(
    df: DataFrame, key: str, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language corpus
    balancing): `fractions` maps stratum value -> keep fraction; strata
    absent from the map are dropped.

    One codegen'd CASE over the stratum column — no per-stratum jobs,
    no shuffle (contrast: df.sampleBy is Bernoulli and irreproducible
    under retries).
    """
    bucket = _hash_bucket(key, seed)
    expr = None
    for value, frac in fractions.items():
        cond = (F.col(strata_col) == F.lit(value)) & (bucket < int(frac * _BUCKETS))
        expr = cond if expr is None else (expr | cond)
    if expr is None:
        raise ValueError("fractions must not be empty")
    return df.filter(expr)


def train_eval_split(
    df: DataFrame, key: str, eval_fraction: float = 0.1, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive (train, eval) split by seeded key hash.

    The split is stable under any reprocessing: a document never
    migrates between sides, which is the property that prevents
    train/eval leakage across pipeline re-runs. Split BY KEY (e.g.
    content hash or source URL), not by row, so near-identical rows
    sharing a key stay on one side.
    """
    bucket = _hash_bucket(key, seed)
    threshold = int(eval_fraction * _BUCKETS)
    return df.filter(bucket >= threshold), df.filter(bucket < threshold)


def weighted_sample_k(
    df: DataFrame, key: str, weight_col: str, k: int, seed: int = 42
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement, exactly k rows
    (or all rows with positive weight, if fewer).

    Efraimidis–Spirakis A-ES: each row scores u^(1/w) where u is the
    seeded-hash uniform of its key and w its weight; the k largest
    scores ARE a weighted sample without replacement. With all weights
    equal it degrades to a uniform exact-k sample (the distributed,
    deterministic replacement for driver-side reservoir sampling).

    Scale shape: the score is one codegen'd expression and the top-k is
    TakeOrderedAndProject — per-partition heaps of size k, then a
    single k-row merge on the driver; no global sort, no shuffle of the
    data. Rows with weight <= 0 or null are excluded (selection
    probability zero). Ties (identical key hash AND weight) break on
    the key itself, so the sample is a pure function of (data, seed) —
    stable under retries, partitioning, and cluster size, same contract
    as everything else in this module.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    u = (_hash_bucket(key, seed) + F.lit(0.5)) / F.lit(_BUCKETS)
    score = F.pow(u, F.lit(1.0) / F.col(weight_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_es_score", score)
        .orderBy(F.desc("_es_score"), F.col(key))
        .limit(k)
        .drop("_es_score")
    )


def stratified_sample_k(
    df: DataFrame, key: str, strata_col: str, k: int, seed: int = 42
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (balanced mixes:
    k docs per language/source, k examples per label).

    Rank within each stratum by the seeded key hash and keep the top
    k — one shuffle keyed on the stratum, per-stratum parallel, no
    global sort. Strata with fewer than k rows keep all of them. Same
    determinism contract as the rest of the module: pure function of
    (data, seed).

    Skew note: a hot stratum funnels through one task here (window
    rank). For exact-k that is inherent (k-selection needs the
    stratum's candidates together); when approximate per-stratum rates
    suffice, use ``stratified_sample`` (scan-speed, no shuffle).
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    w = Window.partitionBy(strata_col).orderBy(
        _hash_bucket(key, seed).asc(), F.col(key).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def take_until_budget(
    df: DataFrame,
    strata_col: str,
    order_col: str,
    cost_col: str,
    budget,
) -> DataFrame:
    """Per-stratum budgeted prefix: walk each stratum in ``order_col``
    order and keep rows while the running ``cost_col`` total stays
    under ``budget`` — the corpus-mixing primitive ("300B tokens of
    web, 50B of code, 30B per long-tail language").

    ``budget`` is a number (same budget per stratum) or a dict mapping
    stratum value -> budget (missing strata get 0 and drop out). A row
    is kept iff the budget was not yet exhausted when it started, so
    the output may overshoot by at most one document per stratum —
    deterministic, and the bounded-overshoot contract every token-
    budget mix uses in practice (dropping the straddling doc instead
    is a one-character change to the filter).

    One shuffle keyed on the stratum; the cumulative sum is a running
    ROWS-frame window, per-stratum parallel. Deterministic for a
    deterministic (strata, order) pair — use a stable order column
    (doc id, content hash), not arrival order.
    """
    from pyspark.sql import Window

    if isinstance(budget, dict):
        b = None
        for value, amount in budget.items():
            cond = F.when(F.col(strata_col) == F.lit(value), F.lit(float(amount)))
            b = cond if b is None else b.when(
                F.col(strata_col) == F.lit(value), F.lit(float(amount))
            )
        if b is None:
            raise ValueError("budget dict must not be empty")
        budget_expr = b.otherwise(F.lit(0.0))
    else:
        budget_expr = F.lit(float(budget))
    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(cost_col)).over(w)
    return (
        df.withColumn("_cum", cum)
        .filter(F.col("_cum") - F.col(cost_col) < budget_expr)
        .drop("_cum")
    )


# ---------------------------------------------------------------------------
# Cross-engine-verifiable sampling (portable hash)
# ---------------------------------------------------------------------------

#: Knuth multiplicative constant (2^32 / golden ratio) and the ppm
#: bucket space of the portable hash below.
PORTABLE_MULT = 2654435761
PORTABLE_PPM = 1_000_000
_PORTABLE_FOLD = 2147483647  # 2^31 - 1, pre-fold so the multiply fits int64


def portable_bucket(key: Column | str) -> Column:
    """Bucket in [0, 1e6) from PURE INTEGER arithmetic:
    ``((key mod (2^31-1)) * 2654435761) mod 1e6``.

    xxhash64 (the production path above) exists only inside Spark, so
    hash-membership sampling can't be re-derived by an external SQL
    engine for audit. This multiplicative hash is three integer ops
    any engine evaluates identically — the sample membership itself
    becomes oracle-verifiable, which is how a compliance review checks
    a corpus sample without rerunning Spark. The 2^31-1 pre-fold keeps
    the product inside int64 for arbitrary bigint keys. Mixing is
    Knuth-multiplicative: amply uniform for sampling rates, weaker
    than xxhash64 for adversarial/clustered keys — keep the seeded
    xxhash64 path when cross-engine verification isn't required.
    """
    c = F.col(key) if isinstance(key, str) else key
    return (c % F.lit(_PORTABLE_FOLD)) * F.lit(PORTABLE_MULT) % F.lit(PORTABLE_PPM)


def portable_bucket_sql(key_expr: str) -> str:
    """The ANSI-SQL twin of portable_bucket, for oracle construction."""
    return f"(({key_expr}) % {_PORTABLE_FOLD}) * {PORTABLE_MULT} % {PORTABLE_PPM}"


def portable_stratified_sample(
    df: DataFrame, key: str, strata_col: str, ppm: dict[str, int], default_ppm: int = 0
) -> DataFrame:
    """Per-stratum sampling with portable-hash membership: keep a row
    when its bucket < its stratum's parts-per-million rate. Same
    contract as stratified_sample (pure function of the data, no
    shuffle, single codegen'd CASE) but every kept row is provable by
    any SQL engine."""
    rate = None
    for value, p in ppm.items():
        cond = F.when(F.col(strata_col) == F.lit(value), F.lit(p))
        rate = cond if rate is None else rate.when(F.col(strata_col) == F.lit(value), F.lit(p))
    rate = F.lit(default_ppm) if rate is None else rate.otherwise(F.lit(default_ppm))
    return df.filter(portable_bucket(key) < rate)


def weighted_sample_k_portable(
    df: DataFrame, key: str, weight_col: str, k: int
) -> DataFrame:
    """Oracle-verifiable twin of weighted_sample_k (the d05/t16
    portability pattern): same Efraimidis–Spirakis exactly-k weighted
    sample without replacement, but every ingredient is re-derivable
    by an external SQL engine —

    - uniform: u = (portable_bucket(key) + 0.5) / 1e6, pure integer
      arithmetic then ONE exact IEEE division;
    - score: u^(1/w) ranked via the monotone-equivalent ln(u)/w, with
      ln QUANTIZED to 6 dp before the division (the t17 recipe: raw ln
      differs in the last ulp across engines; round-half-away agrees);
    - selection: top-k by (score desc, key asc) —
      TakeOrderedAndProject, per-partition heaps, no global sort, no
      data shuffle.

    Production samplers without a cross-engine audit requirement
    should prefer weighted_sample_k (seeded xxhash64 — stronger mixing
    on adversarial/clustered keys). Rows with weight <= 0 or null are
    excluded, as in the sibling."""
    if k <= 0:
        raise ValueError("k must be positive")
    u = (portable_bucket(key) + F.lit(0.5)) / F.lit(float(PORTABLE_PPM))
    score = F.round(F.log(u), 6) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_es_score", score)
        .orderBy(F.desc("_es_score"), F.col(key))
        .limit(k)
        .drop("_es_score")
    )
