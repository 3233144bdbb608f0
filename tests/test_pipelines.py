"""End-to-end curation pipeline: partition correctness, reason
accounting, determinism."""

from __future__ import annotations

from kaylee_spark.pipelines import curate
from kaylee_spark.sources import load_table


def _ids(df, col="doc_id"):
    return {r[col] for r in df.select(col).collect()}


def test_curate_partitions_the_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    res = curate(docs)
    train, ev, rej = _ids(res.train), _ids(res.eval), _ids(res.rejected)
    # train/eval/rejected partition the corpus: disjoint and exhaustive
    assert train.isdisjoint(ev)
    assert (train | ev).isdisjoint(rej)
    assert train | ev | rej == _ids(docs)
    assert len(train) > 0 and len(ev) > 0
    reasons = {r["reason"] for r in res.rejected.select("reason").distinct().collect()}
    assert reasons <= {"quality", "exact_dup", "near_dup"}


def test_curate_drops_planted_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs away in a field of green"
    near = base + " tonight"
    rows = [
        (1, base),
        (2, base),            # exact dup of 1
        (3, near),            # near dup of 1
        (4, "a is the of to in and " * 5),   # passes quality, unique
        (5, "xxxxx yyyyy zzzzz"),             # no stopwords -> quality reject
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    res = curate(docs, near_dup_threshold=0.5)
    kept = _ids(res.train) | _ids(res.eval)
    assert 1 in kept and 4 in kept
    rej = {r["doc_id"]: r["reason"] for r in res.rejected.select("doc_id", "reason").collect()}
    assert rej[2] == "exact_dup"
    assert rej[3] == "near_dup"
    assert rej[5] == "quality"


def test_curate_is_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = curate(docs)
    b = curate(docs.repartition(13))
    assert _ids(a.train) == _ids(b.train)
    assert _ids(a.eval) == _ids(b.eval)


def test_pretraining_mix_budget_and_gate(spark):
    from kaylee_spark.pipelines import pretraining_mix

    docs = spark.createDataFrame(
        [
            (1, "en", "one two three four five six"),            # 6 tokens, clean
            (2, "en", "go go go go go go go go"),                # dup_frac 5/6 -> gated out
            (3, "en", "seven eight nine ten eleven twelve"),     # 6 tokens, clean
            (4, "en", "hi"),                                     # no trigram -> passes gate
            (5, "de", "eins zwei drei vier"),                    # other stratum
        ],
        ["doc_id", "lang", "text"],
    )
    kept = pretraining_mix(docs, {"en": 8, "de": 100}).collect()
    ids = sorted(r["doc"] for r in kept)
    # en walk in id order: doc1 (6 tok, cum-6=0 < 8 keep), doc3 (cum-6=6 < 8
    # keep -> overshoot), doc4 (cum-2=12 >= 8 drop); doc2 never in pool
    assert ids == [1, 3, 5]
    en_toks = sum(r["n_tokens"] for r in kept if r["lang"] == "en")
    assert en_toks == 12    # bounded overshoot: one straddling doc
