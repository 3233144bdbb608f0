"""Dedup operator tests: exact semantics on literal data, LSH recall
against the exact-Jaccard oracle on the fixture corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaylee_spark.operators import dedup as D
from kaylee_spark.sources import load_table


def test_exact_dedup_literal(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["dup_count"] for r in D.exact_dedup(df, "text", "doc_id").collect()}
    # min-id winner policy, dup_count = group size
    assert rows == {1: 3, 2: 1, 5: 1}


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c d")], ["doc_id", "text"])
    sh = D.shingles(df, "doc_id", "text", n=3).collect()
    got = {(r["doc"], r["shingle"]) for r in sh}
    assert got == {(2, "a b c"), (2, "b c d")}  # doc 1 too short -> none


def test_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6"), (2, "w1 w2 w3 w4 w5 w6"), (3, "x1 x2 x3 x4 x5 x6")],
        ["doc_id", "text"],
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in D.jaccard_pairs(df, "doc_id", "text", threshold=0.1).collect()}
    assert pairs == {(1, 2): 1.0}


def test_minhash_identical_docs_full_signature_match(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8"), (2, "w1 w2 w3 w4 w5 w6 w7 w8"), (3, "z1 z2 z3 z4 z5 z6 z7 z8")],
        ["doc_id", "text"],
    )
    pairs = D.minhash_lsh_verified_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_verified_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()
    }
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall} over {len(exact)} true pairs"


def test_simhash_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "completely different words here now")],
        ["doc_id", "text"],
    )
    sigs = {r["doc"]: r["simhash"] for r in D.simhash(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = D.simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} >= {(1, 2)}


def test_hamming_pairs_planted_signatures(spark):
    """The pigeonhole pair set on planted 62-bit signatures whose
    differing bits spread across chunks (the adversarial case for any
    blocking): every pair within distance 3, exactly once, and
    nothing farther."""
    base = int("10" * 31, 2)  # alternating 62-bit pattern
    sigs = [
        (1, base),
        (2, base ^ (1 << 0)),                                  # d(1)=1
        (3, base ^ (1 << 0) ^ (1 << 20) ^ (1 << 45)),          # d(1)=3, d(2)=2
        (4, base ^ (1 << 5) ^ (1 << 6) ^ (1 << 7) ^ (1 << 8)),  # d(1)=4: out
        (5, base ^ ((1 << 40) - 1)),                           # far from all
    ]
    df = spark.createDataFrame(sigs, "doc long, simhash long")
    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.hamming_pairs(df, 3, 62).collect()
    )
    assert got == [(1, 2, 1), (1, 3, 3), (2, 3, 2)]


def test_connected_components_literal_graph(spark):
    """Two chains + a singleton edge: labels converge to component minima."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["doc_a", "doc_b"]
    )
    got = {r["doc"]: r["cluster"] for r in D._min_label_loop(edges, "doc_a", "doc_b", 20).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_groups_exact_dups(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (5, "x y z w q r"), (9, "totally different words here")],
        ["doc_id", "text"],
    )
    rows = {r["doc"]: (r["cluster"], r["is_canonical"]) for r in D.dedup_clusters(df, "doc_id", "text").collect()}
    assert rows[1] == (1, True) and rows[2] == (1, False)
    assert rows[5] == (5, True) and rows[9] == (9, True)

def test_connected_components_long_chain_pointer_jump(spark):
    """A 64-hop chain converges well inside max_iter=20: the pointer
    jump gives O(log diameter), where plain min-propagation would need
    64 iterations and silently return split clusters."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], ["doc_a", "doc_b"])
    got = {r["doc"]: r["cluster"] for r in D._min_label_loop(edges, "doc_a", "doc_b", 20).collect()}
    assert got == {i: 0 for i in range(65)}


def test_connected_components_2k_chain_stress(spark):
    """Worst-case topology at depth: a 2048-node chain (diameter 2047)
    must converge within 16 iterations — pointer jumping gives
    O(log diameter), so ~11 suffices and 16 leaves margin; plain
    min-propagation would need 2047 and trip the warning. The absence
    of the max_iter warning IS the iteration-count assertion."""
    import warnings as W

    n = 2048
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"])
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        got = {r["doc"]: r["cluster"] for r in D._min_label_loop(edges, "doc_a", "doc_b", 16).collect()}
    assert got == {i: 0 for i in range(n)}
    assert not any("max_iter" in str(c.message) for c in caught)


def test_decontaminate_literal(spark):
    """Train doc 1 = eval text verbatim -> contamination 1.0, flagged;
    train doc 2 shares nothing -> 0.0; sub-n-gram doc 3 absent."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words in this training document here"),
            (3, "too short"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    rows = {r["doc"]: r for r in D.decontaminate(train, ev, "doc_id", "text", n=3).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["contamination"] == 1.0 and rows[1]["flagged"]
    assert rows[1]["n_shingles"] == rows[1]["n_contaminated"] == 7
    assert rows[2]["contamination"] == 0.0 and not rows[2]["flagged"]


def test_incremental_exact_dedup(spark):
    """Within-increment dups collapse to min-id; content the corpus
    already holds is dropped; genuinely new content survives."""
    seen = spark.createDataFrame([("old doc",)], ["text"]).select(
        D.content_hash("text").alias("content_sha")
    )
    inc = spark.createDataFrame(
        [(10, "old doc"), (11, "new doc"), (12, "new doc"), (13, "other new")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["dup_count"] for r in
           D.incremental_exact_dedup(inc, "text", "doc_id", seen).collect()}
    assert got == {11: 2, 13: 1}


def test_connected_components_warns_when_unconverged(spark):
    import warnings as W

    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], ["doc_a", "doc_b"])
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        D._min_label_loop(edges, "doc_a", "doc_b", 1).collect()
    assert any("max_iter" in str(c.message) for c in caught)


def test_simhash_golden_signature(spark):
    """Golden pin for the simhash SQL-string rewrite: the signature of
    a known document must stay stable across refactors (any change to
    the vote or reassembly arithmetic flips this)."""
    text = "the quick brown fox"
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    sigs = [r["simhash"] for r in D.simhash(df, "doc_id", "text").collect()]
    assert sigs[0] == sigs[1]
    # bit-vote semantics: each bit of the signature is the majority bit
    # of the token hashes; recompute from the pure-Python token hash
    hs = [_py_portable_hash(t) for t in text.split()]
    want = 0
    for i in range(D.PORTABLE_SIMHASH_BITS):
        votes = sum(1 if (h >> i) & 1 else -1 for h in hs)
        if votes > 0:
            want |= 1 << i
    assert sigs[0] == want


def test_dedup_clusters_lsh_equals_exact_edges(spark, sf_dir):
    """The LSH-verified edge stage must yield the same clustering as
    exact-Jaccard edges on the fixture (recall-1.0 banding) — this is
    what lets d06 keep its exact SQL oracle while running the
    candidates-then-verify pipeline. The exact reference is the
    inverted-index pairs through the same min-label loop."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = {(r.doc, r.cluster) for r in D.dedup_clusters(docs, "doc_id", "text").collect()}
    pairs = D.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    labels = {r.doc: r.cluster for r in D._min_label_loop(pairs, "doc_a", "doc_b", 20).collect()}
    exact = {(r.doc_id, labels.get(r.doc_id, r.doc_id)) for r in docs.select("doc_id").collect()}
    assert lsh == exact


def test_jaccard_max_df_cap(spark):
    """max_df drops only hot shingles: with the cap above every
    document frequency the result is identical to the exact metric,
    and with a tight cap a planted boilerplate shingle shared by ALL
    docs stops creating pairs while true near-dups survive."""
    boiler = "copyright footer text"
    rows = [
        (1, f"alpha beta gamma delta epsilon {boiler}"),
        (2, f"alpha beta gamma delta epsilon {boiler}"),
        (3, f"zeta eta theta iota kappa {boiler}"),
        (4, f"lambda mu nu xi omicron {boiler}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {(r.doc_a, r.doc_b, r.jaccard) for r in D.jaccard_pairs(df, "doc_id", "text", threshold=0.1).collect()}
    same = {(r.doc_a, r.doc_b, r.jaccard) for r in D.jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_df=100).collect()}
    assert same == uncapped
    # cap at 3: the boiler 3-grams (df=4) leave the index; docs 3/4
    # share nothing else -> no pair; docs 1/2 are true dups -> jaccard 1.0
    capped = {(r.doc_a, r.doc_b): r.jaccard for r in D.jaccard_pairs(df, "doc_id", "text", threshold=0.1, max_df=3).collect()}
    assert (1, 2) in capped and capped[(1, 2)] == 1.0
    assert (3, 4) not in capped


def test_jaccard_hot_shingle_candidates_stay_linear(spark):
    """Σdf² stress: one shingle planted in 50% of a 400-doc corpus.
    Uncapped, the inverted-index self-join alone materializes
    C(200,2) ≈ 20k candidate rows from that single shingle; with the
    df cap the hot shingle leaves the index and candidate volume
    collapses to the planted true-duplicate pairs — linear in corpus
    size with a fixed constant (bounded by max_df · |postings|) —
    while every planted near-dup pair survives with jaccard 1.0."""
    from pyspark.sql import functions as F

    hot = "spam footer boilerplate chrome"
    rows = []
    for i in range(400):
        body = f"unique{i} token{i} word{i} stuff{i} filler{i}"
        rows.append((i, body + (" " + hot if i % 2 == 0 else "")))
    # plant 5 exact duplicate pairs with fresh ids (no hot shingle)
    for j in range(5):
        rows.append((1000 + j, f"dupbody{j} shared{j} content{j} here{j} now{j}"))
        rows.append((2000 + j, f"dupbody{j} shared{j} content{j} here{j} now{j}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def candidate_count(max_df):
        sh = D.hashed_shingles(df, "doc_id", "text", 3).withColumnRenamed("sh64", "shingle")
        if max_df is not None:
            rare = sh.groupBy("shingle").agg(F.count("*").alias("_df")).filter(F.col("_df") <= max_df)
            sh = sh.join(rare.select("shingle"), "shingle")
        a = sh.withColumnRenamed("doc", "doc_a")
        b = sh.withColumnRenamed("doc", "doc_b")
        return a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b")).count()

    uncapped = candidate_count(None)
    capped = candidate_count(50)
    assert uncapped > 19000, uncapped  # the hot shingle dominates
    assert capped < 100, capped  # linear: only genuinely shared rare shingles
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_pairs(df, "doc_id", "text", threshold=0.5, max_df=50).collect()
    }
    for j in range(5):
        assert pairs.get((1000 + j, 2000 + j)) == 1.0, (j, pairs)


def _py_portable_hash(tok: str) -> int:
    """Pure-Python reference of the portable 62-bit token hash — the
    contract BOTH engines must satisfy (d05's oracle re-derives it in
    DuckDB; this pins the Spark side against it independently)."""
    m = D.PORTABLE_HASH_MOD
    hs = []
    for base in D.PORTABLE_HASH_BASES:
        acc = 0
        for ch in tok:
            acc = (acc * base + ord(ch)) % m
        hs.append(acc)
    return hs[0] * (1 << 31) + hs[1]


def test_portable_token_hash_matches_python_reference(spark):
    """The Spark SQL char-fold must equal the pure-Python polynomial
    hash for every token — any change to the bases, the modulus, or
    the fold seeding silently breaks the d05 oracle; this fails first
    and says why."""
    from pyspark.sql import functions as F

    toks = ["a", "hello", "The", "punctuation, attached!", "x" * 50, "0123456789"]
    df = spark.createDataFrame([(t,) for t in toks], ["tok"])
    got = {
        r["tok"]: r["h"]
        for r in df.select("tok", F.expr(D.portable_token_hash_sql("tok")).alias("h")).collect()
    }
    for t in toks:
        assert got[t] == _py_portable_hash(t), t
    # and the DuckDB twin (the oracle's formulation) agrees too
    import duckdb

    m, (b1, b2) = D.PORTABLE_HASH_MOD, D.PORTABLE_HASH_BASES
    fold = (
        "list_reduce(list_transform(range(1, len(tok) + 1), "
        "i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT)), "
        "(acc, x) -> (acc * {b} + x) % {m})"
    )
    con = duckdb.connect()
    for t in toks:
        (h,) = con.execute(
            f"SELECT {fold.format(b=b1, m=m)} * CAST({1 << 31} AS BIGINT) + {fold.format(b=b2, m=m)} "
            "FROM (SELECT ? AS tok)", [t]
        ).fetchone()
        assert h == _py_portable_hash(t), t


def test_plane_sign_matches_oracle_formula():
    """plane_sign (the Spark-side ±1 hyperplane literals) must equal
    the integer formula the s03 oracle evaluates in SQL."""
    from kaylee_spark.operators.similarity import SIGNATURE_BITS, plane_sign

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT j.range AS j, k.range AS k,
               CASE WHEN ((j.range * 64 + k.range + 1) * 2654435761) % 2147483647 % 2 = 1
                    THEN 1 ELSE -1 END AS s
        FROM range({SIGNATURE_BITS}) j, range(64) k
        """
    ).fetchall()
    for j, k, s in rows:
        assert plane_sign(j, k, 64) == s, (j, k)


def test_incremental_neardup_finds_planted_pair(spark):
    from kaylee_spark.operators.dedup import incremental_neardup_pairs

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated corpus content about databases and joins"),
        ],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "fresh novel text with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    out = incremental_neardup_pairs(
        increment, corpus, "doc_id", "text", n=3, threshold=0.3
    ).collect()
    pairs = {(r["doc_new"], r["doc_old"]) for r in out}
    assert pairs == {(10, 1)}
    (row,) = [r for r in out if r["doc_new"] == 10]
    # 10 tokens -> 8 3-grams per doc, 7 shared (only the final
    # "lazy dog tonight/today" gram differs) -> J = 7 / (8+8-7) = 7/9
    assert abs(row["jaccard"] - 7 / 9) < 1e-12


def test_incremental_neardup_hot_cap_drops_boilerplate_overlap(spark):
    from kaylee_spark.operators.dedup import incremental_neardup_pairs

    # every corpus doc shares one boilerplate shingle; with max_df=2
    # that shingle is dropped from BOTH sides, so the increment doc
    # whose only overlap is the boilerplate matches nothing
    boiler = "subscribe to our newsletter"
    corpus = spark.createDataFrame(
        [(i, f"{boiler} corpus body number {i} talks about topic {i}") for i in range(1, 5)],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [(100, f"{boiler} something entirely different")],
        "doc_id long, text string",
    )
    hits = incremental_neardup_pairs(
        increment, corpus, "doc_id", "text", n=3, threshold=0.1, max_df=2
    ).count()
    assert hits == 0
    # uncapped, the boilerplate shingles connect it to every corpus doc
    uncapped = incremental_neardup_pairs(
        increment, corpus, "doc_id", "text", n=3, threshold=0.1, max_df=None
    ).count()
    assert uncapped == 4


def test_lsh_index_write_probe_roundtrip(spark, tmp_path):
    import os

    from kaylee_spark.operators.dedup import probe_lsh_index, write_lsh_index

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated corpus content about databases and joins"),
        ],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "fresh novel text with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lsh_index")
    write_lsh_index(corpus, path, "doc_id", "text", n=3)
    # the persisted layout is band-partitioned (file-level pruning unit)
    assert any(d.startswith("band=") for d in os.listdir(f"{path}/buckets"))
    out = probe_lsh_index(spark, path, increment, "doc_id", "text", n=3).collect()
    assert {(r["doc_new"], r["doc_old"]) for r in out} == {(10, 1)}
    (row,) = out
    assert abs(row["jaccard"] - 7 / 9) < 1e-12
    # a second probe reuses the index untouched — identical result
    again = probe_lsh_index(spark, path, increment, "doc_id", "text", n=3).collect()
    assert [(r["doc_new"], r["doc_old"], r["jaccard"]) for r in again] == [
        (row["doc_new"], row["doc_old"], row["jaccard"])
    ]
    # the banding is persisted as index metadata: a probe with a
    # DIFFERENT threshold, which would plan different banding, reads
    # the baked config and still hits
    lower_thresh = probe_lsh_index(
        spark, path, increment, "doc_id", "text", n=3, threshold=0.3
    ).collect()
    assert {(r["doc_new"], r["doc_old"]) for r in lower_thresh} == {(10, 1)}
    # a shingle n that mismatches the persisted one raises instead of
    # silently probing foreign buckets
    import pytest

    with pytest.raises(ValueError, match="shingle n"):
        probe_lsh_index(spark, path, increment, "doc_id", "text", n=5)
    # a meta dir that EXISTS but is unreadable (e.g. an interrupted
    # write_lsh_index left it empty) must raise, not silently fall
    # back to re-derived banding — only PATH_NOT_FOUND is the legacy
    # pre-metadata layout
    import shutil

    from pyspark.errors import AnalysisException

    for f in os.listdir(f"{path}/meta"):
        p = os.path.join(f"{path}/meta", f)
        os.remove(p) if os.path.isfile(p) else shutil.rmtree(p)
    with pytest.raises(AnalysisException):
        probe_lsh_index(spark, path, increment, "doc_id", "text", n=3)
    # a fully MISSING meta dir is the legacy layout: falls back to
    # resolve_banding, which at the same threshold re-derives the
    # write-time config
    shutil.rmtree(f"{path}/meta")
    legacy = probe_lsh_index(spark, path, increment, "doc_id", "text", n=3).collect()
    assert {(r["doc_new"], r["doc_old"]) for r in legacy} == {(10, 1)}


def test_leakage_free_split_keeps_near_dups_on_one_side(spark):
    from kaylee_spark.operators.dedup import leakage_free_split

    base = "the quick brown fox jumps over the lazy dog number"
    rows = []
    # 20 planted near-dup pairs (J well above 0.5) + 20 unique docs
    for i in range(20):
        rows.append((2 * i, f"{base} {i} alpha"))
        rows.append((2 * i + 1, f"{base} {i} beta"))
    for i in range(40, 60):
        rows.append((i, f"completely unique document {i} with words {i * 7} {i * 13} {i * 17}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_free_split(df, "doc_id", "text", eval_ppm=500_000).collect()
    split_by_doc = {r["doc"]: r["split"] for r in out}
    cluster_by_doc = {r["doc"]: r["cluster"] for r in out}
    assert len(split_by_doc) == len(rows)
    for i in range(20):
        a, b = 2 * i, 2 * i + 1
        assert cluster_by_doc[a] == cluster_by_doc[b]
        assert split_by_doc[a] == split_by_doc[b], f"pair {a},{b} straddles the split"
    # with eval_ppm=50%, both sides must actually be populated
    assert {"train", "eval"} == set(split_by_doc.values())


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------


def test_containment_finds_embedded_quote_jaccard_misses(spark):
    from kaylee_spark.operators.dedup import containment_pairs, jaccard_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    host = (
        "breaking news from the wire today "
        + quote
        + " said the witness while officials denied everything and "
        "promised a thorough investigation into the matter shortly"
    )
    other = "completely unrelated text about gardening tips and tomato soil"
    df = spark.createDataFrame(
        [(1, quote), (2, host), (3, other)], "doc_id long, text string"
    )
    got = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    # every 3-gram of the quote appears in the host -> containment 1.0
    # in the quote->host direction ONLY
    assert got == {(1, 2): 1.0}
    # ...while symmetric Jaccard stays far below a dedup threshold
    jac = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0).collect()
    assert all(r["jaccard"] < 0.5 for r in jac)


def test_containment_max_df_cap_drops_boilerplate_only(spark):
    from kaylee_spark.operators.dedup import containment_pairs

    # the shared chrome line is in ALL 5 docs; with max_df=4 its
    # shingles leave the index, so chrome-only overlap yields no pair
    chrome = "copyright footer all rights reserved navigation menu"
    rows = [(i, f"{chrome} unique body {i} words here now") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert (
        containment_pairs(df, "doc_id", "text", n=3, threshold=0.5, max_df=4).count()
        == 0
    )


# ---------------------------------------------------------------------------
# corpus_jaccard
# ---------------------------------------------------------------------------


def test_corpus_jaccard_planted_overlap(spark):
    from kaylee_spark.operators.dedup import corpus_jaccard

    # A and B share exactly the "x1..x4" doc; C is disjoint vocabulary.
    shared = "x1 x2 x3 x4"          # 2 distinct 3-grams
    rows = [
        ("A", shared), ("A", "a1 a2 a3 a4"),
        ("B", shared), ("B", "b1 b2 b3 b4"),
        ("C", "c1 c2 c3 c4"),
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    out = {(r["grp_a"], r["grp_b"]): r for r in corpus_jaccard(df, "src", "text").collect()}
    # A: 4 shingles (2 shared + 2 own), B: 4; intersection 2; union 6
    ab = out[("A", "B")]
    assert ab["n_a"] == 4 and ab["n_b"] == 4 and ab["n_common"] == 2
    assert abs(ab["jaccard"] - 2 / 6) < 1e-6  # 6dp-rounded output
    # C intersects nothing -> no C rows at all
    assert not any("C" in k for k in out)


def test_corpus_jaccard_within_group_dups_count_once(spark):
    from kaylee_spark.operators.dedup import corpus_jaccard

    # the same doc repeated inside a group must not inflate its set size
    rows = [("A", "p q r s"), ("A", "p q r s"), ("B", "p q r s")]
    df = spark.createDataFrame(rows, "src string, text string")
    out = corpus_jaccard(df, "src", "text").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_a"] == 2 and r["n_b"] == 2 and r["n_common"] == 2
    assert r["jaccard"] == 1.0


def test_duplicate_window_stats_planted(spark):
    from kaylee_spark.operators.dedup import duplicate_window_stats

    shared = "w1 w2 w3 w4"
    df = spark.createDataFrame(
        [
            (1, shared + " a b c"),        # windows at w=4: 4 total, 1 shared
            (2, "x y " + shared),          # 3 total, 1 shared
            (3, "p q r s t"),              # 2 windows, none shared
            (4, "too short"),              # < w tokens -> absent
            (5, shared + " " + shared),    # intra-doc repeat of the shared window
        ],
        ["doc_id", "text"],
    )
    out = {r["doc"]: r for r in duplicate_window_stats(df, "doc_id", "text", w=4).collect()}
    assert out[1]["n_windows"] == 4 and out[1]["n_shared"] == 1
    assert out[2]["n_windows"] == 3 and out[2]["n_shared"] == 1
    assert out[3]["n_shared"] == 0 and out[3]["is_contaminated"] is False
    assert 4 not in out
    # doc 5: 5 windows; shared window occurs twice -> BOTH occurrences
    # count as shared (plus the straddling windows are unique to doc 5)
    assert out[5]["n_windows"] == 5 and out[5]["n_shared"] == 2
    assert abs(out[1]["shared_frac"] - 0.25) < 1e-15


def test_duplicate_window_intradoc_repeat_alone_not_shared(spark):
    """A window repeated only WITHIN one doc has distinct-doc support 1
    — it must not count as shared (that's t25's job, not d19's)."""
    from kaylee_spark.operators.dedup import duplicate_window_stats

    df = spark.createDataFrame([(1, "a b a b a b")], ["doc_id", "text"])
    r = duplicate_window_stats(df, "doc_id", "text", w=2).collect()[0]
    assert r["n_windows"] == 5 and r["n_shared"] == 0


def test_bloom_prescreen_planted(spark):
    from kaylee_spark.operators.dedup import bloom_prescreen_report

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} unique body") for i in range(1, 41)], ["doc_id", "text"]
    )
    increment = spark.createDataFrame(
        [
            (100, "corpus doc 7 unique body"),      # true dup of corpus 7
            (101, "corpus doc 23 unique body"),     # true dup of corpus 23
            (102, "completely novel text body"),    # clean
            (103, "another novel body here now"),   # clean
        ],
        ["doc_id", "text"],
    )
    r = bloom_prescreen_report(increment, corpus, "text").collect()[0]
    assert r["n_increment"] == 4 and r["n_true_dup"] == 2
    assert r["n_false_neg"] == 0                      # the Bloom guarantee
    assert r["n_flagged"] >= 2                        # both dups flagged
    assert r["n_false_pos"] == r["n_flagged"] - 2


def test_jaccard_topk_per_doc_bounds_output(spark):
    """Top-k neighbors: <= k rows per doc, ranked by similarity with
    deterministic tie-breaks, matching a brute-force reference."""
    texts = {
        1: "a b c d e f",
        2: "a b c d e g",   # J(1,2) = 3/5 on 4-shingles? use n=3
        3: "a b c x y z",
        4: "p q r s t u",   # overlaps nothing
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = D.jaccard_topk_per_doc(df, "doc_id", "text", n=3, k=2).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc"], []).append(r)
    assert all(len(v) <= 2 for v in per_doc.values())
    assert 4 not in per_doc  # no shared shingle -> no neighbors
    # brute force reference
    import itertools

    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i:i+3]) for i in range(len(toks) - 2)}

    ref = {}
    for a, b in itertools.combinations(texts, 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        inter = len(sa & sb)
        if inter:
            j = inter / len(sa | sb)
            ref.setdefault(a, []).append((j, b))
            ref.setdefault(b, []).append((j, a))
    for doc, lst in ref.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        want = [(n, j) for j, n in lst[:2]]
        got = sorted(per_doc[doc], key=lambda r: r["rnk"])
        assert [(r["neighbor"], r["jaccard"]) for r in got] == [
            (n, pytest_approx(j)) for n, j in want
        ] or [(r["neighbor"], round(r["jaccard"], 12)) for r in got] == [
            (n, round(j, 12)) for n, j in want
        ]
    # rnk is 1..k dense per doc
    for v in per_doc.values():
        assert sorted(r["rnk"] for r in v) == list(range(1, len(v) + 1))


def pytest_approx(x):
    import pytest

    return pytest.approx(x, abs=1e-12)


def test_containment_topk_per_src_bounds_and_direction(spark):
    """Directional top-k: <= k rows per src, scored containment
    (src -> dst) = |S(src) ∩ S(dst)| / |S(src)| — a short doc embedded
    in a long one must rank the HOST at containment 1.0 from the
    quote's side while the host's own view of the quote stays low."""
    host = "a b c d e f g h i j k l"
    quote = "c d e f g"                # its 3 shingles all inside host
    other = "x y z w v u"
    df = spark.createDataFrame(
        [(1, host), (2, quote), (3, other)], "doc_id long, text string"
    )
    out = D.containment_topk_per_src(df, "doc_id", "text", n=3, k=2).collect()
    rows = {(r["src"], r["dst"]): (r["containment"], r["rnk"]) for r in out}
    per_src = {}
    for r in out:
        per_src.setdefault(r["src"], []).append(r)
    assert all(len(v) <= 2 for v in per_src.values())
    assert 3 not in per_src  # no shared shingles -> no partners
    # quote -> host: all 3 of quote's shingles are host shingles
    assert rows[(2, 1)] == (1.0, 1)
    # host -> quote: only 3 of host's 10 shingles shared
    c, rnk = rows[(1, 2)]
    assert abs(c - 0.3) < 1e-12 and rnk == 1


def test_hamming_probe_bipartite_complete(spark):
    """Probe output == brute-force bipartite set, exactly once per
    pair — including distance-0 twins, max-distance edges, and probe
    signatures that match nothing."""
    from kaylee_spark.operators.dedup import hamming_probe

    bits, maxh = 24, 3
    # LCG signatures + planted exact twin + planted 3-bit neighbor
    sigs, x = [], 5
    for i in range(40):
        x = (x * 48271) % 2147483647
        sigs.append(x % (1 << bits))
    corpus = [(i, s) for i, s in enumerate(sigs)]
    probes = [
        (100, sigs[7]),                       # distance 0
        (101, sigs[11] ^ 0b10010001),         # distance 3
        (102, (~sigs[3]) & ((1 << bits) - 1)) # distance 24: no match
    ]
    cdf = spark.createDataFrame(corpus, ["vid", "sig"])
    pdf = spark.createDataFrame(probes, ["vid", "sig"])
    got = sorted(
        (r["vid_c"], r["vid_p"], r["hamming"])
        for r in hamming_probe(cdf, pdf, maxh, bits).collect()
    )
    expected = sorted(
        (ci, pi, bin(cs ^ ps).count("1"))
        for ci, cs in corpus
        for pi, ps in probes
        if bin(cs ^ ps).count("1") <= maxh
    )
    assert got == expected
    assert (7, 100, 0) in got and (11, 101, 3) in got
    assert not any(p == 102 for _, p, _ in got)
