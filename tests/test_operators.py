"""Tests for as-of/range joins, text operators, and multimodal plumbing."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from kaylee_spark.operators import multimodal as M
from kaylee_spark.operators import text as T
from kaylee_spark.operators.joins import asof_join, range_join
from kaylee_spark.sources import load_table


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_backward(spark):
    trades = spark.createDataFrame(
        [("A", ts("2024-01-01 10:00:05"), 100), ("A", ts("2024-01-01 10:00:20"), 200), ("B", ts("2024-01-01 10:00:10"), 300)],
        ["sym", "trade_ts", "qty"],
    )
    quotes = spark.createDataFrame(
        [("A", ts("2024-01-01 10:00:00"), 1.0), ("A", ts("2024-01-01 10:00:10"), 2.0), ("B", ts("2024-01-01 10:00:30"), 9.0)],
        ["sym", "quote_ts", "px"],
    )
    out = asof_join(trades, quotes, on="sym", left_time="trade_ts", right_time="quote_ts").collect()
    got = {(r["sym"], r["qty"]): r["px"] for r in out}
    # A@05 -> quote@00; A@20 -> quote@10; B@10 -> no quote yet -> null
    assert got == {("A", 100): 1.0, ("A", 200): 2.0, ("B", 300): None}
    assert len(out) == 3  # every left row survives


def test_asof_join_forward(spark):
    left = spark.createDataFrame([("A", 5, "l1"), ("A", 25, "l2")], ["k", "t", "tag"])
    right = spark.createDataFrame([("A", 10, "r1"), ("A", 20, "r2")], ["k", "t2", "val"])
    out = asof_join(left, right, on="k", left_time="t", right_time="t2", direction="forward").collect()
    got = {r["tag"]: r["val"] for r in out}
    assert got == {"l1": "r1", "l2": None}


def test_asof_equal_timestamps_match(spark):
    left = spark.createDataFrame([("A", 10, "l")], ["k", "t", "tag"])
    right = spark.createDataFrame([("A", 10, "r")], ["k", "t2", "val"])
    out = asof_join(left, right, on="k", left_time="t", right_time="t2").collect()
    assert out[0]["val"] == "r"  # backward as-of is <=, not <


def test_range_join_bucketed_equals_naive(spark):
    points = spark.createDataFrame([(i, float(i)) for i in range(50)], ["pid", "x"])
    intervals = spark.createDataFrame(
        [(100, 5.0, 10.0), (200, 9.5, 20.0), (300, 45.0, 70.0)], ["iid", "lo", "hi"]
    )
    naive = range_join(points, intervals, "x", "lo", "hi")
    bucketed = range_join(points, intervals, "x", "lo", "hi", bucket_width=4.0)
    key = lambda r: (r["pid"], r["iid"])  # noqa: E731
    assert sorted(map(key, naive.collect())) == sorted(map(key, bucketed.collect()))
    assert len(naive.collect()) > 0


def test_text_profile_columns(spark):
    df = spark.createDataFrame([(1, "the quick the fox"), (2, "der und das ist")], ["doc_id", "text"])
    profiled = df.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.stopword_ratio("text").alias("stopword_ratio"),
        T.lang_id("text").alias("lang_pred"),
        T.fingerprint_portable("text").alias("fingerprint"),
    )
    prof = {r["doc_id"]: r for r in profiled.collect()}
    assert prof[1]["n_tokens"] == 4
    assert prof[1]["stopword_ratio"] == 0.5  # 'the' twice of 4
    assert prof[1]["lang_pred"] == "en"
    assert prof[2]["lang_pred"] == "de"
    assert prof[1]["fingerprint"] != prof[2]["fingerprint"]


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([(1, "a b c"), (2, "c b a")], ["doc_id", "text"])
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", T.fingerprint_portable("text").alias("fp")).collect()}
    assert fps[1] != fps[2]


def test_multimodal_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = M.synth_media_from_documents(docs)
    # same field names + types (nullability may differ on literals;
    # simpleString renders types without nullability)
    assert media.schema.simpleString() == M.MEDIA_SCHEMA.simpleString()


def test_salted_join_matches_plain_join(spark):
    """Salted join must be result-identical to the plain join on a
    skewed key distribution (one key = 90% of rows)."""
    from kaylee_spark.operators.skew import salted_join

    skewed = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)], ["k", "v"]
    )
    dim = spark.createDataFrame([(k, f"name_{k}") for k in range(1, 120)], ["k", "name"])
    for how in ("inner", "left", "left_semi", "left_anti"):
        plain = skewed.join(dim, "k", how)
        salted = salted_join(skewed, dim, "k", how=how, n_salts=4)
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect())), how


def test_normalize_text(spark):
    """Case/punctuation/spacing variants normalize to one canonical
    form; distinct content stays distinct."""
    from kaylee_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "HELLO -- WORLD"), (4, "goodbye world")],
        ["id", "text"],
    )
    got = {r["id"]: r["n"] for r in df.select("id", normalize_text("text").alias("n")).collect()}
    assert got[1] == got[2] == got[3] == "hello world"
    assert got[4] == "goodbye world"


def test_chunk_documents(spark):
    """Window/overlap algebra: 10 tokens at chunk=4/overlap=1 (stride
    3) -> starts 1,4,7 -> chunks of 4,4,4 tokens sharing one token of
    context; short and empty docs yield exactly one chunk."""
    import pytest as _pytest

    from kaylee_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (2, "a b"), (3, "")],
        ["doc_id", "text"],
    )
    rows = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc"], []).append((r["chunk_idx"], r["chunk_text"], r["n_tokens"]))
    assert by_doc[1] == [
        (0, "t1 t2 t3 t4", 4),
        (1, "t4 t5 t6 t7", 4),
        (2, "t7 t8 t9 t10", 4),
    ]
    assert by_doc[2] == [(0, "a b", 2)]
    assert by_doc[3] == [(0, "", 0)]
    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_redact_pii(spark):
    """Planted PII of every pattern class is replaced with its typed
    placeholder; clean text passes through unchanged."""
    from kaylee_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact jane.doe+spam@example.co.uk for info"),
            (2, "server at 192.168.001.1 went down"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "no pii in this sentence at all"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["r"] for r in df.select("id", redact_pii("text").alias("r")).collect()}
    assert got[1] == "contact <EMAIL> for info"
    assert got[2] == "server at <IP> went down"
    assert got[3] == "call <PHONE> now"
    assert got[4] == "no pii in this sentence at all"


def test_salted_join_deterministic_salt(spark):
    """salt_on makes the salt a pure function of row content: the
    assignment survives repartitioning (a proxy for task retry /
    recompute, which replays with different partition layouts), the
    hot key still spreads across several salts, and the join result
    matches the plain join."""
    from kaylee_spark.operators.skew import salt_expr, salted_join

    skewed = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)], ["k", "v"]
    )
    dim = spark.createDataFrame([(k, f"name_{k}") for k in range(1, 120)], ["k", "name"])

    for how in ("inner", "left", "left_semi", "left_anti"):
        plain = skewed.join(dim, "k", how)
        salted = salted_join(skewed, dim, "k", how=how, n_salts=4, salt_on=["k", "v"])
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect())), how

    # retry-stability: same salt per row under two different layouts
    expr = salt_expr(4, ["k", "v"])
    a = {(r["k"], r["v"]): r["s"] for r in skewed.repartition(13).select("k", "v", expr.alias("s")).collect()}
    b = {(r["k"], r["v"]): r["s"] for r in skewed.coalesce(1).select("k", "v", expr.alias("s")).collect()}
    assert a == b
    # the hot key (k=1, 900 distinct v) must spread, not re-concentrate
    hot_salts = {s for (k, v), s in a.items() if k == 1}
    assert len(hot_salts) == 4


def test_salted_join_default_salt_is_recompute_stable(spark):
    """salt_on=None now defaults to hashing ALL probe-side columns:
    deterministic under relayout (retry/recompute proxy), spreads the
    hot key, and still matches the plain join. POSITIONAL is the
    explicit opt-in for the old position-based behavior."""
    from kaylee_spark.operators.skew import POSITIONAL, salt_expr, salted_join

    skewed = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)], ["k", "v"]
    )
    dim = spark.createDataFrame([(k, f"name_{k}") for k in range(1, 120)], ["k", "name"])

    plain = skewed.join(dim, "k")
    salted = salted_join(skewed, dim, "k", n_salts=4)  # default salt_on
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    expr = salt_expr(4, ["k", "v"])  # what the default resolves to here
    a = {(r["k"], r["v"]): r["s"] for r in skewed.repartition(17).select("k", "v", expr.alias("s")).collect()}
    b = {(r["k"], r["v"]): r["s"] for r in skewed.coalesce(1).select("k", "v", expr.alias("s")).collect()}
    assert a == b
    assert len({s for (k, v), s in a.items() if k == 1}) == 4

    # positional salting is still available but only by explicit opt-in
    pos = salted_join(skewed, dim, "k", n_salts=4, salt_on=POSITIONAL)
    assert sorted(map(tuple, pos.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_rejects_right_join(spark):
    import pytest as _pytest

    from kaylee_spark.operators.skew import salted_join

    df = spark.range(2)
    with _pytest.raises(ValueError):
        salted_join(df, df, "id", how="right")


def test_fan_out_probes_shuffle_nodes_not_plan_text(spark):
    """fan_out skips only frames whose physical plan holds a shuffle
    exchange node. A broadcast join over a single-partition scan still
    runs its probe side on one core, so it must be fanned out even when
    the plan text says "Exchange": a cached BroadcastExchange (cached
    with AQE off, so its plan is printed inline) or a column named
    Exchange. A hash repartition is already spread and comes back as is."""
    from kaylee_spark.operators.skew import fan_out, scoped_conf

    n = spark.sparkContext.defaultParallelism
    assert n > 1
    probe = spark.range(0, 1000, 1, 1).withColumn("k", F.col("id") % 10)
    dim = spark.range(10).withColumnRenamed("id", "k").withColumn("name", F.col("k").cast("string"))
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        cached = probe.join(F.broadcast(dim), "k").cache()
        cached.count()
    column_named = probe.join(F.broadcast(dim.withColumnRenamed("name", "Exchange")), "k")
    try:
        for df in (cached, column_named):
            plan = df._jdf.queryExecution().sparkPlan().toString()
            assert "Exchange" in plan and df.rdd.getNumPartitions() == 1, plan
            out = fan_out(df)
            assert out.rdd.getNumPartitions() == n
            assert sorted(out.collect()) == sorted(df.collect())
    finally:
        cached.unpersist()
    shuffled = probe.repartition("k")
    assert fan_out(shuffled) is shuffled


def test_repeated_line_ratio(spark):
    from kaylee_spark.operators.text import repeated_line_ratio

    df = spark.createDataFrame(
        [
            (1, "a\nb\na\n\n a "),   # lines a,b,a,'a ' -> 'a' repeats once -> 1/4... trim keeps ' a ' distinct? trim only gates emptiness
            (2, "x\ny\nz"),
            (3, "solo"),
            (4, ""),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["r"] for r in df.select("id", repeated_line_ratio("text").alias("r")).collect()}
    assert got[2] == 0.0 and got[3] == 0.0 and got[4] == 0.0
    # doc 1: non-empty lines = [a, b, a, ' a '] -> 4 lines, distinct 3 -> 0.25
    assert abs(got[1] - 0.25) < 1e-12


def test_top_ngram_fraction(spark):
    from kaylee_spark.operators.text import top_ngram_fraction

    df = spark.createDataFrame(
        [
            (1, "go go go go go"),        # bigrams: 4x 'go go' -> frac 1.0
            (2, "a b c d"),               # 3 distinct bigrams -> 1/3
            (3, "one"),                   # no bigram -> absent
        ],
        ["doc_id", "text"],
    )
    got = {r["doc"]: r["top_ngram_frac"] for r in top_ngram_fraction(df, "doc_id", "text", n=2).collect()}
    assert got[1] == 1.0
    assert abs(got[2] - 1 / 3) < 1e-12
    assert 3 not in got


def test_build_vocabulary_ids_and_cutoff(spark):
    from kaylee_spark.operators.text import build_vocabulary

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "cat cat cat"),
        ],
        ["doc_id", "text"],
    )
    out = build_vocabulary(docs, min_count=2).collect()
    by_term = {r["term"]: r for r in out}
    # 'on', 'mat', 'dog' occur once -> cut
    assert set(by_term) == {"the", "cat", "sat"}
    cat = by_term["cat"]
    assert cat["n_occurrences"] == 4 and cat["n_docs"] == 2
    # ids dense 0-based in (count desc, term) order: cat(4) < the(3) < sat(2)
    assert [r["term"] for r in sorted(out, key=lambda r: r["term_id"])] == ["cat", "the", "sat"]
    assert sorted(r["term_id"] for r in out) == [0, 1, 2]


def test_skew_report_ranks_hot_keys(spark):
    from kaylee_spark.operators.skew import skew_report

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("cold",)] * 1
    df = spark.createDataFrame(rows, ["k"])
    got = skew_report(df, "k", top_n=2).collect()
    assert [(r["k"], r["n_rows"], r["key_rank"]) for r in got] == [
        ("hot", 6, 1),
        ("warm", 3, 2),
    ]
    assert abs(got[0]["pct_of_total"] - 0.6) < 1e-9


def test_skew_report_counts_null_keys(spark):
    from kaylee_spark.operators.skew import skew_report

    df = spark.createDataFrame([(None,), (None,), ("x",)], "k: string")
    got = skew_report(df, "k", top_n=1).collect()
    assert got[0]["k"] is None and got[0]["n_rows"] == 2


def test_encode_with_vocabulary_preserves_order_and_oov(spark):
    from kaylee_spark.operators.text import build_vocabulary, encode_with_vocabulary

    docs = spark.createDataFrame(
        [(1, "cat sat cat"), (2, "dog sat unknownword")],
        ["doc_id", "text"],
    )
    vocab = build_vocabulary(docs, min_count=1)
    vmap = {r["term"]: r["term_id"] for r in vocab.collect()}
    got = {r["doc_id"]: r["token_ids"] for r in encode_with_vocabulary(docs, vocab).collect()}
    assert got[1] == [vmap["cat"], vmap["sat"], vmap["cat"]]
    # every token here IS in vocab (min_count=1) — now cut the vocab
    vocab2 = build_vocabulary(docs, min_count=2)  # only cat(2), sat(2)
    got2 = {r["doc_id"]: r["token_ids"] for r in encode_with_vocabulary(docs, vocab2).collect()}
    assert got2[2][0] == -1 and got2[2][2] == -1  # dog, unknownword -> OOV
    assert got2[1].count(-1) == 0


def test_encode_with_vocabulary_repartition_invariant(spark):
    from kaylee_spark.operators.text import build_vocabulary, encode_with_vocabulary

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{i % 3} shared") for i in range(60)], ["doc_id", "text"]
    )
    vocab = build_vocabulary(docs, min_count=2)
    a = sorted((r["doc_id"], tuple(r["token_ids"])) for r in encode_with_vocabulary(docs, vocab).collect())
    b = sorted(
        (r["doc_id"], tuple(r["token_ids"]))
        for r in encode_with_vocabulary(docs.repartition(13), vocab).collect()
    )
    assert a == b


def test_remove_common_segments_strips_shared_boilerplate(spark):
    from kaylee_spark.operators.text import remove_common_segments

    header = "terms of service apply to this site always"  # 8 words
    rows = [
        (1, header + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, header + " one two three four five six seven eight"),
        (3, header),  # nothing but boilerplate
        (4, "entirely unique words that appear in no other document"),
    ]
    out = {
        r["doc"]: r
        for r in remove_common_segments(
            spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
        ).collect()
    }
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon zeta eta theta"
    assert out[2]["clean_text"] == "one two three four five six seven eight"
    assert (out[3]["clean_text"], out[3]["n_kept"], out[3]["n_removed"]) == ("", 0, 1)
    assert out[4]["clean_text"] == rows[3][1]
    assert out[1]["n_kept"] == 1 and out[1]["n_removed"] == 1


def test_remove_common_segments_preserves_order_across_removals(spark):
    from kaylee_spark.operators.text import remove_common_segments

    shared = "x " * 7 + "x"  # 8 identical words, shared segment
    mid = ("a1 a2 a3 a4 a5 a6 a7 a8", "b1 b2 b3 b4 b5 b6 b7 b8")
    rows = [
        (1, f"{mid[0]} {shared} {mid[1]}"),
        (2, shared),
    ]
    out = {
        r["doc"]: r["clean_text"]
        for r in remove_common_segments(
            spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text"
        ).collect()
    }
    assert out[1] == f"{mid[0]} {mid[1]}"  # middle segment excised, order kept


def test_unigram_logprob_matches_hand_model(spark):
    """Scores must equal the hand-built unigram LM with the documented
    rounding (6dp per-token ln, exact decimal sum, 6dp final mean)."""
    import math
    from decimal import Decimal

    from kaylee_spark.operators.text import unigram_logprob

    rows = [(1, "a a b"), (2, "b c"), (3, "a")]
    corpus = " ".join(t for _, t in rows).split()
    n = len(corpus)
    cnt = {t: corpus.count(t) for t in set(corpus)}

    def score(text):
        lps = [Decimal(str(round(math.log(cnt[t] / n), 6))) for t in text.split()]
        return float(round(float(sum(lps)) / len(lps), 6))

    out = {r["doc"]: r for r in unigram_logprob(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    for doc_id, text in rows:
        assert out[doc_id]["n_tokens"] == len(text.split())
        assert out[doc_id]["avg_logprob"] == score(text)
    # rarer tokens => lower probability => more negative score
    assert out[2]["avg_logprob"] < out[3]["avg_logprob"]


def _png(w, h):
    import struct
    return b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00" + b"x" * 16


def _jpeg(w, h):
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _wav(seconds, byte_rate=16000):
    import struct
    data = b"\x00" * (seconds * byte_rate)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 1, 8000, byte_rate, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_sniff_media_meta_parses_real_container_headers():
    import struct

    from kaylee_spark.operators.multimodal import sniff_media_meta

    assert sniff_media_meta(_png(640, 480)) == ("image/png", 640, 480, None)
    assert sniff_media_meta(_jpeg(1920, 1080)) == ("image/jpeg", 1920, 1080, None)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert sniff_media_meta(gif) == ("image/gif", 320, 200, None)
    assert sniff_media_meta(_wav(3)) == ("audio/wav", None, None, 3000)
    assert sniff_media_meta(b"not a media file at all") == (None, None, None, None)
    assert sniff_media_meta(None) == (None, None, None, None)


def test_sniff_media_meta_survives_truncated_payloads():
    """Untrusted bytes: every prefix of a valid container must sniff
    without raising (the WAV fmt chunk truncated to [i+16, i+20) used
    to hit struct.error on a 30-byte payload)."""
    from kaylee_spark.operators.multimodal import sniff_media_meta

    for full in (_png(64, 32), _jpeg(16, 16), _wav(1)):
        for n in range(len(full[:64]) + 1):
            sniff_media_meta(full[:n])  # must not raise
    assert sniff_media_meta(_wav(1)[:30]) == ("audio/wav", None, None, None)


def test_probe_media_tolerates_malformed_payload(spark):
    """One malformed payload must not fail the whole mapInPandas
    stage: probe_media falls back to the ingest meta for that row."""
    from kaylee_spark.operators.multimodal import MEDIA_SCHEMA, probe_media

    rows = [
        (1, "image", bytearray(_png(8, 8)), {"mime": None, "width": None, "height": None, "duration_ms": None, "n_bytes": 0}),
        (2, "audio", bytearray(_wav(1)[:30]), {"mime": "audio/x-ingest", "width": None, "height": None, "duration_ms": None, "n_bytes": 0}),
    ]
    out = {r["media_id"]: r["meta"] for r in probe_media(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert out[1]["mime"] == "image/png"
    assert out[2]["n_bytes"] == 30  # row survived the sniff


def test_graph_rejects_degenerate_inputs(spark):
    """Clear contract errors instead of driver-side arithmetic crashes
    (ZeroDivisionError / AttributeError) on empty graphs or zero
    iterations."""
    import pytest as _pytest

    from kaylee_spark.operators.graph import hits, pagerank

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with _pytest.raises(ValueError, match="non-empty"):
        pagerank(empty)
    with _pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)
    with _pytest.raises(ValueError, match="non-empty"):
        hits(empty)
    with _pytest.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)


def test_probe_media_fills_meta_from_headers(spark):
    from kaylee_spark.operators.multimodal import MEDIA_SCHEMA, probe_media

    rows = [
        (1, "image", bytearray(_png(64, 32)), {"mime": "application/octet-stream", "width": None, "height": None, "duration_ms": None, "n_bytes": 0}),
        (2, "audio", bytearray(_wav(2)), {"mime": "application/octet-stream", "width": None, "height": None, "duration_ms": None, "n_bytes": 0}),
        (3, "video", bytearray(b"garbage-payload"), {"mime": "video/mp4", "width": None, "height": None, "duration_ms": None, "n_bytes": 0}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r["meta"] for r in probe_media(media).collect()}
    assert (out[1]["mime"], out[1]["width"], out[1]["height"]) == ("image/png", 64, 32)
    assert (out[2]["mime"], out[2]["duration_ms"]) == ("audio/wav", 2000)
    # unknown magic keeps the ingest mime, gains n_bytes
    assert out[3]["mime"] == "video/mp4" and out[3]["n_bytes"] == len(b"garbage-payload")


def test_tfidf_keywords_surfaces_distinctive_terms(spark):
    """A term unique to one doc must out-rank corpus-wide terms there;
    ubiquitous terms get near-zero idf."""
    from kaylee_spark.operators.text import tfidf_keywords

    rows = [
        (1, "common common common zebra zebra"),
        (2, "common common yeti"),
        (3, "common plain words"),
    ]
    out = tfidf_keywords(spark.createDataFrame(rows, ["doc_id", "text"]), k=2).collect()
    top = {r["doc"]: r["term"] for r in out if r["rank"] == 1}
    assert top[1] == "zebra" and top[2] == "yeti"
    ranks = {(r["doc"], r["term"]): r["rank"] for r in out}
    assert all(n <= 2 for n in ranks.values())


def test_bpe_pair_counts_hand_corpus(spark):
    from kaylee_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),     # pairs: (a,b) (b,a) (a,b) (b,c)
            (2, "a b"),           # (a,b)
            (3, "solo"),          # no pairs (single token)
            (4, ""),              # no pairs (empty)
            (5, "  a   b  "),     # empty tokens dropped -> (a,b)
        ],
        "doc_id long, text string",
    )
    out = bpe_pair_counts(df, "text", top_n=10).collect()
    counts = {(r["pair_a"], r["pair_b"]): r["n"] for r in out}
    assert counts == {("a", "b"): 4, ("b", "a"): 1, ("b", "c"): 1}
    # deterministic tie-break: n desc, then pair_a, pair_b ascending
    assert [(r["pair_a"], r["pair_b"]) for r in out] == [
        ("a", "b"), ("b", "a"), ("b", "c")
    ]


def test_bpe_pair_counts_top_n_boundary(spark):
    from kaylee_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "x y"), (2, "p q"), (3, "a b")], "doc_id long, text string"
    )
    out = bpe_pair_counts(df, "text", top_n=2).collect()
    # all ties at n=1 -> lexicographically first two pairs survive
    assert [(r["pair_a"], r["pair_b"]) for r in out] == [("a", "b"), ("p", "q")]


def test_sequence_packing_stats_hand_corpus(spark):
    from kaylee_spark.operators.text import sequence_packing_stats

    # capacity 4; lang en: docs of 3, 3, 2 tokens laid end-to-end:
    # [0,3) block0; [3,6) spans block0/1; [6,8) block1 -> 2 blocks,
    # 8 tokens, waste 0, one boundary doc
    df = spark.createDataFrame(
        [
            (1, "a b c", "en"),
            (2, "d e f", "en"),
            (3, "g h", "en"),
            (4, "x", "de"),      # 1 token -> 1 block, waste 3
            (5, "", "de"),       # 0 tokens
        ],
        "doc_id long, text string, lang string",
    )
    rows = {
        r["lang"]: r
        for r in sequence_packing_stats(
            df, "doc_id", "text", "lang", capacity=4
        ).collect()
    }
    en, de = rows["en"], rows["de"]
    assert (en["n_docs"], en["total_tokens"], en["n_blocks"]) == (3, 8, 2)
    assert (en["waste_tokens"], en["n_boundary_docs"]) == (0, 1)
    assert en["pack_efficiency"] == 1.0
    assert (de["n_docs"], de["total_tokens"], de["n_blocks"]) == (2, 1, 1)
    assert (de["waste_tokens"], de["n_boundary_docs"]) == (3, 0)
    assert de["pack_efficiency"] == 0.25


def test_sequence_packing_stats_all_empty_group(spark):
    from kaylee_spark.operators.text import sequence_packing_stats

    df = spark.createDataFrame(
        [(1, "", "fr"), (2, "   ", "fr")], "doc_id long, text string, lang string"
    )
    r = sequence_packing_stats(df, "doc_id", "text", "lang", capacity=8).collect()[0]
    assert (r["total_tokens"], r["n_blocks"], r["waste_tokens"]) == (0, 0, 0)
    assert r["n_boundary_docs"] == 0
    assert r["pack_efficiency"] == 1.0


def test_synth_media_headers_roundtrip_through_probe(spark):
    from kaylee_spark.operators.multimodal import probe_media, synth_media_with_headers

    docs = spark.createDataFrame(
        [(0, "png row"), (1, "wav row"), (2, "opaque video row")],
        "doc_id long, text string",
    )
    rows = {
        r["media_id"]: r["meta"]
        for r in probe_media(synth_media_with_headers(docs)).collect()
    }
    png = rows[0]
    assert (png["mime"], png["width"], png["height"]) == ("image/png", 16, 16)
    assert png["duration_ms"] is None and png["n_bytes"] == 24
    wav = rows[1]
    # byte_rate = 9000, data_size = 1001 -> 1001*1000 // 9000 = 111 ms
    assert (wav["mime"], wav["duration_ms"], wav["n_bytes"]) == ("audio/wav", 111, 44)
    assert wav["width"] is None
    vid = rows[2]
    # no known magic: ingest meta kept, n_bytes = utf-8 length
    assert vid["mime"] == "application/octet-stream"
    assert vid["width"] is None and vid["duration_ms"] is None
    assert vid["n_bytes"] == len("opaque video row")


def test_round6_operator_contract_guards(spark):
    import pytest

    from kaylee_spark.operators.similarity import bucket_balanced_sample, mmr_topk
    from kaylee_spark.operators.text import bpe_pair_counts, sequence_packing_stats

    emb = spark.createDataFrame([(1, [1.0] * 64)], "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(9, [1.0] * 64)], "query_id long, embedding array<float>")
    docs = spark.createDataFrame([(1, "a b", "en")], "doc_id long, text string, lang string")

    with pytest.raises(ValueError, match="k >= 1"):
        mmr_topk(emb, q, k=0)
    with pytest.raises(ValueError, match="pool >= k"):
        mmr_topk(emb, q, k=5, pool=3)
    with pytest.raises(ValueError, match="lam"):
        mmr_topk(emb, q, k=1, lam=1.5)
    with pytest.raises(ValueError, match="k_per_bucket"):
        bucket_balanced_sample(emb, k_per_bucket=0)
    with pytest.raises(ValueError, match="bucket_bits"):
        bucket_balanced_sample(emb, bucket_bits=25)
    with pytest.raises(ValueError, match="top_n"):
        bpe_pair_counts(docs, "text", top_n=0)
    with pytest.raises(ValueError, match="capacity"):
        sequence_packing_stats(docs, capacity=0)


# ---------------------------------------------------------------------------
# pmi_cooccurrence
# ---------------------------------------------------------------------------


def test_pmi_planted_collocation(spark):
    import math

    from kaylee_spark.operators.text import pmi_cooccurrence

    # "neural nets" always together; "cats" co-occurs with them at chance
    docs = []
    for i in range(40):
        parts = ["neural", "nets"] if i < 20 else ["solo"]
        if i % 2 == 0:
            parts.append("cats")
        docs.append((i, " ".join(parts + [f"pad{i % 4}"])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r["tok_x"], r["tok_y"]): r
        for r in pmi_cooccurrence(df, min_df=5, max_df=100, min_pair=3).collect()
    }
    pair = out[("nets", "neural")]
    # exact: c_xy=20, c_x=c_y=20, N=40 -> ln(20*40/400) = ln 2
    assert pair["c_xy"] == 20
    assert abs(pair["pmi"] - round(math.log(2), 6)) < 1e-9
    chance = out[("cats", "neural")]
    assert abs(chance["pmi"]) < 0.05  # independent ~ 0


def test_pmi_df_and_pair_gates(spark):
    import pytest

    from kaylee_spark.operators.text import pmi_cooccurrence

    docs = [(i, "stop rare" + str(i) + " mid") for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pmi_cooccurrence(df, min_df=2, max_df=9, min_pair=2).collect()
    toks = {t for r in out for t in (r["tok_x"], r["tok_y"])}
    assert "stop" not in toks        # df=10 > max_df
    assert not any("rare" in t for t in toks)  # df=1 < min_df
    with pytest.raises(ValueError):
        pmi_cooccurrence(df, min_df=0)
    with pytest.raises(ValueError):
        pmi_cooccurrence(df, min_df=5, max_df=4)
    with pytest.raises(ValueError):
        pmi_cooccurrence(df, min_pair=0)


def test_pmi_counts_each_doc_once(spark):
    from kaylee_spark.operators.text import pmi_cooccurrence

    # repetition inside one doc must not inflate the pair count
    docs = [(i, "a b a b a b") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pmi_cooccurrence(df, min_df=1, max_df=10, min_pair=1).collect()
    assert len(out) == 1 and out[0]["c_xy"] == 6 and abs(out[0]["pmi"]) < 1e-9


def test_bigram_logprob_matches_hand_model(spark):
    """Scores must equal the hand-built add-1 bigram LM with the
    documented rounding (6dp per-bigram ln into exact decimal, final
    mean deliberately UNROUNDED — exact operands, bit-stable quotient)."""
    import math
    from decimal import Decimal

    from kaylee_spark.operators.text import bigram_logprob

    rows = [(1, "a b a b c"), (2, "a b"), (3, "c a b"), (4, "solo")]
    bigrams = []
    vocab = set()
    for _, t in rows:
        toks = t.split()
        vocab.update(toks)
        bigrams += list(zip(toks, toks[1:]))
    c_ab = {p: bigrams.count(p) for p in set(bigrams)}
    c_a = {}
    for (a, _), n in c_ab.items():
        c_a[a] = c_a.get(a, 0) + n
    V = len(vocab)

    def score(text):
        toks = text.split()
        lps = [
            Decimal(str(round(math.log((c_ab[p] + 1) / (c_a[p[0]] + V)), 6)))
            for p in zip(toks, toks[1:])
        ]
        return float(sum(lps)) / len(lps)

    out = {r["doc"]: r for r in bigram_logprob(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    for doc_id, text in rows[:3]:
        assert out[doc_id]["n_bigrams"] == len(text.split()) - 1
        assert out[doc_id]["avg_logprob"] == score(text)
    # single-token docs have no bigrams and are absent
    assert 4 not in out
    # the common transition (a->b, seen 3x) outscores the rare ones
    assert out[2]["avg_logprob"] > out[1]["avg_logprob"]


# ---------------------------------------------------------------------------
# char_entropy
# ---------------------------------------------------------------------------


def test_char_entropy_hand_values(spark):
    import math

    from kaylee_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [("uniform", "abcd"), ("flat", "aaaa"), ("empty", ""), ("mixed", "aab")],
        "doc_id string, text string",
    )
    out = {r["doc"]: r for r in char_entropy(df).collect()}
    # empty doc: no char rows at all
    assert set(out) == {"uniform", "flat", "mixed"}
    # 4 distinct chars, p=1/4 each -> ln(4) nats
    assert abs(out["uniform"]["entropy"] - math.log(4)) < 1e-5
    assert out["uniform"]["n_unique_chars"] == 4
    # constant run -> zero entropy
    assert out["flat"]["entropy"] == 0.0 and out["flat"]["n_unique_chars"] == 1
    # 2/3, 1/3 mix
    expect = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert abs(out["mixed"]["entropy"] - expect) < 1e-5
    assert out["mixed"]["n_chars"] == 3


def test_char_entropy_flags_padding_vs_text(spark):
    from kaylee_spark.operators.text import char_entropy

    rows = [("pad", "x" * 400), ("prose", "the quick brown fox jumps over the lazy dog " * 10)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc"]: r for r in char_entropy(df).collect()}
    assert out["pad"]["entropy"] < 0.01
    assert out["prose"]["entropy"] > 2.0  # natural English ~3 nats


# ---------------------------------------------------------------------------
# dsir_logratio
# ---------------------------------------------------------------------------


def test_dsir_scores_target_like_docs_higher(spark):
    from kaylee_spark.operators.text import dsir_logratio

    # target docs speak "alpha beta"; background noise speaks "x y z"
    rows = [
        ("t1", "alpha beta alpha beta", True),
        ("t2", "beta alpha beta alpha", True),
        ("n1", "x y z x y z", False),
        ("n2", "z y x z y x", False),
        ("mix", "alpha x beta y", False),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, is_target boolean")
    out = {r["doc"]: r["dsir_score"] for r in dsir_logratio(df).collect()}
    assert len(out) == 5
    # pure target vocabulary scores above the mixed doc, which scores
    # above pure background vocabulary
    assert out["t1"] > out["mix"] > out["n1"]
    assert out["t1"] > 0 and out["n1"] < 0


def test_dsir_empty_target_raises(spark):
    import pytest as _pytest

    from kaylee_spark.operators.text import dsir_logratio

    df = spark.createDataFrame(
        [("d1", "a b", False)], "doc_id string, text string, is_target boolean"
    )
    with _pytest.raises(ValueError):
        dsir_logratio(df)


def test_repetition_profile_hand_values(spark):
    from kaylee_spark.operators.text import repetition_profile

    df = spark.createDataFrame(
        [
            (1, "a b c a b c d"),   # trigrams: abc bca cab abc bcd -> 5 total, 4 distinct
            (2, "go go go go go"),  # trigrams: 3x 'go go go' -> dup_frac 2/3
            (3, "x y z"),           # exactly one trigram -> 0.0
            (4, "one two"),         # no trigram -> NULL dup_frac
            (5, ""),                # empty -> NULL
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["p"] for r in df.select("doc_id", repetition_profile("text", n=3).alias("p")).collect()}
    assert out[1]["n_grams"] == 5 and out[1]["n_distinct"] == 4
    assert abs(out[1]["dup_frac"] - 0.2) < 1e-15
    assert abs(out[2]["dup_frac"] - 2 / 3) < 1e-15
    assert out[3]["dup_frac"] == 0.0
    assert out[4]["dup_frac"] is None and out[4]["n_grams"] == 0
    assert out[5]["dup_frac"] is None


def test_repetition_profile_plan_is_shuffle_free(spark):
    from kaylee_spark.operators.text import repetition_profile

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = (
        df.select("doc_id", repetition_profile("text").alias("p"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_shard_manifest_exhaustive_and_deterministic(spark):
    from kaylee_spark.operators.text import shard_manifest

    df = spark.createDataFrame(
        [(i, "tok " * (i % 5 + 1)) for i in range(1, 101)], ["doc_id", "text"]
    )
    rows = shard_manifest(df, "doc_id", "text", n_shards=8).collect()
    assert sum(r["n_docs"] for r in rows) == 100          # every doc lands somewhere
    assert all(0 <= r["shard"] < 8 for r in rows)
    # token accounting is exact: doc i has (i % 5 + 1) tokens
    assert sum(r["total_tokens"] for r in rows) == sum(i % 5 + 1 for i in range(1, 101))
    # rerun == same assignment (pure function of the id)
    again = {r["shard"]: r for r in shard_manifest(df, "doc_id", "text", n_shards=8).collect()}
    for r in rows:
        assert again[r["shard"]]["n_docs"] == r["n_docs"]


def test_with_repetition_profile_matches_column_form(spark):
    from kaylee_spark.operators.text import repetition_profile, with_repetition_profile

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "a b c a b c d", "go go go go go", "x y z", "one two", "",
            "q w e r t y q w e r t y q w e",
        ])],
        ["doc_id", "text"],
    )
    col_form = {
        r["doc_id"]: (r["p"]["n_grams"], r["p"]["n_distinct"], r["p"]["dup_frac"])
        for r in df.select("doc_id", repetition_profile("text", n=3).alias("p")).collect()
    }
    staged = {
        r["doc_id"]: (r["n_grams"], r["n_distinct"], r["dup_frac"])
        for r in with_repetition_profile(df, "text", n=3).collect()
    }
    assert staged == col_form


def test_positional_grams_equals_lambda_build(spark):
    """The zip-based gram builder must emit the identical ordered gram
    stream as the per-position lambda form it replaced."""
    from kaylee_spark.operators.text import positional_grams, tokens

    df = spark.createDataFrame(
        [("a b c d e",), ("a a a",), ("x",), ("",), ("p q",)], ["text"]
    )
    toks = tokens("text")
    n = 2
    starts = F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)).otherwise(
        F.array().cast("array<int>")
    )
    old = F.transform(starts, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    rows = df.select(old.alias("old"), positional_grams(toks, n).alias("new")).collect()
    for r in rows:
        assert r["old"] == r["new"]


def test_aqe_skew_join_engages_on_forced_shuffle(spark):
    """AQE skew splitting must actually ENGAGE on the skew_probe's
    planted shape (docs/SCALE.md cites the dial as the first line of
    defense; this pins it to a real executed plan): a forced
    sort-merge join with one hot key and probe-scaled thresholds must
    show skew=true in the final adaptive plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)))
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("d").alias("dim_payload")
        )
        joined = fact.join(dim, "k")
        # Execute THIS lineage: count() spawns a separate QueryExecution,
        # so the plan inspected below would never finalize under it.
        assert len(joined.collect()) > 0  # execute: AQE finalizes at runtime
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, f"AQE skew split did not engage:\n{final_plan[:2000]}"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_heavy_hitters_exact_under_forced_trimming(spark):
    """The two-pass MG heavy hitter must return the EXACT heavy set
    even when pass-1 trimming genuinely engages: 1002 distinct items
    vs k=20 counters, heavies spread across partitions by round-robin
    (the adversarial layout — every partition summary must carry them
    through its trims)."""
    import pytest

    from kaylee_spark.operators.analytics import heavy_hitters

    lights = spark.range(1000).select(F.concat(F.lit("u"), F.col("id")).alias("item"))
    h1 = spark.range(500).select(F.lit("h1").alias("item"))
    h2 = spark.range(300).select(F.lit("h2").alias("item"))
    items = lights.unionByName(h1).unionByName(h2).repartition(7)
    # n = 1800; 10% share -> threshold 180 -> exactly {h1: 500, h2: 300}
    got = {
        (r["item"], r["cnt"])
        for r in heavy_hitters(items, "item", min_share_ppm=100_000, k=20).collect()
    }
    assert got == {("h1", 500), ("h2", 300)}
    # k below the recall floor (1e6/ppm) is refused, not silently lossy
    with pytest.raises(ValueError, match="recall"):
        heavy_hitters(items, "item", min_share_ppm=100_000, k=5)
    with pytest.raises(ValueError, match="ppm"):
        heavy_hitters(items, "item", min_share_ppm=0)


def test_png_codec_roundtrips_all_filters():
    """Every W3C filter type must reconstruct exactly — the encoder
    filters with TRUE pixel neighbors, the decoder predicts from its
    own reconstruction, so an asymmetric bug in any branch corrupts
    every scanline after the first."""
    import numpy as np

    from kaylee_spark.operators.multimodal import png_decode_rgb, png_encode_rgb

    rng = np.random.RandomState(7)
    for _ in range(10):
        h, w = int(rng.randint(1, 20)), int(rng.randint(1, 20))
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        filters = [int(rng.randint(0, 5)) for _ in range(h)]
        w2, h2, out = png_decode_rgb(png_encode_rgb(px, filters))
        assert (w2, h2) == (w, h)
        assert (out == px).all()
    # single-filter images too (the prior-row state must carry per type)
    px = rng.randint(0, 256, (6, 5, 3)).astype(np.uint8)
    for f in range(5):
        _, _, out = png_decode_rgb(png_encode_rgb(px, [f] * 6))
        assert (out == px).all(), f"filter {f} asymmetric"


def test_png_decode_rejects_corruption_and_unsupported():
    import numpy as np
    import pytest

    from kaylee_spark.operators.multimodal import png_decode_rgb, png_encode_rgb

    px = np.zeros((3, 3, 3), dtype=np.uint8)
    enc = bytearray(png_encode_rgb(px))
    # flip one IDAT byte -> CRC mismatch must raise, not decode garbage
    enc[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|pixel|zlib|PNG"):
        png_decode_rgb(bytes(enc))
    with pytest.raises(ValueError, match="not a PNG"):
        png_decode_rgb(b"GIF89a" + b"\x00" * 20)
    # 16-bit / palette / interlaced headers are refused loudly
    good = png_encode_rgb(px)
    import struct
    import zlib

    bad_ihdr = struct.pack(">IIBBBBB", 3, 3, 8, 3, 0, 0, 0)  # palette
    bad = (
        good[:8]
        + struct.pack(">I", 13)
        + b"IHDR"
        + bad_ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + bad_ihdr) & 0xFFFFFFFF)
        + good[33:]
    )
    with pytest.raises(ValueError, match="truecolor"):
        png_decode_rgb(bad)


def test_real_decode_png_no_longer_stubbed():
    """PNG decodes end-to-end in stdlib; a non-PNG payload is
    rejected, not misread."""
    import numpy as np
    import pytest

    from kaylee_spark.operators.multimodal import png_decode_rgb, png_encode_rgb

    px = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    w, h, out = png_decode_rgb(png_encode_rgb(px))
    assert (w, h) == (4, 3) and (out == px).all()
    with pytest.raises(ValueError, match="not a PNG"):
        png_decode_rgb(b"\xff\xd8\xff\xe0 jpeg bytes")


def test_decode_image_stats_matches_formula(spark, sf_dir):
    """The a32 path: full-PNG fixture -> stdlib decode -> per-channel
    integer stats == the generator's pixel arithmetic, computed
    independently in numpy here (the oracle does it in SQL)."""
    import numpy as np

    from kaylee_spark.operators.multimodal import decode_image_stats, synth_png_media
    from kaylee_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    stats = decode_image_stats(synth_png_media(docs)).collect()
    assert stats, "no image rows decoded"
    by_key = {(r["media_id"], r["channel"]): r for r in stats}
    mids = {r["media_id"] for r in stats}
    for mid in mids:
        seed, w, h = mid % 251, 4 + mid % 13, 4 + mid % 11
        x, y, c = np.arange(w), np.arange(h), np.arange(3)
        px = (seed + 3 * x[None, :, None] + 5 * y[:, None, None] + 11 * c[None, None, :]) % 256
        for ch in range(3):
            r = by_key[(mid, ch)]
            col = px[:, :, ch]
            assert r["n_px"] == w * h
            assert r["sum_v"] == int(col.sum())
            assert r["min_v"] == int(col.min())
            assert r["max_v"] == int(col.max())
    # non-PNG payloads are skipped, not fatal
    from pyspark.sql import functions as F

    from kaylee_spark.operators.multimodal import synth_media_from_documents

    mixed = synth_media_from_documents(docs)  # opaque text payloads
    assert decode_image_stats(mixed).count() == 0


def test_bpe_train_learns_greedy_merge_sequence(spark):
    """The merge table equals a hand-run greedy BPE: most-frequent
    adjacent pair per round (lexicographic ties), merges applied
    corpus-wide before the next count — including the back-to-back
    occurrence case the two-space wire format exists for."""
    from kaylee_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [
            (1, "lo w lo w lo w"),       # (lo,w) x3
            (2, "lo w er lo w er"),      # (lo,w) x2 more, (w,er) x2
            (3, "n e w n e w"),          # (n,e) x2, (e,w) x2
        ],
        "doc_id long, text string",
    )
    out = bpe_train(docs, "text", rounds=3).collect()
    got = [
        (r["round"], r["rank"], r["pair_a"], r["pair_b"], r["merged"], r["n"])
        for r in out
    ]
    # round 1: (lo,w) n=5 -> "low" everywhere
    # round 2 corpus: doc1 "low low low", doc2 "low er low er", doc3 "n e w n e w"
    #   pairs: (low,low) 2, (low,er) 2, (er,low) 1, (n,e) 2, (e,w) 2, (w,n) 1
    #   tie at n=2 -> lexicographic: (e,w) wins
    # round 3 corpus: doc3 "n ew n ew": (n,ew) 2, (ew,n) 1;
    #   doc1 "low low low": (low,low) 2; doc2: (low,er) 2, (er,low) 1
    #   tie at n=2 -> (low,er) < (low,low) < (n,ew) -> (low,er) wins
    assert got == [
        (1, 1, "lo", "w", "low", 5),
        (2, 1, "e", "w", "ew", 2),
        (3, 1, "low", "er", "lower", 2),
    ]
    # back-to-back merge: "a a a a" -> (a,a) x3 counted, replace yields
    # "aa aa" (left-to-right non-overlapping), round 2 merges (aa,aa)
    runs = spark.createDataFrame([(1, "a a a a")], "doc_id long, text string")
    out2 = bpe_train(runs, "text", rounds=2).collect()
    assert [(r["round"], r["merged"], r["n"]) for r in out2] == [
        (1, "aa", 3),
        (2, "aaaa", 1),
    ]


def test_bpe_merge_is_token_anchored(spark):
    """A merge rule must fire only on whole-token adjacencies, never
    inside a longer token that happens to END with pair_a (suffix
    collision: rule (of, the) on tokens ['thereof', 'the'] — the raw
    two-space replace would corrupt that to 'thereofthe') or START
    with pair_b (prefix collision: rule (a, b) on ['a', 'bz']). The
    single-space sentinel padding is what anchors the match."""
    from kaylee_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [
            (1, "of the of the of the"),  # makes (of, the) the round-1 rule
            (2, "thereof the"),           # must stay two tokens in round 1
            (3, "xa bz"),
        ],
        "doc_id long, text string",
    )
    out = bpe_train(docs, "text", rounds=2).collect()
    got = [(r["round"], r["pair_a"], r["pair_b"], r["n"]) for r in out]
    # round 1: (of,the) x3 wins; doc2's (thereof,the) and doc3's (xa,bz)
    # adjacencies survive the merge UNTOUCHED, so round 2 counts them:
    # doc1 -> "ofthe ofthe ofthe" gives (ofthe,ofthe) x2 — the winner
    assert got[0] == (1, "of", "the", 3)
    assert got[1] == (2, "ofthe", "ofthe", 2)
    # and the corrupted token never exists: retrain on doc2 alone —
    # its only pair is (thereof, the), NOT anything containing 'ofthe'
    solo = bpe_train(
        spark.createDataFrame([(2, "thereof the")], "doc_id long, text string"),
        "text",
        rounds=1,
    ).collect()
    assert [(r["pair_a"], r["pair_b"], r["merged"]) for r in solo] == [
        ("thereof", "the", "thereofthe")
    ]


def test_bpe_train_batched_disjoint_selection(spark):
    """batch_m > 1 picks up to M token-disjoint rules per scan in
    (n DESC, a, b) order: a candidate sharing a token with an earlier
    pick this round is SKIPPED, and all picks apply before the next
    count."""
    from kaylee_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [
            # pairs in round 1: (a,b) x3; (b,c) x3 but shares b -> skip;
            # (x,y) x2 disjoint -> rank 2
            (1, "a b c a b c a b c"),
            (2, "x y x y"),
        ],
        "doc_id long, text string",
    )
    out = bpe_train(docs, "text", rounds=1, batch_m=2).collect()
    got = [(r["rank"], r["pair_a"], r["pair_b"], r["n"]) for r in out]
    assert got == [(1, "a", "b", 3), (2, "x", "y", 2)]
    # batch_m=1 on the same corpus would have taken (a,b) only; the
    # batched round's application order is rank order and both rules
    # land: round-2 corpus should pair (ab,c) and (xy,xy)
    out2 = bpe_train(docs, "text", rounds=2, batch_m=2).collect()
    r2 = [(r["rank"], r["pair_a"], r["pair_b"], r["n"]) for r in out2 if r["round"] == 2]
    assert r2 == [(1, "ab", "c", 3), (2, "xy", "xy", 1)]


def test_wav_codec_roundtrips_and_rejects():
    import numpy as np
    import pytest

    from kaylee_spark.operators.multimodal import wav_decode_pcm16, wav_encode_pcm16

    rng = np.random.RandomState(11)
    s = rng.randint(-32768, 32768, 777).astype(np.int16)
    rate, out = wav_decode_pcm16(wav_encode_pcm16(s, sample_rate=16000))
    assert rate == 16000 and (out == s).all()
    with pytest.raises(ValueError, match="RIFF"):
        wav_decode_pcm16(b"not audio at all, clearly")
    # sniff_media_meta still reads the canonical header this writer emits
    from kaylee_spark.operators.multimodal import sniff_media_meta

    mime, _w, _h, dur = sniff_media_meta(wav_encode_pcm16(s, sample_rate=8000))
    assert mime == "audio/wav" and dur == (777 * 2 * 1000) // 16000


def test_decode_audio_stats_matches_formula(spark, sf_dir):
    import numpy as np

    from kaylee_spark.operators.multimodal import decode_audio_stats, synth_wav_media
    from kaylee_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    stats = decode_audio_stats(synth_wav_media(docs)).collect()
    assert stats, "no audio rows decoded"
    for r in stats:
        mid = r["media_id"]
        seed, n = mid % 1009, 64 + mid % 937
        i = np.arange(n, dtype=np.int64)
        v = ((seed + 13 * i + 7 * i * i) % 65536) - 32768
        assert r["n_samples"] == n
        assert r["sum_v"] == int(v.sum())
        assert r["sum_sq"] == int((v * v).sum())
        assert r["min_v"] == int(v.min()) and r["max_v"] == int(v.max())


def test_bpe_apply_reproduces_training_merges(spark):
    """The inference half: applying the learned table in (round, rank)
    order reproduces exactly the trainer's final corpus state — same
    sentinel-anchored replace, same order; docs the rules don't touch
    and empty docs pass through."""
    from kaylee_spark.operators.text import bpe_apply, bpe_train

    docs = spark.createDataFrame(
        [
            (1, "lo w lo w lo w"),
            (2, "lo w er lo w er"),
            (3, "n e w n e w"),
            (4, "   "),  # tokenizes to nothing
        ],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, "text", rounds=3)
    out = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_tokens"])
           for r in bpe_apply(docs, merges, "text").collect()}
    # rules learned: (lo,w)->low, (e,w)->ew, (low,er)->lower
    assert out[1] == (3, ["low", "low", "low"])
    assert out[2] == (2, ["lower", "lower"])
    assert out[3] == (4, ["n", "ew", "n", "ew"])
    assert out[4] == (0, [])


def test_bpe_model_store_cache_and_refresh(spark, sf_dir):
    """The process-level trained-model store: consumers reuse the
    trainer's merges (identical rows, no retrain), refresh=True
    repopulates, and the cache key includes training params so the
    t30 config never collides with the t28 config."""
    from kaylee_spark.queries import llm_text as L

    L._BPE_MODELS.clear()
    trained = L._bpe_trained_merges(spark, sf_dir, rounds=3, refresh=True)
    rows_trained = sorted(tuple(r) for r in trained.collect())
    assert len(L._BPE_MODELS) == 1
    # consumer path: cache hit returns identical model rows
    reused = L._bpe_trained_merges(spark, sf_dir, rounds=3)
    assert sorted(tuple(r) for r in reused.collect()) == rows_trained
    # a different param key trains separately, does not evict
    other = L._bpe_trained_merges(spark, sf_dir, rounds=2, batch_m=2)
    assert len(L._BPE_MODELS) == 2
    assert sorted(tuple(r) for r in other.collect()) != rows_trained
    # refresh retrains deterministically (pure function of corpus)
    refreshed = L._bpe_trained_merges(spark, sf_dir, rounds=3, refresh=True)
    assert sorted(tuple(r) for r in refreshed.collect()) == rows_trained
