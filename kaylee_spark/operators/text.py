"""Text-analysis operators for training-data pipelines.

All column-expression based (built-in functions, codegen'd, zero
Python in the row path): language ID, quality scoring, token counting,
document fingerprinting. Each returns Column(s) or a DataFrame
transform so they compose with any pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny multi-language stopword profiles for the n-gram/stopword
#: language-ID heuristic. Deliberately small + deterministic.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "von"],
    "fr": ["le", "la", "les", "et", "de", "est"],
    "es": ["el", "la", "los", "y", "de", "es"],
}


def tokens(text_col="text") -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, " "), lambda t: t != "")


def positional_grams(toks: Column, n: int) -> Column:
    """All word n-grams (duplicates kept, document order) of a token
    array, as space-joined strings — built from n SHIFTED SLICES
    zipped positionally instead of a per-position lambda.

    The lambda form (transform(sequence(...), i -> slice(toks, i, n)))
    re-evaluates the ``toks`` subtree for EVERY position — when toks
    is an inlined tokenizer that is an O(tokens^2) re-split per
    document (measured 4x wall on the ~sf1 probe for the trigram
    profile, and the dominant scan cost of the whole shingle family).
    Here ``toks`` is evaluated exactly n times per row (the n slices),
    a constant independent of document length; the zip + concat walk
    is the unavoidable O(tokens * n) gram build itself.
    """
    m = F.size(toks) - (n - 1)
    parts = [F.slice(toks, i + 1, F.greatest(m, F.lit(0))) for i in range(n)]
    zipped = F.arrays_zip(*parts)
    return F.when(
        m >= 1,
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])),
    ).otherwise(F.array().cast("array<string>"))


#: PII patterns applied in order by redact_pii. Deliberately restricted
#: to syntax Java regex and RE2 (the DuckDB oracle) interpret
#: identically: character classes, bounded quantifiers, non-capturing
#: groups, \b — no backrefs, no lookaround.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\-\s.]{7,}[0-9]", "<PHONE>"),
)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed token windows with overlap — the
    standard context-window prep for LLM training/embedding: (doc,
    chunk_idx, chunk_text, n_tokens), windows starting every
    ``chunk_tokens - overlap`` tokens so consecutive chunks share
    ``overlap`` tokens of context.

    Row-local and shuffle-free: the token array, window starts, and
    slices are all array expressions on the document's own row, then
    one explode. A doc shorter than a window yields its whole text as
    chunk 0; the trailing window is allowed to be short. At 100 TB the
    output rides whatever shuffle the CONSUMER needs — chunking itself
    adds none.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    step = chunk_tokens - overlap
    toks = tokens(text_col)
    # 1-based window starts: 1, 1+step, ... while start <= size - overlap
    # (a final window must contain at least one NEW token past the
    # previous window's overlap); degenerate short/empty docs get [1].
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - F.lit(overlap), F.lit(1)), F.lit(step)
    )
    win = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, chunk_tokens)))
    return df.select(
        F.col(id_col).alias("doc"), F.posexplode(win).alias("chunk_idx", "chunk_text")
    ).select(
        "doc",
        "chunk_idx",
        "chunk_text",
        F.size(F.filter(F.split("chunk_text", " "), lambda t: t != "")).alias("n_tokens"),
    )


def redact_pii(text_col="text") -> Column:
    """Replace emails, IPv4 addresses, and phone-like digit runs with
    typed placeholder tokens — the standard scrub before training-data
    release. A chain of codegen'd regexp_replace calls: runs at scan
    speed, no Python, no shuffle. Order matters: emails first (their
    local part may contain digit runs), then IPs (dotted digits would
    otherwise match the phone pattern), then phones.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for _name, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def normalize_text(text_col="text") -> Column:
    """Canonical text form for fuzzy-exact dedup (the C4/RefinedWeb
    normalization step): lowercase, strip everything but [a-z0-9 ],
    collapse whitespace runs, trim. Two docs differing only in case,
    punctuation, or spacing normalize to the same string, so exact
    dedup on the normalized form catches the near-misses content
    hashing is blind to — at a fraction of MinHash's cost.

    Pure codegen'd expression (lower + two regexp_replace) — runs at
    scan speed, no shuffle of its own; the regexes use only character
    classes so Spark (Java regex) and the DuckDB oracle ('g' flag)
    agree byte-for-byte.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def token_count(text_col="text") -> Column:
    """Whitespace token count (the BPE-ish regex variant below)."""
    return F.size(tokens(text_col)).cast("bigint")


def stopword_ratio(text_col="text", stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords — integer counts divided
    once, so bit-identical across engines."""
    sw = stopwords or LANG_STOPWORDS["en"]
    toks = tokens(text_col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return (n_stop / F.greatest(F.size(toks), F.lit(1))).cast("double")


def mean_token_len(text_col="text") -> Column:
    toks = tokens(text_col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return (total / F.greatest(F.size(toks), F.lit(1))).cast("double")


def lang_id(text_col="text") -> Column:
    """Stopword-profile language ID: argmax over per-language stopword
    hit counts, 'und' (undetermined) when no profile hits."""
    toks = tokens(text_col)

    def hits(sw: list[str]):
        # factory closure: PySpark lambda introspection requires the
        # higher-order lambda to take exactly the element parameter
        return F.size(F.filter(toks, lambda t: t.isin(*sw)))

    scores = [(lang, hits(sw)) for lang, sw in LANG_STOPWORDS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so earlier languages win ties (stable priority order)
    for lang, s in reversed(scores):
        out = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def fingerprint_portable(text_col="text", modulus: int = (1 << 31) - 1, base: int = 257) -> Column:
    """Polynomial rolling hash over tokens (order-sensitive document
    fingerprint): fp = sum(base^i * h(tok_i)) mod p, folded
    sequentially with aggregate() -> deterministic. The token hash is
    expressible in plain SQL, so an oracle can re-derive it: h(tok) =
    ascii(first)*96031 + ascii(last)*1299709 + length(tok)*2654435761,
    all mod p. The modulus is Mersenne 2^31-1, so acc*base + h stays
    well inside int64 (no ANSI overflow)."""
    toks = tokens(text_col)
    tok_h = lambda t: (  # noqa: E731
        F.ascii(t.substr(F.lit(1), F.lit(1))) * F.lit(96031)
        + F.ascii(t.substr(F.length(t), F.lit(1))) * F.lit(1299709)
        + F.length(t) * F.lit(2654435761)
    ) % F.lit(modulus)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + tok_h(t)) % F.lit(modulus),
    ).cast("long")


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher/RefinedWeb-style quality filters)
# ---------------------------------------------------------------------------


def repeated_line_ratio(text_col="text") -> Column:
    """Fraction of non-empty lines that are duplicates of an earlier
    line (0.0 for docs with <=1 line). Boilerplate-heavy pages score
    high; the classic cheap pre-filter before any cross-doc dedup.
    Pure column expression — codegen'd, scan-speed."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    lines = F.filter(F.split(c, "\n"), lambda ln: F.trim(ln) != "")
    n = F.size(lines)
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(lines))) / n.cast("double")
    )


def top_ngram_fraction(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Per-document fraction of n-gram occurrences taken by the single
    most frequent n-gram — near 1.0 flags degenerate repetition loops.

    Explode-based (the shape that scales): one shuffle on
    (doc, xxhash64(gram)) with map-side partial counts — the wide gram
    string never rides the shuffle — then a per-doc max/sum. Output:
    (doc, top_ngram_frac); docs with no n-grams are absent.
    """
    grams = F.transform(positional_grams(tokens(text_col), n), lambda g: F.xxhash64(g))
    exploded = df.select(F.col(id_col).alias("doc"), F.explode(grams).alias("g"))
    counts = exploded.groupBy("doc", "g").agg(F.count("*").alias("c"))
    return counts.groupBy("doc").agg(
        (F.max("c") / F.sum("c")).cast("double").alias("top_ngram_frac")
    )


def build_vocabulary(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Corpus vocabulary with stable integer ids — the tokenizer-prep
    step of a pretraining pipeline (term tables, frequency cutoffs,
    id assignment all come from exactly this frame).

    Output: (term, term_id, n_docs, n_occurrences) with term_id dense
    0-based ids in (n_occurrences desc, term) order — the standard
    frequency-sorted layout, made deterministic by the lexicographic
    tie-break.

    Scale shape: explode + ONE term-keyed aggregate carries the whole
    corpus (map-side partial counts collapse each partition's token
    stream before the shuffle; distinct doc-counts ride the same agg).
    The id-assigning global window sorts only the SURVIVING vocabulary
    — Zipf guarantees that is orders of magnitude smaller than the
    token stream, and the min_count filter is applied before the sort.
    """
    toks = df.select(
        F.col(id_col).alias("__doc"), F.explode(tokens(text_col)).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("__doc").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("term"))
    return vocab.select(
        "term",
        (F.row_number().over(w) - 1).alias("term_id"),
        "n_docs",
        "n_occurrences",
    )


def encode_with_vocabulary(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_id: int = -1,
) -> DataFrame:
    """Encode each document as an array of vocabulary term ids (order
    preserving; out-of-vocabulary tokens become ``oov_id``) — the step
    that turns a curated corpus into model-ready id sequences.

    Scale shape: positional explode + ONE broadcast join against the
    vocabulary (Zipf-small by construction), then re-assembly keyed on
    the document — a single doc-keyed shuffle. Order is restored by
    sorting the collected (pos, id) structs per document, never by a
    global sort. Zero-token documents (empty/whitespace-only text)
    vanish in the explode, so the reassembled frame is left-joined
    back onto the full input id set and coalesced to an empty array —
    every input document yields exactly one output row.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    joined = toks.join(
        F.broadcast(vocab.select("term", "term_id")), "term", "left"
    ).select(
        id_col,
        "pos",
        F.coalesce(F.col("term_id").cast("int"), F.lit(oov_id)).alias("tid"),
    )
    encoded = joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s.tid
        ).alias("token_ids")
    )
    return (
        df.select(id_col)
        .join(encoded, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("token_ids"), F.array().cast("array<int>")
            ).alias("token_ids"),
        )
    )


def remove_common_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_seg: int = 8,
    max_df: int = 1,
) -> DataFrame:
    """Cross-corpus segment dedup (the C4/CCNet "remove any line that
    repeats across the corpus" cleaning rule, generalized to fixed
    ``words_per_seg``-word windows for corpora without line structure):
    every segment appearing in more than ``max_df`` distinct documents
    is boilerplate — navigation chrome, license headers, templated
    spam — and is removed from EVERY document; survivors are
    reassembled in original order.

    Output: (doc, clean_text, n_kept, n_removed) for every input doc
    (fully-boilerplate docs survive with empty text, so the caller
    decides the drop policy).

    Scale shape: segmentation is row-local (slice + concat_ws over the
    token array, no shuffle); the document-frequency pass is one
    map-side-combined count per segment; removal is a broadcast-able
    anti-join of the segment stream against the (small) boilerplate
    set; reassembly groups by doc with an array_sort on (idx, seg)
    structs — order restored without a window. At web scale, key the
    df-count and anti-join on xxhash64(seg) like hashed_shingles so
    the shuffles carry 8 bytes, and hold ``max_df`` as a fraction of
    corpus size rather than an absolute count.
    """
    toks = tokens(text_col)
    n_seg = F.ceil(F.size(toks) / F.lit(float(words_per_seg))).cast("int")
    idx = F.when(F.size(toks) > 0, F.sequence(F.lit(0), n_seg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    segs = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i * words_per_seg + 1, words_per_seg)),
    )
    exploded = df.select(
        F.col(id_col).alias("doc"), F.posexplode(segs).alias("seg_idx", "seg")
    )
    boilerplate = (
        exploded.groupBy("seg")
        .agg(F.count_distinct("doc").alias("seg_docs"))
        .filter(F.col("seg_docs") > max_df)
        .select("seg")
    )
    kept = exploded.join(boilerplate, "seg", "left_anti")
    reassembled = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))), lambda s: s.seg
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = df.select(F.col(id_col).alias("doc"), n_seg.cast("long").alias("__n_seg"))
    return totals.join(reassembled, "doc", "left").select(
        "doc",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("__n_seg") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram language model — the classic cheap perplexity proxy
    (KenLM-style LM filtering's first rung): documents whose tokens are
    globally improbable (gibberish, encoding damage, wrong language)
    score far below fluent text and get cut at a percentile.

    Output: (doc, n_tokens, avg_logprob), every input doc.

    Determinism: each token's ln(count/N) rounds to 6dp and lands in
    DECIMAL(18,6) BEFORE the per-doc sum — ln is faithfully- but not
    correctly-rounded libm in every engine, and a double sum would
    also be merge-order-dependent; decimal addition is exact and
    associative, so the per-doc total is bit-stable anywhere.

    Scale shape: token explode -> one combined count per term (the
    unigram LM itself, reusable), 1-row total broadcast, token stream
    joins the LM on the term key (at web scale: 8-byte-hash the term
    first), one per-doc sum. No windows, no driver-side state.
    """
    toks = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok"))
    # the LM is reused (scalar total + per-token join), so cache it;
    # the corpus token total is the one driver-visible scalar, folded
    # into the score expression as a literal so the per-row path stays
    # join-free (a 1-row-frame attach compiles to the nested-loop join
    # class the plan guard bans).
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt")).cache()
    n = vocab.agg(F.sum("cnt").alias("n")).first()["n"]
    lp = toks.join(vocab, "tok").select(
        "doc",
        F.round(F.log(F.col("cnt").cast("double") / F.lit(n)), 6)
        .cast("decimal(18,6)")
        .alias("lp"),
    )
    return lp.groupBy("doc").agg(
        F.count("*").alias("n_tokens"),
        F.round((F.sum("lp").cast("double") / F.count("*")), 6).alias("avg_logprob"),
    )


def tfidf_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF —
    the standard corpus-exploration / weak-labeling primitive ("what
    is this doc about") and the per-doc counterpart of BM25's
    per-query ranking.

    score(doc, t) = tf(doc, t) * ROUND(ln((N + 1) / (df(t) + 1)), 6);
    ties rank alphabetically, so output is a pure function of the
    corpus. Output: (doc, term, rank 1..k, score).

    Scale shape: one explode into a (doc, term)-keyed count (map-side
    combined), term document-frequencies aggregated FROM that tf frame
    (no second corpus scan), idf joined back on the term key, and the
    top-k window partitions by doc — millions of tiny partitions, the
    shape window functions scale on. N is a driver scalar folded into
    codegen (see unigram_logprob).
    """
    from pyspark.sql import Window

    n_docs = df.select(F.col(id_col)).distinct().count()
    tf = (
        df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = tf.groupBy("term").agg(
        F.round(F.log(F.lit(float(n_docs + 1)) / (F.count("*") + F.lit(1))), 6).alias("idf")
    )
    scored = tf.join(idf, "term").select(
        "doc", "term", F.round(F.col("tf") * F.col("idf"), 6).alias("score")
    )
    w = Window.partitionBy("doc").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc", "term", "rank", "score")
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Corpus-wide adjacent token-pair frequencies — the counting step
    of one BPE/WordPiece merge round (the most-frequent pair is the
    next merge rule). Complements build_vocabulary (unigram counts)
    with the bigram statistics a tokenizer trainer actually iterates
    on.

    Pairs are built row-locally with array ops (slice + transform —
    zero Python, zero shuffle), then counted in ONE pair-keyed hash
    aggregate with map-side combine: corpus-size input, |distinct
    pairs| output. The top-n is orderBy+limit — TakeOrderedAndProject,
    a per-partition heap + driver merge, never a global sort. Ties
    break (count desc, pair_a, pair_b) so the output is a pure
    function of the corpus.

    Output: (pair_a, pair_b, n) — the ``top_n`` most frequent
    adjacent pairs.
    """
    if top_n < 1:
        raise ValueError(f"bpe_pair_counts requires top_n >= 1, got {top_n}")
    t = tokens(text_col)
    pairs = (
        df.select(t.alias("t"))
        .filter(F.size("t") >= 2)
        # 0-based SQL subscripts; size>=2 guard keeps sequence ascending
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> struct(t[i] AS pair_a, t[i+1] AS pair_b))")
            ).alias("p")
        )
        .select("p.pair_a", "p.pair_b")
    )
    return (
        pairs.groupBy("pair_a", "pair_b")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair_a"), F.asc("pair_b"))
        .limit(top_n)
    )


def sequence_packing_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    capacity: int = 512,
) -> DataFrame:
    """Concat-and-chunk sequence packing accounting, per group: lay
    the group's documents end-to-end in deterministic (id) order and
    cut fixed ``capacity``-token training blocks (the GPT-style
    packing that precedes every pretraining run), reporting how many
    blocks the group yields, the padding waste in the final block, and
    how many documents straddle a block boundary (the docs whose
    attention span a block cut truncates).

    Everything is integer arithmetic on token counts — exact on any
    engine. The only shuffle is the group-partitioned window (cumsum
    in (group, id) order) feeding one group-keyed aggregate. Window
    partitions = groups, so a 100 TB run shards the group key first
    (e.g. (lang, file_shard)) exactly like the production packer that
    writes one block file per shard; pass that composite as
    ``group_col``.

    Output per group: (group, n_docs, total_tokens, n_blocks,
    waste_tokens, n_boundary_docs, pack_efficiency).
    """
    if capacity < 1:
        raise ValueError(f"sequence_packing_stats requires capacity >= 1, got {capacity}")
    c = capacity
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        token_count(text_col).alias("n_tok"),
    )
    w = Window.partitionBy("grp").orderBy("id")
    cum = base.withColumn("cum", F.sum("n_tok").over(w)).withColumn(
        "start", F.col("cum") - F.col("n_tok")
    )
    # a doc straddles a boundary iff its first and last token land in
    # different blocks; all operands are >= 0, so truncating DIV ==
    # floor division on every engine
    boundary = F.expr(f"CAST(n_tok > 0 AND (cum - 1) DIV {c} > start DIV {c} AS INT)")
    agg = cum.groupBy(F.col("grp").alias(group_col)).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.expr(f"CAST((sum(n_tok) + {c - 1}) DIV {c} AS BIGINT)").alias("n_blocks"),
        F.expr(
            f"CAST((sum(n_tok) + {c - 1}) DIV {c} * {c} - sum(n_tok) AS BIGINT)"
        ).alias("waste_tokens"),
        F.sum(boundary).cast("bigint").alias("n_boundary_docs"),
    )
    return agg.withColumn(
        "pack_efficiency",
        F.when(F.col("total_tokens") == 0, F.lit(1.0)).otherwise(
            F.round(
                F.col("total_tokens").cast("double") / (F.col("n_blocks") * c),
                6,
            )
        ).cast("double"),
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram conditional log-probability under the
    corpus's own add-1-smoothed bigram LM — the second rung of the
    CCNet-style perplexity ladder above unigram_logprob: a document of
    individually common words in implausible ORDER (shuffled text,
    spam keyword salads, bad OCR joins) scores far below fluent prose
    that a unigram model cannot distinguish.

    lp(w_i | w_{i-1}) = ln((c(w_{i-1} w_i) + 1) / (c(w_{i-1}·) + V)),
    with c(w·) = occurrences of w as a bigram head (= Σ_y c(w y)) and
    V = |corpus vocabulary| for the add-1 mass. Output: (doc,
    n_bigrams, avg_logprob) for every document with >= 2 tokens.

    Determinism: the unigram_logprob recipe — exact bigint counts feed
    ONE double division and ONE ln, rounded 6dp into DECIMAL(18,6)
    BEFORE the per-doc sum (ln is faithfully- but not correctly-
    rounded libm everywhere; decimal addition is exact and
    associative, so the holistic per-doc total is bit-stable).

    Scale shape: bigrams are built row-locally with array ops (the
    bpe_pair_counts slice — zero shuffle), counted once in a
    map-side-combined (a, b) agg; the context counts derive from THAT
    aggregate (Σ over its rows, never a second corpus pass), join the
    bigram model on its own small key space, and only then does the
    corpus-size bigram stream join the enriched model on (a, b). V is
    a driver scalar folded into the score as a codegen literal — no
    1-row-frame attach (the BNLJ class the plan guard bans).
    """
    t = tokens(text_col)
    bg = (
        df.select(F.col(id_col).alias("doc"), t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc",
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> struct(t[i] AS a, t[i+1] AS b))")
            ).alias("p"),
        )
        .select("doc", "p.a", "p.b")
    )
    # the bigram stream is read twice (model counts + scoring join);
    # uncached, the tokenize/explode scan would run twice
    bg = bg.cache()
    counts = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ctx = counts.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vocab_size = (
        df.select(F.explode(t).alias("tok")).select("tok").distinct().count()
    )
    model = counts.join(ctx, "a").select("a", "b", "c_ab", "c_a")
    lp = bg.join(model, ["a", "b"]).select(
        "doc",
        F.round(
            F.log(
                (F.col("c_ab") + F.lit(1)).cast("double")
                / (F.col("c_a") + F.lit(vocab_size)).cast("double")
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lp"),
    )
    # the final mean is deliberately UNROUNDED (unlike unigram_logprob
    # — the e27 lesson): both operands are exactly representable (a
    # DECIMAL(18,6) sum cast to double, a bigint count), so the IEEE
    # quotient is bit-identical in any engine, whereas ROUND(q, 6) can
    # diverge when q lands on a half-tie (observed at sf0.1: Spark's
    # HALF_UP vs the oracle on -3.3883295).
    return lp.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("lp").cast("double") / F.count(F.lit(1))).alias("avg_logprob"),
    )


PMI_EXPR = (
    "ROUND(ln(CAST(c_xy AS DOUBLE) * CAST({n} AS DOUBLE)"
    " / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))), 6) AS pmi"
)


def pmi_cooccurrence(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    max_df: int = 1000,
    min_pair: int = 3,
) -> DataFrame:
    """Document-level pointwise mutual information of token pairs —
    the collocation/phrase detector: PMI = ln(P(x,y) / (P(x)P(y)))
    over document co-occurrence, positive when two tokens appear
    together far more than chance.

    Returns (tok_x, tok_y, c_xy, c_x, c_y, pmi) for ordered pairs
    tok_x < tok_y with co-occurrence >= ``min_pair``, counting each
    token at most once per document. PMI follows the t17 ln recipe:
    exact bigint counts cast to double feed ONE ln whose input bits
    match in any engine, rounded 6dp.

    Scale shape — the Σdf² cap is the WHOLE design (the d03 lesson):
    the per-document pair expansion is quadratic in a document's
    distinct eligible tokens, so eligibility is gated by a
    df ∈ [min_df, max_df] vocabulary BEFORE pairing — min_df kills
    the long tail that can't reach min_pair anyway, max_df kills the
    stop-token heads whose pairs dominate Σdf² while carrying ~zero
    PMI. The vocabulary is one term-keyed count broadcast back as a
    semi-join; pairs then group map-side on (x, y). N_docs is folded
    into the PMI expression as a codegen literal (g01's scalar-fold
    pattern), so no 1-row frame ever joins the pair aggregate.
    """
    if not (0 < min_df <= max_df) or min_pair < 1:
        raise ValueError(
            f"need 0 < min_df <= max_df and min_pair >= 1,"
            f" got {min_df}, {max_df}, {min_pair}"
        )
    n_docs = df.select(id_col).distinct().count()
    toks = (
        df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok"))
        .distinct()
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )
    eligible = toks.join(F.broadcast(vocab), "tok").select("doc", "tok", "df")
    left = eligible.select("doc", F.col("tok").alias("tok_x"), F.col("df").alias("c_x"))
    right = eligible.select("doc", F.col("tok").alias("tok_y"), F.col("df").alias("c_y"))
    pairs = (
        left.join(right, "doc")
        .filter(F.col("tok_x") < F.col("tok_y"))
        .groupBy("tok_x", "tok_y", "c_x", "c_y")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_pair)
    )
    return pairs.selectExpr(
        "tok_x", "tok_y", "c_xy", "c_x", "c_y", PMI_EXPR.format(n=n_docs)
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the
    quality signal that flags BOTH failure modes the token filters
    miss: near-zero entropy (repeated-character padding, boilerplate
    runs) and abnormally high entropy (binary spill, encoding damage,
    minified blobs) relative to the language's natural ~2.5-3.5 nats.

    Output: (doc, n_chars, n_unique_chars, entropy), one row per
    non-empty document.

    Determinism: each character's -p·ln(p) term rounds to 6dp and
    lands in DECIMAL(18,6) BEFORE the per-doc sum (the unigram_logprob
    recipe — ln is faithfully-rounded libm everywhere, and decimal
    addition is exact and associative where a double sum is
    merge-order-dependent).

    Scale shape: the character explode collapses in the map-side
    partial agg keyed on (doc, char) — the one shuffle carries at most
    |docs| × |alphabet| count rows (~100 per doc), never the exploded
    character stream; the final per-doc sum rides the same doc-keyed
    exchange. No joins, no windows, no Python.
    """
    chars = df.select(
        F.col(id_col).alias("doc"),
        F.length(text_col).cast("bigint").alias("n_chars"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc", "n_chars", "ch").agg(F.count(F.lit(1)).alias("c"))
    p = F.col("c").cast("double") / F.col("n_chars").cast("double")
    term = F.round(-(p * F.log(p)), 6).cast("decimal(18,6)")
    return (
        counts.select("doc", "n_chars", term.alias("t"))
        .groupBy("doc", "n_chars")
        .agg(
            F.count(F.lit(1)).alias("n_unique_chars"),
            F.sum("t").cast("double").alias("entropy"),
        )
    )


def dsir_logratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_col: str = "is_target",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR) score: each
    document's mean per-token log-likelihood RATIO between a
    target-domain unigram LM and the background (whole-corpus) LM —
    the published recipe (Xie et al. 2023) for selecting web documents
    that "look like" a high-quality target set. Documents scoring > 0
    are more target-like than background-like; selection takes the
    top fraction (or Gumbel-resamples on the score).

    ``target_col`` is a boolean column marking the target exemplars;
    both LMs are add-1 smoothed over the shared background vocabulary
    (every token appears in the background by construction, so there
    is no OOV path).

    Output: (doc, n_tokens, dsir_score) for EVERY document.

    Determinism: both ln terms round to 6dp and subtract in exact
    DECIMAL per token before the per-doc sum (the t17 recipe); LM
    totals (N_t, N_b, V) fold in as literals.

    Scale shape: two map-side-combined token-count aggregates build
    both LMs (the target one over the filtered slice); per-token
    weights join the token stream on the term key exactly like t17;
    one per-doc sum. The weight table is vocabulary-sized — at web
    scale it broadcasts.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.col(target_col).cast("boolean").alias("tgt"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    lm = (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("cb"),
            F.count(F.when(F.col("tgt"), 1)).alias("ct"),
        )
        .cache()
    )
    tot = lm.agg(
        F.sum("cb").alias("nb"), F.sum("ct").alias("nt"), F.count(F.lit(1)).alias("v")
    ).first()
    nb, nt, v = tot["nb"], tot["nt"], tot["v"]
    if not nt:
        raise ValueError("target slice is empty — no target LM to fit")
    lt = F.round(F.log((F.col("ct") + 1).cast("double") / F.lit(float(nt + v))), 6).cast(
        "decimal(18,6)"
    )
    lb = F.round(F.log((F.col("cb") + 1).cast("double") / F.lit(float(nb + v))), 6).cast(
        "decimal(18,6)"
    )
    weights = lm.select("tok", (lt - lb).alias("w"))
    scored = toks.join(weights, "tok")
    # final mean deliberately UNROUNDED: the numerator is an exact
    # decimal sum and the denominator an exact bigint, so the single
    # double division is bit-stable in any engine — whereas ROUND(q, 6)
    # diverges when q sits on a half-tie (the t22 lesson; observed
    # here at sf0.1 before this fix).
    return scored.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("w").cast("double") / F.count(F.lit(1))).alias("dsir_score"),
    )


def repetition_profile(text_col="text", n: int = 3) -> Column:
    """Gopher-style intra-document repetition profile (Rae et al. 2021
    §A1.1: "fraction of duplicate n-grams"): over the document's token
    n-gram OCCURRENCE stream, the share of occurrences whose n-gram
    appears more than once in the same document. Copy-paste loops and
    templated boilerplate score near 1.0; natural prose near 0.0.

    Returns a struct column (n_grams, n_distinct, dup_frac) computed
    entirely ROW-LOCALLY — array ops in a single scan stage, zero
    shuffles (plan-asserted: no Exchange), so at 100 TB it runs at parquet scan speed and composes
    with any downstream filter as a pushed predicate. (Contrast
    top_ngram_fraction, which needs the per-gram counts and therefore
    one doc-keyed shuffle.)

    Reference scope note: sdiehl/kaylee (server.py word-count pipeline)
    has no document-quality surface; this extends the engine for
    LLM-corpus curation.
    """
    grams = positional_grams(tokens(text_col), n)
    total = F.size(grams).cast("bigint")
    distinct = F.size(F.array_distinct(grams)).cast("bigint")
    # deliberately UNROUNDED: bigint/bigint IEEE division is exactly
    # rounded, hence bit-identical in any engine (the d03 recipe),
    # while ROUND(q, 6) can diverge on half-ties (the t22 lesson)
    dup_frac = F.when(total > 0, (total - distinct) / total).otherwise(
        F.lit(None).cast("double")
    )
    return F.struct(
        total.alias("n_grams"), distinct.alias("n_distinct"), dup_frac.alias("dup_frac")
    )


def shard_manifest(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_shards: int = 16,
) -> DataFrame:
    """Deterministic shard assignment + writer manifest — the
    accounting a training-corpus writer emits alongside the shards:
    each document lands in shard ``portable_bucket(id) % n_shards``
    (a pure-integer hash any engine replays, so shard membership is
    externally auditable), and the manifest reports per shard the doc
    count, exact token and character totals, and the id range.

    Output: (shard, n_docs, total_tokens, total_chars, min_doc,
    max_doc) — one row per non-empty shard.

    Scale shape: assignment is a codegen'd integer expression at scan
    speed; the manifest is ONE map-side-combined aggregate over
    n_shards groups (six mergeable scalars per shard). The real
    writer pairs this with DataFrameWriter.partitionBy(shard) so the
    manifest and the layout derive from the same expression.
    """
    from kaylee_spark.operators.sampling import portable_bucket

    shard = (portable_bucket(F.col(id_col)) % F.lit(n_shards)).alias("shard")
    return (
        df.select(
            shard,
            F.col(id_col).alias("doc"),
            token_count(text_col).alias("n_tok"),
            F.length(F.col(text_col)).cast("bigint").alias("n_chr"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chr").alias("total_chars"),
            F.min("doc").alias("min_doc"),
            F.max("doc").alias("max_doc"),
        )
    )


def with_repetition_profile(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """repetition_profile as a STAGED projection chain — the at-scale
    form. The single-Column form above embeds the tokenizer inside the
    per-position gram lambda, so Spark's interpreted HOF evaluator
    re-splits the document for EVERY position (O(tokens²) re-tokenize,
    measured 10x wall on ~sf1), and a consumer referencing dup_frac
    twice re-evaluates the whole pipeline again (CollapseProject
    inlines single-use expressions). Binding toks -> grams -> counts
    as real columns in SEPARATE projections evaluates each exactly
    once per row: Catalyst keeps the projections apart because each
    bound column is non-cheap and multi-referenced downstream.

    Adds (n_grams, n_distinct, dup_frac) to ``df``; same values as
    repetition_profile (property-tested equal).
    """
    toks = tokens(text_col)
    step1 = df.withColumn("__rp_toks", toks)
    t = F.col("__rp_toks")
    step2 = step1.withColumn("__rp_grams", positional_grams(t, n))
    g = F.col("__rp_grams")
    step3 = step2.withColumn("n_grams", F.size(g).cast("bigint")).withColumn(
        "n_distinct", F.size(F.array_distinct(g)).cast("bigint")
    )
    total, distinct = F.col("n_grams"), F.col("n_distinct")
    dup_frac = F.when(total > 0, (total - distinct) / total).otherwise(
        F.lit(None).cast("double")
    )
    return step3.withColumn("dup_frac", dup_frac).drop("__rp_toks", "__rp_grams")


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 5,
    batch_m: int = 1,
) -> DataFrame:
    """DISTRIBUTED BPE tokenizer-training loop — the iterative
    completion of bpe_pair_counts (which is one round's counting
    step): ``rounds`` merge rules learned corpus-wide, each round =
    count adjacent pairs -> take the most frequent (ties: pair_a,
    pair_b ascending — a pure function of the corpus) -> merge every
    non-overlapping occurrence left-to-right across the whole corpus.

    Wire format: each document's tokens joined by a TWO-SPACE
    separator into one string column. A merge is then ONE literal
    (non-regex) ``replace`` — string replace is left-to-right
    non-overlapping in both Spark and any ANSI engine, which is the
    equivalence that lets a SQL oracle replay the whole loop with
    REPLACE + re-split, round by round (t28's oracle unrolls it as
    chained CTEs, the g07 pattern). The match must be anchored to
    TOKEN boundaries, not raw substrings: the string is wrapped in
    single-space sentinels (s -> " "+s+" ") and the rule (a, b)
    replaces " a<2sp>b " with " ab " — every token occurrence is then
    flanked by at least one space on each side, so a rule (of, the)
    can never fire inside the token "thereof" ("thereof<2sp>the" has
    no space before "of"), while the two-space separator still leaves
    one space on each side after a match, so back-to-back occurrences
    (" a  b  a  b ") keep merging left-to-right. Sentinels are
    stripped (trim) before the next round's re-split.

    Per round: the pair count is row-local array zipping into ONE
    map-side-combined aggregate (corpus-sized input, |distinct pairs|
    output); each argmax is TakeOrdered(1) — a per-partition heap,
    never a global sort — folded into driver literals (the 1-row
    scalar-attach frame would compile to a BNLJ otherwise); the merge
    application is a narrow per-row string op, no shuffle. The corpus
    is localCheckpoint'ed each round so round k re-evaluates a bounded
    replace chain, not a k-deep lineage (the iterative-loop lesson).

    ``batch_m`` is the production rung for trainers doing thousands of
    merges: per round, the ONE pair count (cached) yields up to
    ``batch_m`` rules picked greedily in (n DESC, pair_a, pair_b)
    order subject to TOKEN-DISJOINTNESS — a candidate sharing pair_a
    or pair_b with an already-picked rule this round is skipped, so
    the batched replaces cannot interact (merging a disjoint rule
    neither creates nor destroys another rule's adjacencies, and the
    sentinel anchoring means its pattern cannot match inside the other
    rule's output). Training M rules then costs one corpus-count scan
    per M rules instead of one per rule; the recorded ``n`` for ranks
    >= 2 is the count observed in that round's scan (standard batched
    BPE semantics — the greedy ``batch_m=1`` sequence is recovered
    exactly when rules happen to be disjoint anyway).

    Returns (round, rank, pair_a, pair_b, merged, n) — the merge
    table, the artifact a BPE trainer actually ships; ``rank`` is the
    1..batch_m position within the round's batch. Stops early only if
    the corpus runs out of adjacent pairs entirely.
    """
    if rounds < 1:
        raise ValueError(f"bpe_train requires rounds >= 1, got {rounds}")
    if batch_m < 1:
        raise ValueError(f"bpe_train requires batch_m >= 1, got {batch_m}")
    SEP = "  "
    spark = df.sparkSession
    # NO fan_out on the corpus (measured 2.6 -> 3.5 s): each round is
    # several droplet-sized actions (pair count + argmaxes), and
    # 32-way stages multiply their scheduling floors past what the
    # parallel replace chain saves at fixture scale; real corpora
    # arrive wide and need no repartition
    corpus = (
        df.select(F.array_join(tokens(text_col), SEP).alias("s"))
        .filter(F.col("s") != "")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        t = F.split(F.col("s"), "  ")
        pair_counts = (
            corpus.select(t.alias("t"))
            .filter(F.size("t") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(t) - 2),"
                        " i -> struct(t[i] AS pair_a, t[i+1] AS pair_b))"
                    )
                ).alias("p")
            )
            .groupBy("p.pair_a", "p.pair_b")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        if batch_m > 1:
            # the M argmax passes share one materialization of the
            # (droplet-sized) pair table; released before the merge
            pair_counts = pair_counts.cache()
        used: list[str] = []
        selected: list[tuple[int, int, str, str, str, int]] = []
        for k in range(1, batch_m + 1):
            cand = pair_counts
            if used:
                cand = cand.filter(
                    ~F.col("pair_a").isin(used) & ~F.col("pair_b").isin(used)
                )
            top = (
                cand.orderBy(F.desc("n"), F.asc("pair_a"), F.asc("pair_b"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, n = top[0]["pair_a"], top[0]["pair_b"], int(top[0]["n"])
            selected.append((r, k, a, b, a + b, n))
            used.extend((a, b))
        if batch_m > 1:
            pair_counts.unpersist()
        if not selected:
            break
        merges.extend(selected)
        # pad with the single-space sentinels ONCE, chain the batch's
        # literal replaces in rank order, strip the sentinels once —
        # each match consumes one boundary space per side and puts one
        # back, so the padded invariant holds across the whole chain
        padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        for _r, _k, a, b, merged, _n in selected:
            padded = F.replace(
                padded, F.lit(f" {a}{SEP}{b} "), F.lit(f" {merged} ")
            )
        corpus = corpus.select(F.trim(padded).alias("s"))
        # the merge chain stays LAZY between rounds (r15): it is a
        # narrow row-local projection — no join/shuffle in the chain —
        # so round r's count re-applies the replaces of up to 8 rounds,
        # batch_m each (O(8·batch_m) literal replaces), over the
        # checkpointed base, which is cheaper than an eager
        # materialization job per round (write + read back the whole
        # corpus; measured at sf0.1, min of 5: the 5-round eval rung
        # 3.47 -> 3.12 s, the 2-round batched rung 2.32 -> 1.95 s).
        # The iterative-loop lineage lesson targets
        # shuffle-bearing loops, where replanning compounds — a
        # bounded projection chain does not. Every 8th round the chain
        # IS checkpointed, so plan depth and recompute stay
        # O(8·batch_m) however many rounds a production trainer runs
        # (batch_m is the real at-scale dial: M rules per corpus pass).
        if r % 8 == 0:
            corpus = corpus.localCheckpoint(eager=True)
    from kaylee_spark.functions import literal_frame

    # literal_frame, not createDataFrame: the learned merge table is
    # model state — no Python-worker scan for a few dozen rows
    return literal_frame(
        spark,
        merges,
        "round int, rank int, pair_a string, pair_b string, merged string, n bigint",
    )


def bpe_apply(
    df: DataFrame,
    merges,
    text_col: str = "text",
) -> DataFrame:
    """Apply a LEARNED merge table to a corpus — the inference half of
    the tokenizer lifecycle bpe_train is the training half of. Rules
    apply in learned order ((round, rank) ascending), each as the same
    sentinel-anchored literal replace the trainer used, so
    ``bpe_apply(corpus, bpe_train(corpus))`` reproduces the trainer's
    final corpus state exactly (property-tested).

    ``merges`` is the bpe_train result DataFrame (or any frame with
    round/rank/pair_a/pair_b/merged) — it is model state, a few
    hundred rows, so it folds into DRIVER LITERALS: the whole apply is
    ONE narrow per-row projection, no shuffle, no join, no Python. At
    100 TB this is the scale story: tokenizing with M learned merges
    is a scan-speed chained-replace (or, for production vocabularies
    of 32k+ rules, the same table fed to an Arrow-batched trie
    tokenizer — the plumbing is identical, the per-row kernel swaps).

    Adds ``bpe_tokens`` (the merged token array) and ``n_bpe_tokens``
    to ``df``; documents with no tokens get an empty array / 0.
    """
    rules = [
        (r["pair_a"], r["pair_b"], r["merged"])
        for r in merges.orderBy("round", "rank").collect()
    ]
    SEP = "  "
    joined = F.array_join(tokens(text_col), SEP)
    padded = F.concat(F.lit(" "), joined, F.lit(" "))
    for a, b, m in rules:
        padded = F.replace(padded, F.lit(f" {a}{SEP}{b} "), F.lit(f" {m} "))
    merged_str = F.trim(padded)
    toks = F.when(merged_str == "", F.array().cast("array<string>")).otherwise(
        F.split(merged_str, SEP)
    )
    return df.withColumn("bpe_tokens", toks).withColumn(
        "n_bpe_tokens", F.size("bpe_tokens").cast("bigint")
    )


#: shared Spark/DuckDB expression for the unigram-LM integer piece
#: score: quantized-ln Laplace-smoothed probability, in micro-nats.
#: ROUND(ln, 6) -> DECIMAL(18,6) is the proven t17 recipe (both
#: engines agree bit-for-bit); * 1e6 clears the fraction exactly, so
#: the final BIGINT cast is lossless on both engines.
UNIGRAM_SCORE_SQL = (
    "CAST(CAST(ROUND(ln(CAST(cnt + 1 AS DOUBLE) / CAST(total + v AS DOUBLE)), 6)"
    " AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
)


def unigram_viterbi(word: str, scores: dict, max_piece_len: int) -> list:
    """Best unigram-LM segmentation of ``word`` under integer piece
    scores: maximize total score, then fewer pieces, then the
    right-to-left-longest piece-length sequence. The tie-break chain
    is prefix-decomposable (an exchange argument: replacing a prefix
    with a strictly better one improves the whole chain), so this DP
    equals the enumerate-all-segmentations argmax the SQL oracle
    computes — two different algorithms, one contract.
    """
    n = len(word)
    # dp[j] = (score, -n_pieces, last_len, prev_index, piece) best at j
    dp = [None] * (n + 1)
    dp[0] = (0, 0, 0, -1, "")
    for j in range(1, n + 1):
        best = None
        for l in range(1, min(max_piece_len, j) + 1):
            piece = word[j - l : j]
            s = scores.get(piece)
            prev = dp[j - l]
            if s is None or prev is None:
                continue
            cand = (prev[0] + s, prev[1] - 1, l, j - l, piece)
            if best is None or cand[:3] > best[:3]:
                best = cand
        dp[j] = best
    if dp[n] is None:  # unreachable when every char is in the vocab
        return [word]
    out, j = [], n
    while j > 0:
        _, _, _, prev_i, piece = dp[j]
        out.append(piece)
        j = prev_i
    out.reverse()
    return out


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 2,
    seed_multi: int = 60,
    keep_multi: int = 40,
    max_piece_len: int = 4,
    max_word_len: int = 10,
) -> DataFrame:
    """Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer training
    — the OTHER dominant LLM tokenizer family, completing the t19/t28/
    t30/t31 BPE lifecycle: seed a substring vocabulary, then EM with
    the Viterbi approximation — E-step segments every word under the
    current piece scores and accumulates frequency-weighted piece
    counts, M-step re-scores from the counts, prune keeps the
    ``keep_multi`` best multi-char pieces (single chars are never
    pruned: coverage). All arithmetic is engine-portable: counts are
    exact integers, scores are quantized-ln micro-nats
    (UNIGRAM_SCORE_SQL, the t17 recipe), and the Viterbi tie-break
    (max score, fewer pieces, right-to-left-longest lengths) is a
    total order — so a SQL oracle can replay training EXACTLY, and it
    does so by ENUMERATING all segmentations per word (recursive CTE)
    instead of running this DP: engine and oracle agree on the
    contract, not on the algorithm (the t28 lesson).

    Scale shape (the s09/t28 iterative-loop discipline): the corpus
    collapses ONCE into the distinct-word frequency table (one
    shuffle; at 100 TB this is the standard compressed-corpus trick —
    SentencePiece itself trains on unique sentences with counts).
    Each EM round then costs ONE scan of that word table (row-local
    Arrow-batched Viterbi with the <=(seed_multi + alphabet)-row score
    dict broadcast in the UDF closure) plus one droplet-sized count
    aggregate and a bounded collect of the new scores — scans per
    round: 1, independent of rounds x vocab (the batched-BPE
    measurement's moral, inherited by construction).

    Returns the trained vocabulary: (piece, piece_len, n_uses) —
    n_uses is the final E-step's frequency-weighted usage count
    (0 for coverage-only chars the last Viterbi never used).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if rounds < 1:
        raise ValueError(f"unigram_train requires rounds >= 1, got {rounds}")
    spark = df.sparkSession
    # NO fan_out on the explode leg (measured +0.5 s at sf0.1): the
    # word-table groupBy right behind it already supplies the loop's
    # parallelism, so widening the scan only adds an exchange
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wf"))
        .localCheckpoint(eager=True)  # the compressed corpus: reused every round
    )
    # seed: every substring of length 1..max_piece_len, frequency-weighted
    subs = words.select(
        F.col("wf"),
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(w)), i ->"
                f" transform(sequence(i, least(i + {max_piece_len} - 1, length(w))),"
                f" j -> substring(w, i, j - i + 1))))"
            )
        ).alias("piece"),
    ).groupBy("piece").agg(F.sum("wf").alias("cnt"))
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(seed_multi)
    )
    vocab = chars.unionAll(multi).localCheckpoint(eager=True)
    char_set = chars.select("piece").localCheckpoint(eager=True)

    for _ in range(rounds):
        # M-step scores from current counts (bounded model state)
        totals = vocab.agg(
            F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("v")
        )
        score_rows = vocab.crossJoin(F.broadcast(totals)).selectExpr(
            "piece", f"{UNIGRAM_SCORE_SQL} AS s"
        ).collect()
        scores = {r["piece"]: int(r["s"]) for r in score_rows}

        def _seg(col):
            return col.map(lambda w: unigram_viterbi(w, scores, max_piece_len))

        # no annotations: pandas_udf resolves them eagerly and the
        # module uses lazy (string) annotations with a local pd import
        seg = pandas_udf(_seg, "array<string>")

        counts = (
            words.select("wf", F.explode(seg("w")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("wf").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        new_chars = char_set.join(counts, "piece", "left").select(
            "piece", F.coalesce("cnt", F.lit(0).cast("bigint")).alias("cnt")
        )
        new_multi = (
            counts.filter(F.length("piece") > 1)
            .orderBy(F.desc("cnt"), F.asc("piece"))
            .limit(keep_multi)
        )
        # vocab stays LAZY (r15): it is a droplet-sized join + top-k
        # over the ROUND-CHECKPOINTED counts (the heavy Viterbi pass
        # is materialized exactly once above), so re-deriving it per
        # consumer is cheaper than paying an eager materialization
        # job per round — the BPE lazy-chain argument; the chain
        # never deepens because counts re-anchors it each round.
        vocab = new_chars.unionAll(new_multi)

    return vocab.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        F.col("cnt").alias("n_uses"),
    )
