"""Text-analysis operators for large-scale training-data pipelines.

No counterpart in the reference (SURVEY.md section 2.1) — these are the
Stage-4 extensions (SURVEY.md section 7): token statistics, quality signals,
n-gram language ID, BPE-ish token counting, and winnowing document
fingerprints, all as pure JVM column expressions (builtin
``pyspark.sql.functions`` only — no Python UDFs anywhere, so every operator
stays inside whole-stage codegen and scales linearly with executors).

Scale design: everything is either per-row expression work (stats, lang-id,
token count — embarrassingly parallel, zero shuffle) or explode +
re-aggregate by doc_id (fingerprints), where the shuffle key is the doc id —
uniform by construction, no skew.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_mwu_spark.functions.hashing import PRIME_P, md5_long

# Deterministic per-language marker words for the n-gram/stopword heuristic.
# (The synthetic corpus shares one vocabulary across langs, so like any
# real-world heuristic this is best-effort — the operator contract is a
# deterministic score, validated exactly against the SQL oracle.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "row"),
    "fr": ("le", "la", "et", "vite"),
    "es": ("el", "los", "y", "datos"),
    "de": ("der", "die", "und", "schnell"),
}


def tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, word) — long token table via a single generator explode.

    posexplode is a flatMap in the scan stage: no shuffle, and Catalyst still
    prunes/pushes filters on doc columns.
    """
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )


def adjacent_bigrams(
    docs: DataFrame, *, with_doc_id: bool = True, with_pos: bool = True
) -> DataFrame:
    """(doc_id?, pos?, w1, w2) for every adjacent whitespace-token pair —
    the shared bigram generator (round-7 review: this construction was
    copy-pasted across the LM score, PMI, TextRank, and repetition
    operators; one implementation means a slice-edge fix cannot diverge).

    Bigrams come straight from the token ARRAY (zipped with its own
    shift) — a scan-stage generator like ``tokens()``, never a lead()
    window: the window form costs a full (doc_id, pos) shuffle + per-doc
    sort before the bigram table even exists (~2x the operator's runtime
    at 1M docs, tools/scale_probe_curation.py)."""
    toks = F.split(F.col("text"), " ")
    zipped = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("a"),
        F.slice(toks, 2, F.size(toks) - 1).alias("b"),
    )
    lead = ["doc_id"] if with_doc_id else []
    if with_pos:
        gen = docs.select(*lead, F.posexplode(zipped).alias("pos", "z"))
        mid = ["pos"]
    else:
        gen = docs.select(*lead, F.explode(zipped).alias("z"))
        mid = []
    return gen.select(
        *lead, *mid, F.col("z.a").alias("w1"), F.col("z.b").alias("w2")
    )


def adjacent_trigrams(
    docs: DataFrame, *, with_doc_id: bool = True, with_pos: bool = True
) -> DataFrame:
    """(doc_id?, pos?, w1, w2, w3) for every adjacent whitespace-token
    triple — the :func:`adjacent_bigrams` construction extended one
    order (same scan-stage slice/zip generator, never a lead() window:
    the window form costs a (doc_id, pos) shuffle + per-doc sort before
    the trigram table exists).  Docs with < 3 tokens produce no rows."""
    toks = F.split(F.col("text"), " ")
    m = F.greatest(F.size(toks) - 2, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(toks, 1, m).alias("a"),
        F.slice(toks, 2, m).alias("b"),
        F.slice(toks, 3, m).alias("c"),
    )
    lead = ["doc_id"] if with_doc_id else []
    if with_pos:
        gen = docs.select(*lead, F.posexplode(zipped).alias("pos", "z"))
        mid = ["pos"]
    else:
        gen = docs.select(*lead, F.explode(zipped).alias("z"))
        mid = []
    return gen.select(
        *lead,
        *mid,
        F.col("z.a").alias("w1"),
        F.col("z.b").alias("w2"),
        F.col("z.c").alias("w3"),
    )


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-doc quality/statistics signals, pure expression work (no shuffle):
    char count, token count, distinct tokens, mean token length,
    type-token ratio.  Ratios rounded to 6 (float-division only)."""
    toks = F.split("text", " ")
    tok_lens = F.transform(toks, lambda x: F.length(x))
    sum_len = F.aggregate(tok_lens, F.lit(0), lambda acc, x: acc + x)
    n = F.size(toks)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        F.round(sum_len.cast("double") / n, 6).alias("avg_token_len"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / n, 6
        ).alias("type_token_ratio"),
    )


# flat deterministic stopword list for the quality heuristic (union of the
# language marker sets — deterministic, engine-agnostic)
STOPWORDS: tuple[str, ...] = tuple(
    w for markers in LANG_MARKERS.values() for w in markers
)


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-doc quality signals for corpus filtering — the classic cheap
    heuristics (Gopher/C4-style): length, stopword ratio, character-class
    ratios, and a composite [0,1] score. Pure per-row expression work
    (no shuffle, whole-stage codegen).

    The composite is a fixed affine blend — deliberately simple and
    deterministic so the DuckDB oracle reproduces it bit-for-bit:
    0.4·min(1, n_tokens/50) + 0.3·min(1, 5·stopword_ratio) + 0.3·(1−punct_ratio)
    """
    toks = F.split("text", " ")
    n = F.size(toks)
    n_chars = F.length("text")
    stop_cnt = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    # character-class COUNTS via translate (per-char map lookup), not
    # regexp_replace (regex engine + rewritten-string allocation per row):
    # same integers, ~2x less per-row cost at corpus scale
    # (tools/scale_probe_curation.py).  The DuckDB oracle keeps its
    # regexp_replace form — integer counts are method-independent.
    _alpha_chars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    _digit_chars = "0123456789"
    alpha = n_chars - F.length(F.translate("text", _alpha_chars, ""))
    digit = n_chars - F.length(F.translate("text", _digit_chars, ""))
    punct = F.length(F.translate("text", _alpha_chars + _digit_chars + " ", ""))
    stop_ratio = stop_cnt.cast("double") / n
    punct_ratio = punct.cast("double") / n_chars
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n.cast("double") / 50.0)
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stop_ratio)
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha.cast("double") / n_chars, 6).alias("alpha_ratio"),
        F.round(digit.cast("double") / n_chars, 6).alias("digit_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(quality, 6).alias("quality"),
    )


# PII patterns, restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB/Go): character classes, bounded repetition, and
# ASCII word boundaries only — no lookarounds, no backrefs.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_LONG_ID_RE = r"\b\d{7,}\b"


def redact_pii(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Redact emails, IPv4 addresses, and long digit runs (phone / account
    ids) from ``text_col``; adds ``clean_text`` plus per-doc match counts
    (``n_emails``, ``n_ips``, ``n_long_ids``, counted on the RAW text).

    Replacements run in a fixed order — email, then IPv4, then long-id —
    so the dotted digits inside an already-redacted email can't re-match
    as an IP.  Pure per-row regexp expression work: zero shuffle, stays in
    whole-stage codegen, and the regex subset is engine-portable (see
    pattern comment), so the DuckDB oracle applies the byte-identical
    patterns.  This is the standard pre-training scrub step (C4/RefinedWeb
    style); a production pipeline swaps in its compliance pattern pack via
    the same three-column contract.
    """
    t = F.col(text_col)
    clean = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, PII_IPV4_RE, "<IP>")
    clean = F.regexp_replace(clean, PII_LONG_ID_RE, "<ID>")
    return docs.withColumns(
        {
            "clean_text": clean,
            "n_emails": F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long"),
            "n_ips": F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long"),
            "n_long_ids": F.regexp_count(t, F.lit(PII_LONG_ID_RE)).cast("long"),
        }
    )


BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish token counting: alpha runs, digit runs, and isolated symbols —
    the pre-tokenization split GPT-style BPE applies before merges.  Counting
    only (no vocab), as a pipeline cost estimator."""
    matches = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(matches).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(matches)).cast("long").alias("n_uniq_bpe_tokens"),
    )


def lang_scores(docs: DataFrame) -> DataFrame:
    """Per-doc marker-stopword counts per language + argmax prediction.

    Marker counting via size(filter(tokens)) — single pass over the token
    array per language, all codegen.  Deterministic argmax tiebreak:
    en > fr > es > de > unknown order of the CASE chain.
    """
    toks = F.split("text", " ")

    def _marker_filter(markers: tuple[str, ...]):
        # single-arg lambda: a (w, ms=...) default would make F.filter treat
        # it as an (element, index) lambda
        return lambda w: w.isin(*markers)

    out = docs.select("doc_id", "lang", *[
        F.size(F.filter(toks, _marker_filter(markers)))
        .cast("long")
        .alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ])
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("unknown")).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def lang_confusion(docs: DataFrame) -> DataFrame:
    """(lang, pred_lang, n_docs) confusion matrix of the heuristic vs the
    ground-truth lang column — tiny aggregate."""
    return (
        lang_scores(docs)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def vocab_topk(docs: DataFrame, *, k: int = 20) -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent words by document
    frequency, with term and document counts. One explode + two
    aggregations; the word key is Zipf-skewed by nature, but the partial
    (map-side) aggregation absorbs the head before any shuffle.

    The global top-k is ``orderBy(...).limit(k)``, which Spark plans as
    ``TakeOrderedAndProject``: each partition keeps its own k best rows and
    the driver merges k·n_partitions candidates — no task ever sorts the
    full distinct-vocabulary table (10^8+ rows at corpus scale).  The rank
    column is derived *after* the limit, so its unpartitioned window only
    ever sees k rows.
    """
    order = [
        F.col("doc_freq").desc(),
        F.col("term_count").desc(),
        F.col("word").asc(),
    ]
    counts = (
        tokens(docs)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("term_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
    )
    top = counts.orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # k rows only — post-limit
    return top.select(
        "word", "term_count", "doc_freq", F.row_number().over(w).alias("rank")
    )


def ngram_topk(docs: DataFrame, *, n: int = 3, k: int = 20) -> DataFrame:
    """Corpus-level n-gram head: the ``k`` most frequent word ``n``-grams.
    N-grams come from a lead() window per doc (uniform doc_id key, one
    shuffle), counted with map-side partial aggregation, and the global
    top-k is ``orderBy().limit(k)`` — TakeOrderedAndProject, never a full
    sort of the (huge, Zipf-tailed) distinct n-gram table."""
    tok = tokens(docs)
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [F.lead("word", i).over(w) for i in range(1, n)]
    grams = tok.select(
        F.concat_ws(" ", *parts).alias("ngram"),
        parts[-1].alias("_last"),
    ).where(F.col("_last").isNotNull())
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    order = [F.col("n_occurrences").desc(), F.col("ngram").asc()]
    top = counts.orderBy(*order).limit(k)
    wr = Window.orderBy(*order)  # k rows only — post-limit
    return top.select(
        "ngram", "n_occurrences", F.row_number().over(wr).alias("rank")
    )


def chunk_documents(
    docs: DataFrame, *, chunk_tokens: int = 32, overlap: int = 8
) -> DataFrame:
    """RAG-style sliding-window chunking: split each doc into windows of
    ``chunk_tokens`` whitespace tokens with ``overlap`` tokens of overlap
    (stride = chunk_tokens - overlap); the last window may be short.
    Output (doc_id, chunk_id, chunk_start, n_chunk_tokens, chunk_text).

    Pure generator explode in the scan stage — ``sequence`` builds the
    window starts per row and ``slice`` cuts each window out of the
    already-split token array, so chunking is zero-shuffle and scales
    like the scan itself.  Deterministic in (text, chunk_tokens, overlap).

    A window start s > 0 is generated only while s <= n_tokens - overlap
    - 1, i.e. the window contains at least one token beyond the previous
    window's coverage (round-7 review fix: the old bound n_tokens - 1
    emitted a trailing chunk FULLY CONTAINED in its predecessor whenever
    n_tokens fell in (m*stride, m*stride + overlap] — pure duplicate
    content inflating any downstream index).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - overlap - 1, F.lit(0)),
        F.lit(stride),
    )
    return (
        docs.select(
            "doc_id", toks.alias("_toks"), F.explode(starts).alias("chunk_start")
        )
        .select(
            "doc_id",
            (F.col("chunk_start") / stride).cast("long").alias("chunk_id"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.size(F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens))
            .cast("long")
            .alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        )
    )


def build_vocab(docs: DataFrame, *, max_size: int = 1000) -> DataFrame:
    """Frequency-ordered token vocabulary: (word, token_id, term_count)
    with ids 0..max_size-1 assigned by (count desc, word asc).

    The head selection is ``orderBy().limit(max_size)`` —
    TakeOrderedAndProject over the distinct-term table, never a global
    sort.  The id-assigning row_number window IS unpartitioned, but it
    runs on the post-limit table, which is bounded by ``max_size`` (a
    model-vocabulary constant, 32k-256k) — bounded-input global windows
    are fine; unbounded ones are the scale-killer.
    """
    counts = tokens(docs).groupBy("word").agg(
        F.count(F.lit(1)).alias("term_count")
    )
    order = [F.col("term_count").desc(), F.col("word").asc()]
    top = counts.orderBy(*order).limit(max_size)
    w = Window.orderBy(*order)  # <= max_size rows — post-limit
    return top.select(
        "word", (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        "term_count",
    )


OOV_ID = -1


def tokenize_ids(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Map each document to its token-id sequence under ``vocab``
    (build_vocab output): long form (doc_id, pos, token_id), OOV -> -1.

    The vocab is broadcast (bounded by max_size, a few MB at most) so the
    token stream never shuffles on the Zipf-skewed word key — the classic
    dictionary-encode join done the only way that survives corpus scale.
    Long form keeps downstream consumers (packing, filtering, statistics)
    in DataFrame algebra; ``groupBy(doc_id).agg(array_sort+collect)``
    re-assembles arrays when a consumer needs them.
    """
    return (
        tokens(docs)
        .join(F.broadcast(vocab.select("word", "token_id")), on="word", how="left")
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.coalesce("token_id", F.lit(OOV_ID)).cast("long").alias("token_id"),
        )
    )


def tfidf_top_terms(docs: DataFrame, *, k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-IDF (ln-idf, raw term frequency):
    tfidf = tf * ln(N / df). The classic sparse feature extraction,
    entirely as DataFrame algebra: token explode → (doc, word) counts →
    word document frequencies → join → per-doc top-k window. Rounded to 6
    (float division/log); ties broken by word for determinism."""
    tok = tokens(docs)
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("doc_id", "word", "tf", "df", "tfidf")
    )


def cardinality_by_source(docs: DataFrame, *, rsd: float = 0.02) -> DataFrame:
    """Per-source corpus cardinality: exact distinct vs HyperLogLog++ sketch
    (``approx_count_distinct``). At 100 TB the exact count is a full shuffle
    of every distinct value; the HLL sketch is a few KB per group and
    mergeable across partitions — the scale path for corpus accounting.
    Sketch estimates are engine-specific, so this query is registered
    rows-only (no DuckDB hash oracle); the pytest gate asserts the estimate
    is within 3*rsd of exact."""
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("uniq_exact"),
        F.approx_count_distinct("text", rsd).alias("uniq_approx"),
    )


def winnow_fingerprints(
    docs: DataFrame, *, k: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every k-gram, keep the minimum in each sliding window of ``window``
    consecutive k-grams, dedupe — the classic local fingerprinting scheme
    whose guarantee is that any shared substring of length k+window-1 yields
    a shared fingerprint.

    Returns per-doc aggregates (n_fingerprints, min_fp, fp_checksum) —
    one row per document that has at least one k-gram (docs shorter than
    ``k`` have nothing to fingerprint and are absent).  The explode is
    k-gram positions (~n_chars rows), re-aggregated by doc_id — uniform
    shuffle key.

    Only FULL windows select fingerprints (round-7 review fix: the
    shrinking trailing frames of ``rowsBetween(current, window-1)``
    previously emitted mins of partial windows — hashes Schleimer
    winnowing never selects, inflating n_fingerprints and cross-doc
    false positives).  A doc with fewer than ``window`` k-grams keeps
    the min over all its grams (one partial window is the whole doc —
    winnowing's short-input convention, at least one fingerprint).
    """
    pos = F.explode(F.sequence(F.lit(1), F.length("text") - (k - 1))).alias("pos")
    grams = docs.where(F.length("text") >= k).select(
        "doc_id",
        pos,
        F.col("text"),
        (F.length("text") - (k - 1)).alias("n_grams"),
    )
    grams = grams.select(
        "doc_id",
        "pos",
        "n_grams",
        (md5_long(F.expr(f"substring(text, pos, {k})")) % F.lit(PRIME_P)).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    fps = (
        grams.select(
            "doc_id", "pos", "n_grams", F.min("h").over(w).alias("fp")
        )
        .where(
            F.col("pos")
            <= F.greatest(F.col("n_grams") - (window - 1), F.lit(1))
        )
        .select("doc_id", "fp")
        .distinct()
    )
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        (F.sum("fp") % F.lit(PRIME_P)).alias("fp_checksum"),
    )


def heavy_hitters(docs: DataFrame, *, theta: float = 0.001) -> DataFrame:
    """All words with corpus frequency >= theta * total_tokens, with EXACT
    counts — found WITHOUT ever shuffling the full vocabulary:
    ``(word, n_occurrences, frequency)``.

    Two passes (the textbook bounded-memory heavy-hitters recipe):

    1. Candidate generation: a mergeable Misra-Gries summary with
       m = ceil(1/theta) counters per partition (``mapInPandas``, batched
       merge form: fold each Arrow batch's value_counts into the counter
       dict, and when it exceeds m counters subtract the (m+1)-th largest
       weight from all and drop the non-positive).  Pigeonhole guarantee:
       a word with global freq >= theta*n has freq >= theta*n_p in at
       least one partition, and MG with 1/theta counters never evicts
       such a word from that partition's summary — NO FALSE NEGATIVES,
       regardless of how rows are partitioned.
    2. Exact recount of the candidate set only: candidates (<= m per
       partition — thousands of rows, not the vocabulary) broadcast-
       semi-join the token stream, one groupBy over the filtered stream,
       final filter >= theta*n.  False positives from pass 1 die here.

    Output is therefore DETERMINISTIC (partitioning only affects which
    extra candidates get recounted and discarded) and exactly equals the
    full-shuffle ``GROUP BY word HAVING count >= theta*n`` — which is the
    DuckDB oracle.  At 100 TB the full vocabulary (easily 1e9+ keys with
    typos/URLs) never shuffles; state is m counters per task.
    """
    import math

    from dask_mwu_spark.cache import tracked_persist

    m = int(math.ceil(1.0 / theta))
    # the token stream feeds THREE branches (MG pass, total count, exact
    # recount) — persist at the branch point or Catalyst re-runs the
    # tokenize scan per branch (round-7 review fix: the docstring's "two
    # passes" was three corpus scans without this)
    toks = tokens(docs).select("word").transform(tracked_persist)
    cand = mg_candidates(toks, m)
    totals = toks.agg(F.count(F.lit(1)).alias("_n"))
    exact = (
        toks.join(F.broadcast(cand), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(totals))
        .where(F.col("n_occurrences") >= F.lit(theta) * F.col("_n"))
        .select(
            "word",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("_n"), 6).alias("frequency"),
        )
    )


def mg_candidates(toks: DataFrame, m: int) -> DataFrame:
    """Pass 1 of :func:`heavy_hitters`: per-partition Misra-Gries summaries
    with m counters, via mapInPandas.  Exposed separately so the Arrow
    boundary cost is probe-measurable on its own
    (tools/scale_probe_heavy_hitters.py).

    This is the ONE place the full token stream crosses into Python: no
    builtin aggregate expresses the mergeable decrement-all MG step.  The
    boundary is Arrow-batched (value_counts per batch folded into a
    bounded dict, never per-row Python), and what it buys is pass 2 never
    shuffling the vocabulary.  Measured cost (50M tokens, ~100k-word zipf
    vocab, local[32], tools/scale_probe_heavy_hitters.py): the MG pass is
    7.5s vs the 0.9s pure-JVM tokenize scan it rides on — the boundary is
    ~8x the scan, NOT free — and at that vocabulary size the plain
    groupBy shuffle (2.4s) wins outright.  The two-pass form is the scale
    escape hatch, not the default winner: it pays off when the vocabulary
    is itself shuffle-dominating (1e9+ keys of typo/URL long tail at
    100 TB, where per-key shuffle state >> token scan) or when cluster
    memory can't hold the full word-count map; under ~1e6 distinct words,
    prefer ``vocab_topk``'s direct aggregation."""
    import pandas as pd

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for w, c in pdf["word"].value_counts().items():
                counters[w] = counters.get(w, 0) + int(c)
            if len(counters) > m:
                kth = sorted(counters.values(), reverse=True)[m]
                counters = {
                    w: v - kth for w, v in counters.items() if v - kth > 0
                }
        yield pd.DataFrame({"word": list(counters.keys())})

    return toks.mapInPandas(mg_partition, "word string").distinct()


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval: top-``k`` documents for a bag-of-words query
    (Robertson/Spärck Jones probabilistic ranking, the Lucene/Elasticsearch
    default scorer).  Per (doc, term):

        idf  = ln((N - df + 0.5) / (df + 0.5) + 1)          (Lucene form,
                                                             always >= 0)
        s    = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    and the doc score is the sum over query terms, folded in ascending
    term order (sort_array + aggregate) so the float sum is evaluated in
    the SAME order on every engine/partitioning — no sum-order
    nondeterminism in the hash-compared column.  Rounded to 6.

    Scale: the token stream is filtered to the query terms BEFORE the
    (doc, term) aggregation, so the only full-corpus work is the scan +
    doc-length expression (no shuffle of non-matching tokens); df and
    avgdl are <= |query|-row / 1-row aggregates broadcast back.  Top-k is
    orderBy().limit() = TakeOrderedAndProject — no global sort."""
    terms = F.array(*[F.lit(t) for t in sorted(set(query_terms))])
    # doc length from the raw text expression — no token shuffle needed
    lens = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    avgdl = lens.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tf = (
        tokens(docs)
        .where(F.array_contains(terms, F.col("word")))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            "word",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("word", "s"))),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x["s"],
            ),
            6,
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    top = per_doc.orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # k rows only — post-limit
    return top.select(
        "doc_id", "score", "n_terms_hit", F.row_number().over(w).alias("rank")
    )


def bm25_batch_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batch BM25 retrieval: top-``k`` documents for EVERY query in a
    query table ``(query_id, word)`` — the production multi-query
    shape of :func:`bm25_topk` (same Lucene-form scoring, same pinned
    float discipline), where ONE token scan serves all queries and the
    ranking window is PARTITIONED by query_id, so no global sort or
    single-task funnel exists anywhere in the plan (the single-query
    form's post-limit global window disappears entirely).  Duplicate
    ``(query_id, word)`` rows are deduplicated.  Output:
    ``(query_id, doc_id, score, n_terms_hit, rank)``, rank 1-based.

    Scale: the union vocabulary of all queries is bounded (queries x
    terms, KBs even at thousands of queries) and broadcast TWICE —
    once as the token-stream filter BEFORE the (doc, term)
    aggregation (only matching tokens ever shuffle), once to fan each
    matched (doc, term) out to the queries containing the term.  df
    and avgdl are tiny broadcast aggregates; the per-(query, doc)
    score fold and the per-query rank window shuffle only the matched
    candidate set, keyed by (query_id, doc_id) / query_id.  Per-term
    scores fold in ascending term order (sort_array + aggregate) and
    round to 6 — the :func:`bm25_topk` determinism contract, applied
    per (query_id, doc_id).
    No counterpart in the reference (SURVEY.md section 2.1)."""
    missing = {"query_id", "word"} - set(queries.columns)
    if missing:
        raise ValueError(
            f"queries table is missing columns {sorted(missing)}; "
            "expected (query_id, word)"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qwords = queries.select("query_id", "word").distinct()
    vocab = qwords.select("word").distinct()
    lens = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    avgdl = lens.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tf = (
        tokens(docs)
        .join(F.broadcast(vocab), "word")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(qwords), "word")
        .join(F.broadcast(df_), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "query_id",
            "doc_id",
            "word",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    per = scored.groupBy("query_id", "doc_id").agg(
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("word", "s"))),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x["s"],
            ),
            6,
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "n_terms_hit", "rank")
    )


def source_vocab_overlap(docs: DataFrame) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — the
    corpus-composition diagnostic (which crawls/domains share wording, where
    a mixture is redundant).  distinct (source, word) → self-join on word →
    per-pair intersection counts → Jaccard vs the per-source vocabulary
    sizes.  Rounded to 6.

    Scale: the join key is ``word`` AFTER the per-source distinct, so each
    word appears at most n_sources times — join fanout is bounded by
    C(n_sources, 2) per word, never doc-count-squared; the distinct itself
    is a uniform word-keyed shuffle with map-side partials.  The per-source
    size table is tiny and broadcast."""
    sv = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).distinct()
    sizes = sv.groupBy("source").agg(F.count(F.lit(1)).alias("n_words"))
    a, bb = sv.alias("a"), sv.alias("b")
    inter = (
        a.join(bb, F.col("a.word") == F.col("b.word"))
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a"
        )
        .withColumnRenamed("n_words", "n_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "src_b")), "src_b")
        .withColumnRenamed("n_words", "n_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def ngram_novelty(docs: DataFrame, *, n: int = 3) -> DataFrame:
    """Per-doc n-gram novelty vs the earlier corpus: the fraction of a
    document's distinct n-grams whose corpus-wide FIRST occurrence (minimum
    doc_id) is the document itself.  The data-valuation signal behind
    "process in arrival order, keep what adds new content" curation: low
    novelty == the doc restates text already ingested.

    Output (doc_id, n_grams, n_novel, novelty_frac), novelty_frac rounded
    to 6; documents shorter than ``n`` tokens report 0 grams / 0.0.

    Scale: the distinct (doc, shingle) table aggregates to per-shingle
    MIN(doc_id) (uniform shingle-keyed groupBy with map-side partials,
    the MinHash table's shape) and joins back on shingle — each shingle
    carries one first_doc row, so fanout is 1:1; the per-doc re-aggregate
    shuffles on the uniform doc id.  Linear in corpus tokens."""
    from dask_mwu_spark.operators.dedup import shingles

    sh = shingles(docs, n=n)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("_first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        F.round(
            F.coalesce(
                F.col("n_novel").cast("double") / F.col("n_grams"), F.lit(0.0)
            ),
            6,
        ).alias("novelty_frac"),
    )


def zipf_fit(docs: DataFrame, *, top_v: int = 100) -> DataFrame:
    """Least-squares fit of Zipf's law over the ``top_v`` most frequent
    words: slope/intercept of ``ln(freq) ~ ln(rank)`` (a healthy natural
    corpus sits near slope -1; templated or machine-generated text bends
    the curve — a cheap whole-corpus health metric).

    Scale: word counts are ONE map-side-combinable groupBy; the head is
    ``orderBy().limit(top_v)`` = TakeOrderedAndProject (per-partition
    top-v heaps merged on the driver — the vocabulary never sorts
    globally).  Ranking and the regression run on the <= top_v-row head:
    the four regression sums (Sx, Sy, Sxx, Sxy) are folded in ascending
    rank order via sort_array + aggregate so every float sum is evaluated
    in the SAME order on any engine or partitioning, then the closed-form
    slope/intercept is a deterministic scalar expression.  Output: ONE
    row (n_terms, slope, intercept), rounded to 6.
    """
    counts = (
        tokens(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    order = [F.col("freq").desc(), F.col("word").asc()]
    head = counts.orderBy(*order).limit(top_v)
    w = Window.orderBy(*order)  # post-limit: <= top_v rows, not a scale sort
    pts = head.select(
        F.row_number().over(w).alias("rank"), F.col("freq").cast("double")
    ).select(
        "rank",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log("freq").alias("y"),
    )

    def fold(expr_name: str) -> F.Column:
        return F.aggregate(
            F.sort_array(F.collect_list(F.struct("rank", F.col(expr_name).alias("v")))),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["v"],
        )

    agg = pts.select(
        "rank",
        "x",
        "y",
        (F.col("x") * F.col("x")).alias("xx"),
        (F.col("x") * F.col("y")).alias("xy"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        fold("x").alias("sx"),
        fold("y").alias("sy"),
        fold("xx").alias("sxx"),
        fold("xy").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


def source_entropy(docs: DataFrame, *, n_buckets: int = 256) -> DataFrame:
    """Per-source Shannon entropy (nats) of the token distribution —
    the corpus-diversity metric behind mixture design: low entropy flags
    templated/boilerplate sources, and the entropy gap between sources
    feeds sampling weights.  Uses the identity
    ``H = ln(n_tokens) - Σ cnt·ln(cnt) / n_tokens`` so everything derives
    from exact integer counts plus one float sum.

    That float sum is made engine- and partitioning-exact by a TWO-LEVEL
    deterministic fold: per-word terms are folded in ascending word order
    WITHIN md5-hash buckets (each collect_list holds only ~|vocab|/
    n_buckets entries — bounded state, unlike a single per-source vocab
    list, which is the naive formulation's OOM at a 10^7-word vocab),
    then the per-bucket partials are folded in ascending bucket order.
    Same result on any engine; memory per aggregation buffer bounded by
    the bucket width.
    """
    # inline explode keeping source — scan-stage flatMap, no doc_id join
    counts = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bucketed = counts.withColumn(
        "bucket", md5_long(F.col("word")) % F.lit(n_buckets)
    )
    partial = bucketed.groupBy("source", "bucket").agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "word",
                        (
                            F.col("cnt").cast("double")
                            * F.log(F.col("cnt").cast("double"))
                        ).alias("t"),
                    )
                )
            ),
            F.lit(0.0).cast("double"),
            lambda acc, s: acc + s["t"],
        ).alias("s"),
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("v"),
    )
    return partial.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.sum("v").alias("n_vocab"),
        F.round(
            F.log(F.sum("n").cast("double"))
            - F.aggregate(
                F.sort_array(F.collect_list(F.struct("bucket", "s"))),
                F.lit(0.0).cast("double"),
                lambda acc, s: acc + s["s"],
            )
            / F.sum("n"),
            6,
        ).alias("entropy"),
    )


def lm_bigram_score(docs: DataFrame, *, alpha: float = 0.5) -> DataFrame:
    """Per-doc add-α-smoothed bigram language-model score — the classic
    cheap perplexity proxy for corpus quality filtering (a KenLM-style
    n-gram LM scorer without the external model file: the corpus itself is
    the training set, so the score measures how "typical" each document's
    word transitions are of the corpus at large; boilerplate scores high,
    line noise scores low).  Per bigram (w1, w2):

        logp = ln((C(w1,w2) + α) / (C(w1·) + α·V))

    where ``C(w1·)`` counts w1 as a bigram CONTEXT (occurrences excluding
    each doc's final token) and ``V`` is the corpus vocabulary size.
    Output per doc: ``n_bigrams``, ``avg_logp`` (mean log-probability,
    folded in token-position order so the float sum is evaluated in the
    SAME order on every engine/partitioning), ``ppl_proxy`` =
    exp(−avg_logp).  Docs with < 2 tokens keep n_bigrams=0, NULL scores.

    Scale: bigram counts are a map-side-combinable groupBy on the
    (w1, w2) key; the token stream joins the count tables with plain
    shuffle equi-joins (the count tables are O(distinct bigrams) — far too
    big to broadcast at 100 TB, and never collected); V is a 1-row
    aggregate broadcast by crossJoin.  Per-doc state is bounded by doc
    length.  No counterpart in the reference (SURVEY.md section 2.1).
    """
    toks = F.split(F.col("text"), " ")
    bigrams = adjacent_bigrams(docs)
    uni = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    vocab = docs.select(F.explode(toks).alias("word")).agg(
        F.countDistinct("word").alias("v")
    )
    lp = (
        bigrams.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "pos",
            F.log(
                (F.col("c2") + F.lit(alpha))
                / (F.col("c1") + F.lit(alpha) * F.col("v"))
            ).alias("logp"),
        )
    )
    per_doc = lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("pos", "logp"))),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x["logp"],
        ).alias("_total"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(F.col("_total") / F.col("n_bigrams"), 6).alias("avg_logp"),
            F.round(F.exp(-F.col("_total") / F.col("n_bigrams")), 6).alias(
                "ppl_proxy"
            ),
        )
    )


def _union_scalar_rows(*parts: DataFrame) -> DataFrame:
    """Combine several 1-row scalar aggregates into ONE 1-row table via
    union + a single max() re-aggregate, instead of chaining crossJoins
    (optimization r13, guide §2.4): each crossJoin of 1-row aggregates
    costs its own BroadcastExchange + BroadcastNestedLoopJoin — with AQE
    that is one scheduled job per scalar table.  Columns must be
    disjoint across ``parts``; every value passes through max(x, NULL,
    ...) = x untouched (no float arithmetic, exact passthrough)."""
    schema: list[tuple[str, str]] = []
    for p in parts:
        for name, dtype in p.dtypes:
            schema.append((name, dtype))
    padded = []
    for p in parts:
        have = set(p.columns)
        padded.append(
            p.select(
                *[
                    (F.col(c) if c in have else F.lit(None).cast(t)).alias(c)
                    for c, t in schema
                ]
            )
        )
    out = padded[0]
    for p in padded[1:]:
        out = out.unionByName(p)
    return out.agg(*[F.max(c).alias(c) for c, _ in schema])


def kneser_ney_score(
    docs: DataFrame,
    *,
    discount: float | str = 0.75,
    score_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-doc interpolated Kneser-Ney TRIGRAM language-model score —
    the published production corpus-quality filter (Wenzek et al.,
    CCNet 2020, scores CommonCrawl with a KenLM 5-gram KN model;
    Chen & Goodman 1999 is the smoothing).  :func:`lm_bigram_score` is
    the cheap add-α proxy; this is the real thing at order 3 with a
    single fixed ``discount`` D (the classic interpolated-KN
    formulation), or — with ``discount="estimate"`` — the MODIFIED
    Kneser-Ney of Chen & Goodman 1999 §2.7, what KenLM (and therefore
    the shipped CCNet filter) actually uses: per order, three
    discounts estimated from that order's count-of-count statistics
    n1..n4 (types occurring exactly 1..4 times),

        Y  = n1 / (n1 + 2·n2)
        D1 = 1 − 2·Y·(n2/n1),  D2 = 2 − 3·Y·(n3/n2),
        D3+ = 3 − 4·Y·(n4/n3)

    applied by the count being discounted (D1 for count 1, D2 for 2,
    D3+ for ≥3) with the back-off mass γ becoming the count-weighted
    sum D1·N1 + D2·N2 + D3+·N3+ over the context's successor types.
    An order whose statistics cannot support estimation — any of
    n1..n3 zero, or an estimated discount outside its sane range
    (D1∈[0,1], D2∈[0,2], D3+∈[0,3]) — falls back to the KenLM
    ``--discount_fallback`` defaults (0.5, 1.0, 1.5) for THAT order,
    exactly KenLM's behavior on "counts too small" corpora (lm/
    builder/adjust_counts.cc); orders with healthy statistics still
    estimate.  Fixed-D formulation:

        P3(w3|w1,w2) = max(c(w1w2w3)-D, 0)/c(w1w2·)
                       + D·N1+(w1w2·)/c(w1w2·) · P2(w3|w2)
        P2(w3|w2)    = max(N1+(·w2w3)-D, 0)/N1+(·w2·)
                       + D·N1+(w2·)/N1+(·w2·) · P1(w3)     [continuation counts]
        P1(w3)       = max(N1+(·w3)-D, 0)/B + D·W/B · 1/(V+1)

    where ``B`` = total continuation-bigram types, ``W`` = distinct
    continuation words, ``V`` = training vocabulary (the ``+1`` is the
    UNK slot — P1 > 0 for EVERY word, so scoring stays TOTAL on unseen
    text).  A context absent from training backs off entirely to the
    next order (the CASE-NULL branches).  Output per scored doc:
    ``(doc_id, n_trigrams, avg_logp, ppl_proxy)`` — ``avg_logp`` folds
    ln P3 in token-position order (the package float-sum discipline),
    ``ppl_proxy = exp(-avg_logp)``; docs with < 3 tokens keep
    n_trigrams=0, NULL scores.

    ``score_docs`` (default: the training corpus) is the table to
    SCORE — the train-once/score-many seam matching the tokenizer
    ``model=`` precedent: count tables come from ``docs`` only, so a
    persisted training corpus scores every later batch without
    recounting.  CCNet's filter is exactly this shape (train on
    Wikipedia, score CommonCrawl).

    Scale (the count-table discipline): trigram counts are one
    map-side-combinable groupBy on the (w1,w2,w3) key; every
    lower-order table (contexts, continuation bigrams, continuation
    unigrams) derives from the TYPE table ``c3`` — O(distinct
    trigrams), far below the token stream.  The ONE exception is the
    vocabulary size ``V``: it is a ``countDistinct`` over the raw
    exploded token stream, because words appearing only in <3-token
    documents never reach the trigram table (a c3-derived vocabulary
    would undercount them); the aggregate is map-side-combinable with
    1-row output, so it adds a scan but no unbounded state.  Scoring
    joins land on the bounded
    distinct-trigram table of the SCORED corpus, not the token stream:
    the stream shuffles exactly twice (the map-side-combinable
    distinct + the final (w1,w2,w3) model join) instead of once per
    count table; all count joins are type-table x type-table shuffle
    equi-joins (too big to broadcast at 100 TB, never collected); the
    three scalar totals ride ONE 1-row broadcast crossJoin.  Per-doc
    fold state is bounded by doc length.  No counterpart in the
    reference (SURVEY.md section 2.1).
    """
    est = isinstance(discount, str)
    if est and discount != "estimate":
        raise ValueError(
            f"discount must be a float in (0, 1) or 'estimate', "
            f"got {discount!r}"
        )
    if not est and not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    D = 0.0 if est else float(discount)
    train_tri = adjacent_trigrams(docs, with_pos=False)

    # type/count tables — all derived from c3 (the bounded type
    # table).  c3 is MATERIALIZED EAGERLY (localCheckpoint): it feeds 3
    # direct consumers in fixed mode and 6+ in estimate mode, and
    # Catalyst does NOT reuse the aggregation subtree across them
    # (measured r12: 20-24 parquet scans of the corpus without a
    # materialization, 0 ReusedExchange) — one materialized type table
    # turns every downstream count into a cache read, which is the
    # "stream shuffles exactly twice" contract the docstring promises.
    # Eager, not a lazy tracked_persist: the estimate-mode count-of-count
    # scalars build SEPARATE broadcast exchanges whose driver threads
    # race into the uncached partitions concurrently — measured r12 at
    # sf0.1: lazy persist 6-38s erratic, localCheckpoint 4.3-4.9s
    # stable, and at scale the checkpoint guarantees exactly ONE corpus
    # aggregation instead of up-to-consumer-count racing ones.
    c3 = train_tri.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")
    ).localCheckpoint()
    # estimate mode adds the per-context successor-type counts BY
    # DISCOUNT BUCKET (N1/N2/N3+) that the modified-KN back-off mass
    # weights — same map-side-combinable aggregations, wider rows
    ctx2_aggs = [
        F.sum("c3").alias("c12"),  # c(w1w2·)
        F.count(F.lit(1)).alias("n12"),  # N1+(w1w2·)
    ]
    if est:
        ctx2_aggs += [
            F.sum((F.col("c3") == 1).cast("long")).alias("j1"),
            F.sum((F.col("c3") == 2).cast("long")).alias("j2"),
            F.sum((F.col("c3") >= 3).cast("long")).alias("j3p"),
        ]
    ctx2 = c3.groupBy("w1", "w2").agg(*ctx2_aggs)
    # cbi (the continuation-bigram type table) has 4 consumers in fixed
    # mode (the scoring join, ctx1, cuni, tot's b/w1p aggregate) and 5+
    # in estimate mode (+ coc2, coc1 via cuni) — without materialization
    # each one re-runs the same (w2,w3) aggregation over c3 (measured
    # r12: 4-5 duplicate shuffles of the type table, 0 ReusedExchange).
    # Same argument as the c3 checkpoint above, one order down.
    cbi = c3.groupBy("w2", "w3").agg(
        F.count(F.lit(1)).alias("cc")  # N1+(·w2w3)
    ).localCheckpoint()
    ctx1_aggs = [
        F.sum("cc").alias("cx1"),  # N1+(·w2·)
        F.count(F.lit(1)).alias("n1"),  # N1+(w2·) over continuation types
    ]
    if est:
        ctx1_aggs += [
            F.sum((F.col("cc") == 1).cast("long")).alias("k1"),
            F.sum((F.col("cc") == 2).cast("long")).alias("k2"),
            F.sum((F.col("cc") >= 3).cast("long")).alias("k3p"),
        ]
    ctx1 = cbi.groupBy("w2").agg(*ctx1_aggs)
    cuni = cbi.groupBy("w3").agg(
        F.count(F.lit(1)).alias("cu")  # N1+(·w3)
    )
    if est:
        # estimate mode gives cuni a SECOND consumer (coc1's
        # count-of-count scalars below) — without materialization each
        # one re-runs the (w3) aggregation over the cbi cache
        # (optimization r13: text_kn_modified's plan showed the
        # duplicate exchange; the c3/cbi argument one more level down).
        # Fixed mode keeps cuni lazy: one consumer, no barrier earned.
        cuni = cuni.localCheckpoint()
    vocab = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).agg(F.countDistinct("word").alias("v"))
    if est:
        # count-of-count scalars per order (1-row aggregates over the
        # type tables) feeding the discount formulas; the assert_true
        # rides the b column so a too-small corpus throws in-plan
        coc3 = c3.agg(
            *[
                F.sum((F.col("c3") == k).cast("long"))
                .cast("double")
                .alias(f"t{k}")
                for k in (1, 2, 3, 4)
            ]
        )
        coc2 = cbi.agg(
            F.count(F.lit(1)).cast("double").alias("b"),
            *[
                F.sum((F.col("cc") == k).cast("long"))
                .cast("double")
                .alias(f"b{k}")
                for k in (1, 2, 3, 4)
            ],
        )
        coc1 = cuni.agg(
            F.count(F.lit(1)).cast("double").alias("w1p"),
            *[
                F.sum((F.col("cu") == k).cast("long"))
                .cast("double")
                .alias(f"u{k}")
                for k in (1, 2, 3, 4)
            ],
            F.sum((F.col("cu") >= 3).cast("long"))
            .cast("double")
            .alias("u3p"),
        )
        # the nine discounts and g1 are SCALARS — compute them once in
        # the 1-row tot table (the oracle's ds CTE, literally) so the
        # per-row scoring expressions reference plain broadcast columns
        # instead of inlining the division trees at every use.
        # try_divide keeps zero-count orders NULL (ANSI mode would
        # throw); the sanity window then routes them to the KenLM
        # --discount_fallback defaults per order
        def _disc(n1c, n2c, n3c, n4c):
            y = F.try_divide(n1c, n1c + F.lit(2.0) * n2c)
            d1 = F.lit(1.0) - F.lit(2.0) * y * F.try_divide(n2c, n1c)
            d2 = F.lit(2.0) - F.lit(3.0) * y * F.try_divide(n3c, n2c)
            d3 = F.lit(3.0) - F.lit(4.0) * y * F.try_divide(n4c, n3c)
            ok = F.coalesce(
                (n1c > 0) & (n2c > 0) & (n3c > 0)
                & (d1 >= 0.0) & (d1 <= 1.0)
                & (d2 >= 0.0) & (d2 <= 2.0)
                & (d3 >= 0.0) & (d3 <= 3.0),
                F.lit(False),
            )
            return (
                F.when(ok, d1).otherwise(F.lit(0.5)),
                F.when(ok, d2).otherwise(F.lit(1.0)),
                F.when(ok, d3).otherwise(F.lit(1.5)),
            )

        e13, e23, e33 = _disc(
            F.col("t1"), F.col("t2"), F.col("t3"), F.col("t4")
        )
        e12, e22, e32 = _disc(
            F.col("b1"), F.col("b2"), F.col("b3"), F.col("b4")
        )
        e11, e21, e31 = _disc(
            F.col("u1"), F.col("u2"), F.col("u3"), F.col("u4")
        )
        tot = (
            _union_scalar_rows(coc2, coc1, coc3, vocab)
            .select(
                "b",
                "w1p",
                F.col("v").cast("double").alias("v"),
                "u1", "u2", "u3p",
                e13.alias("d13"), e23.alias("d23"), e33.alias("d33"),
                e12.alias("d12"), e22.alias("d22"), e32.alias("d32"),
                e11.alias("d11"), e21.alias("d21"), e31.alias("d31"),
            )
            .select(
                "*",
                (
                    F.col("d11") * F.col("u1")
                    + F.col("d21") * F.col("u2")
                    + F.col("d31") * F.col("u3p")
                ).alias("g1"),
            )
        )
    else:
        tot = _union_scalar_rows(
            cbi.agg(
                F.count(F.lit(1)).cast("double").alias("b"),
                F.countDistinct("w3").cast("double").alias("w1p"),
            ),
            vocab,
        ).select("b", "w1p", F.col("v").cast("double").alias("v"))

    target = docs if score_docs is None else score_docs
    sc = adjacent_trigrams(target)
    # score TYPES, not the stream: the scored token stream would
    # otherwise shuffle once per count-table join (5x).  Deduplicating
    # to the bounded distinct-trigram table first (map-side-combinable)
    # moves every count join onto type-sized tables; the stream then
    # shuffles exactly twice — the distinct and the final model join.
    # When scoring the TRAINING corpus itself (score_docs=None — all
    # three registered kn queries), the scored type set IS c3's key set,
    # so the distinct re-derivation (a full corpus Generate + one
    # (w1,w2,w3) exchange) and the types_ ⋈ c3 left join are dropped and
    # the chain starts from the checkpointed c3 directly (optimization
    # r13, guide §2.4/§6: same rows — every c3 key joins itself — and
    # c3c's coalesce never fires either way).
    if score_docs is None:
        typed = c3
    else:
        types_ = sc.select("w1", "w2", "w3").distinct()
        typed = types_.join(c3, ["w1", "w2", "w3"], "left")
    j = (
        typed
        .join(ctx2, ["w1", "w2"], "left")
        .join(cbi, ["w2", "w3"], "left")
        .join(ctx1, ["w2"], "left")
        .join(cuni, ["w3"], "left")
        .crossJoin(F.broadcast(tot))
    )

    # one expression tree, mirrored literally in the DuckDB oracle —
    # parenthesization and coalesce points must stay in lockstep
    cu = F.coalesce(F.col("cu"), F.lit(0)).cast("double")
    cc = F.coalesce(F.col("cc"), F.lit(0)).cast("double")
    cx1 = F.col("cx1").cast("double")
    c3c = F.coalesce(F.col("c3"), F.lit(0)).cast("double")
    c12 = F.col("c12").cast("double")
    if est:

        def _dsel(c, d1, d2, d3):
            return F.when(c >= 3, d3).when(c == 2, d2).otherwise(d1)

        p1 = (
            F.greatest(
                cu - _dsel(cu, F.col("d11"), F.col("d21"), F.col("d31")),
                F.lit(0.0),
            )
            / F.col("b")
        ) + (
            (F.col("g1") / F.col("b"))
            * (F.lit(1.0) / (F.col("v") + F.lit(1.0)))
        )
        g2 = (
            F.col("d12") * F.col("k1").cast("double")
            + F.col("d22") * F.col("k2").cast("double")
            + F.col("d32") * F.col("k3p").cast("double")
        )
        p2 = F.when(F.col("cx1").isNull(), p1).otherwise(
            (
                F.greatest(
                    cc
                    - _dsel(cc, F.col("d12"), F.col("d22"), F.col("d32")),
                    F.lit(0.0),
                )
                / cx1
            )
            + ((g2 / cx1) * p1)
        )
        g3 = (
            F.col("d13") * F.col("j1").cast("double")
            + F.col("d23") * F.col("j2").cast("double")
            + F.col("d33") * F.col("j3p").cast("double")
        )
        p3 = F.when(F.col("c12").isNull(), p2).otherwise(
            (
                F.greatest(
                    c3c
                    - _dsel(c3c, F.col("d13"), F.col("d23"), F.col("d33")),
                    F.lit(0.0),
                )
                / c12
            )
            + ((g3 / c12) * p2)
        )
    else:
        d = F.lit(D)
        p1 = (F.greatest(cu - d, F.lit(0.0)) / F.col("b")) + (
            ((d * F.col("w1p")) / F.col("b")) * (F.lit(1.0) / (F.col("v") + F.lit(1.0)))
        )
        p2 = F.when(
            F.col("cx1").isNull(), p1
        ).otherwise(
            (F.greatest(cc - d, F.lit(0.0)) / cx1)
            + (((d * F.col("n1").cast("double")) / cx1) * p1)
        )
        p3 = F.when(
            F.col("c12").isNull(), p2
        ).otherwise(
            (F.greatest(c3c - d, F.lit(0.0)) / c12)
            + (((d * F.col("n12").cast("double")) / c12) * p2)
        )
    model = j.select("w1", "w2", "w3", F.log(p3).alias("logp"))
    lp = sc.join(model, ["w1", "w2", "w3"]).select("doc_id", "pos", "logp")

    per_doc = lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("pos", "logp"))),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x["logp"],
        ).alias("_total"),
    )
    return (
        target.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_trigrams"), F.lit(0))
            .cast("long")
            .alias("n_trigrams"),
            F.round(F.col("_total") / F.col("n_trigrams"), 6).alias(
                "avg_logp"
            ),
            F.round(
                F.exp(-F.col("_total") / F.col("n_trigrams")), 6
            ).alias("ppl_proxy"),
        )
    )


def kn_perplexity_buckets(
    docs: DataFrame,
    *,
    discount: float = 0.75,
    score_docs: DataFrame | None = None,
) -> DataFrame:
    """The CCNet head/middle/tail split (Wenzek et al. 2020, §4.3):
    bucket documents by Kneser-Ney perplexity TERTILES — "head" = the
    lowest-perplexity (most reference-like) third, "middle", "tail" =
    the noisiest third; CCNet trains on each bucket separately or
    drops the tail.  Composes :func:`kneser_ney_score` (same
    ``score_docs=`` train-once seam) with two exact global perplexity
    quantiles.  Docs with < 3 tokens have no score and bucket as
    ``unscored``.  Output: ``(doc_id, ppl_proxy, bucket)``; ties at a
    threshold fall into the lower bucket (<=, matching the oracle).

    Scale: the scorer's contract plus ONE exact ``percentile``
    aggregation over the doc-level (already reduced) score table and a
    1-row broadcast cross of the two thresholds.  ``F.percentile`` is
    exact but single-buffer — at 1e11 docs swap in the bounded-state
    exact histogram quantile (``audit.exact_quantile``) or the
    t-digest sketch, the documented
    :func:`~dask_mwu_spark.operators.curation.calibrated_quality_filter`
    scale paths.  No counterpart in the reference (SURVEY.md
    section 2.1)."""
    scored = kneser_ney_score(
        docs, discount=discount, score_docs=score_docs
    ).localCheckpoint()
    valid = scored.where(F.col("ppl_proxy").isNotNull())
    th = valid.agg(
        F.round(
            F.percentile(F.col("ppl_proxy"), F.lit(1.0 / 3.0)), 6
        ).alias("t1"),
        F.round(
            F.percentile(F.col("ppl_proxy"), F.lit(2.0 / 3.0)), 6
        ).alias("t2"),
    )
    ppl = F.col("ppl_proxy")
    return scored.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "ppl_proxy",
        F.when(ppl.isNull(), F.lit("unscored"))
        .when(ppl <= F.col("t1"), F.lit("head"))
        .when(ppl <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# The published Gopher/MassiveText required-word list (Rae et al. 2021,
# Appendix A1.1): a doc must contain at least GOPHER_MIN_STOP_HITS of these.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(
    docs: DataFrame,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
) -> DataFrame:
    """The Gopher/MassiveText quality-rule battery (Rae et al. 2021,
    Appendix A1.1) — THE published rule set production LLM corpora are
    filtered with, as one per-doc row of signals + 0/1 rule flags + the
    conjunctive ``keep`` gate:

    - word count in [``min_words``, ``max_words``]
    - mean word length in [``min_mean_word_len``, ``max_mean_word_len``]
    - '#'-or-ellipsis ('...' or '…') symbol-to-word ratio
      <= ``max_symbol_ratio``
    - <= ``max_bullet_ratio`` of lines starting with a bullet and
      <= ``max_ellipsis_ratio`` ending with an ellipsis ('...' or '…') —
      the paper removes docs STRICTLY ABOVE the thresholds, so boundary
      docs are kept
    - >= ``min_alpha_word_ratio`` of words containing an alphabetic char
    - >= GOPHER_MIN_STOP_HITS distinct words from the paper's 8-word
      required list present

    Distinct from ``quality_scores`` (the generic affine blend): this is
    the named, thresholded, paper-faithful battery — the flags are what a
    curation pipeline audits when tuning which rule costs which corpus
    share.  Pure per-row expression work: zero shuffle, whole-stage
    codegen, embarrassingly parallel at 100 TB.

    Cross-engine exactness: every ratio is rounded to 6 decimals FIRST and
    each flag thresholds the rounded value, so Spark and the SQL oracle
    threshold bit-identical doubles (no ulp knife-edges); flags are ints
    (0/1), counts are longs.  No counterpart in the reference (SURVEY.md
    section 2.1).
    """
    toks = F.split("text", " ")
    n = F.size(toks)
    n_chars = F.length("text")
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    hash_cnt = n_chars - F.length(F.translate("text", "#", ""))
    # the paper's ellipsis is the unicode '…'; web text mostly types '...'
    # — count both ('…' is one char; '.../3' recovers the occurrence count)
    ellipsis_cnt = (
        n_chars - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / F.lit(3) + (
        n_chars - F.length(F.translate("text", "…", ""))
    ).cast("double")
    lines = F.split("text", "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("•") | l.startswith("- ") | l.startswith("* "),
        )
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    mean_len = F.round(sum_len.cast("double") / n, 6)
    symbol_ratio = F.round(
        (hash_cnt.cast("double") + ellipsis_cnt) / n, 6
    )
    bullet_ratio = F.round(bullet_lines.cast("double") / n_lines, 6)
    ellipsis_ratio = F.round(ellipsis_lines.cast("double") / n_lines, 6)
    alpha_ratio = F.round(alpha_words.cast("double") / n, 6)

    def flag(cond: F.Column, name: str) -> F.Column:
        return F.when(cond, F.lit(1)).otherwise(F.lit(0)).cast("int").alias(name)

    out = docs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.cast("long").alias("n_stop_hits"),
    )
    r_words = flag(
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words),
        "r_word_count",
    )
    r_mean = flag(
        (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "r_mean_word_len",
    )
    r_sym = flag(F.col("symbol_ratio") <= max_symbol_ratio, "r_symbol")
    # paper semantics: REMOVE if strictly above the threshold → keep at <=
    r_bul = flag(F.col("bullet_ratio") <= max_bullet_ratio, "r_bullet")
    r_ell = flag(F.col("ellipsis_ratio") <= max_ellipsis_ratio, "r_ellipsis")
    r_alp = flag(
        F.col("alpha_word_ratio") >= min_alpha_word_ratio, "r_alpha_words"
    )
    r_stp = flag(F.col("n_stop_hits") >= GOPHER_MIN_STOP_HITS, "r_stopwords")
    out = out.select("*", r_words, r_mean, r_sym, r_bul, r_ell, r_alp, r_stp)
    keep = (
        F.col("r_word_count")
        * F.col("r_mean_word_len")
        * F.col("r_symbol")
        * F.col("r_bullet")
        * F.col("r_ellipsis")
        * F.col("r_alpha_words")
        * F.col("r_stopwords")
    ).cast("int")
    return out.select("*", keep.alias("keep"))


def pmi_collocations(
    docs: DataFrame, *, k: int = 20, min_count: int = 5
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information
    (Church & Hanks 1990) — (w1, w2, c2, pmi), the adjacent word pairs
    that co-occur far above chance.  The vocabulary-induction /
    tokenizer-merge signal: high-PMI pairs are the multi-word units a
    BPE-style merge step would fuse first, and low-count-high-PMI pairs
    flag templated boilerplate.

        pmi = ln( (c2/Nb) / ((c1(w1)/Nt) * (c1(w2)/Nt)) )

    with c2 the bigram count, c1 unigram counts, Nb/Nt total bigrams/
    tokens; ``min_count`` suppresses the unstable low-count tail (the
    standard Church-Hanks guard).

    Scale: unigram/bigram counts are map-side-combinable groupBys on
    token keys; the two marginal lookups are equi-joins against the
    vocabulary-sized unigram table (far smaller than the corpus); totals
    are 1-row broadcast crosses; the final top-k is an orderBy+limit
    (TakeOrderedAndProject — per-partition heads, never a global sort).

    Cross-engine: counts are exact BIGINTs; both engines evaluate the
    identical division tree on identical doubles, and ln's <=1-ulp
    libm difference is absorbed by rounding to 6; deterministic
    (pmi desc, w1, w2) ordering makes the limit boundary stable.  No
    counterpart in the reference (SURVEY.md section 2.1).
    """
    bigrams = adjacent_bigrams(docs, with_doc_id=False, with_pos=False)
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bi = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .where(F.col("c2") >= min_count)
    )
    nt = uni.agg(F.sum("c1").alias("_nt"))
    nb = bigrams.agg(F.count(F.lit(1)).alias("_nb"))
    scored = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("_c1a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("_c1b")), "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c2",
            F.round(
                F.log(
                    (F.col("c2").cast("double") / F.col("_nb").cast("double"))
                    / (
                        (F.col("_c1a").cast("double") / F.col("_nt").cast("double"))
                        * (F.col("_c1b").cast("double") / F.col("_nt").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def textrank_keywords(
    docs: DataFrame, *, k: int = 20, n_iter: int = 5, damping: float = 0.85
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): PageRank
    centrality over the corpus word co-occurrence graph (adjacent-token
    edges, undirected, deduped), top-``k`` words — (word, rank).  The
    unsupervised keyword/keyphrase seed: words central to the
    co-occurrence topology rather than merely frequent (the paper's win
    over raw TF), here run corpus-level as the vocabulary-salience audit.

    Composes two proven pieces: the zip-shift bigram generator (scan-stage,
    no position shuffle — ``lm_bigram_score``) and ``graph.pagerank``'s
    fixed-round, ordered-fold power iteration (exact-oracle iterative
    PageRank; see graph.py for the checkpoint/lineage discipline).  The
    edge table is vocabulary-bounded (distinct adjacent pairs), so the
    iteration cost is independent of corpus size after the one counting
    scan.

    Cross-engine: identical to ``graph_pagerank`` — per-node contribution
    sums fold in ascending neighbor order (word strings compare binary on
    both engines), rank rounds to 6, and the top-k boundary is
    deterministic via the word tiebreak.  No counterpart in the reference
    (SURVEY.md section 2.1).
    """
    from dask_mwu_spark.operators.graph import pagerank

    pairs = adjacent_bigrams(docs, with_doc_id=False, with_pos=False)
    pr = pagerank(pairs, n_iter=n_iter, damping=damping, src="w1", dst="w2")
    return (
        pr.select(F.col("node").alias("word"), "rank")
        .orderBy(F.col("rank").desc(), F.col("word").asc())
        .limit(k)
    )


BPE_EOW = "</w>"


def bpe_train_merges(
    docs: DataFrame,
    *,
    n_merges: int = 8,
    max_vocab: int | None = None,
) -> DataFrame:
    """Learned byte-pair-encoding merge table (Sennrich, Haddow & Birch,
    ACL 2016, Algorithm 1): (merge_rank, lhs, rhs, pair_count) — the
    ``n_merges`` most frequent adjacent symbol pairs, learned greedily,
    each round merging the winner everywhere before recounting.  The one
    load-bearing tokenization op the battery lacked: its output drives
    ``tokenize_ids``-style subword vocabularies instead of whole-word ones.

    Paper-variant details (pinned so the oracle is exact):
    - words are whitespace tokens (the shared ``tokens()`` generator,
      consistent with ``build_vocab``/``tokenize_ids``), initialised as
      character sequences plus a SEPARATE end-of-word symbol ``</w>``
      (the paper's Algorithm 1 presentation, not subword-nmt's
      attach-to-last-char variant);
    - pair statistics count EVERY adjacent position (overlaps included:
      ``aaaa`` contributes 3 to (a,a)), weighted by word frequency;
    - the round winner is deterministic: (pair_count desc, lhs asc,
      rhs asc) — a pinned tiebreak instead of subword-nmt's
      lexicographically-greatest-pair ``max()``;
    - the merge applies greedily LEFT-TO-RIGHT without re-examining the
      freshly merged symbol (``aaaa`` + (a,a) -> ``aa aa``, not
      ``aaa a``) — the same single-pass semantics as subword-nmt's
      ``replace_pair``.

    Scale design — the classic BPE trick (what subword-nmt itself does
    after its counting pass) is that after one corpus scan the working
    set is the WORD-FREQUENCY table (vocabulary-sized, corpus-size
    independent), and every round runs on it:
    - ONE distributed tokenize scan -> groupBy(word) builds (word, freq);
      that bounded table is collected once and the pinned sequential
      loop (:func:`_bpe_sequential`) runs every merge round driver-side,
      so wall grows with merges and vocabulary, never with the corpus,
      and no round submits a Spark job (production BPE learns 32k-100k
      merges).  The results come back as DataFrames.
    - ``max_vocab``: at real corpus scale (100M+ distinct tokens) cap the
      training table to the top ``max_vocab`` words by (freq desc, word
      asc) — a bounded TakeOrderedAndProject, the standard
      sample-bounded-training knob (same contract as the DSIR/Lloyd
      trainers).  ``max_vocab=None`` trains on every distinct word and
      warns (a ``UserWarning`` naming ``max_vocab``): the driver collect
      is unbounded at corpus scale.  The registered queries cap at 1e6,
      a no-op on the test corpora, so the oracle stays exact.

    Cross-engine: the DuckDB twin re-implements the merge POSITIONALLY
    (gaps-and-islands parity over matching positions) rather than as a
    loop — an independent formulation of the same greedy-non-overlap
    semantics, unrolled per round like the PageRank MATERIALIZED-CTE
    oracle.  All counts are integers; no float folds anywhere.
    No counterpart in the reference (SURVEY.md section 2.1).
    """
    return _bpe_train_collected(docs, n_merges, max_vocab)[0]


def _bpe_word_freq(docs: DataFrame, max_vocab: int | None) -> DataFrame:
    """Shared (word, freq) builder for the BPE train/apply pair — ONE
    implementation so the empty-token filter and the max_vocab tiebreak
    cannot diverge between them (review r8).

    Empty tokens (doubled/leading spaces in real corpora) are dropped:
    char-splitting "" gives [""] in Spark but [] in DuckDB's
    substr-walk, so keeping them would make the initial symbol table
    engine-dependent; a zero-length "word" carries no pairs anyway."""
    word_freq = (
        tokens(docs)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if max_vocab is not None:
        word_freq = word_freq.orderBy(
            F.col("freq").desc(), F.col("word").asc()
        ).limit(max_vocab)
    return word_freq


def _bpe_merge_fold(syms, lhs, rhs):
    """Greedy left-to-right application of ONE merge (lhs, rhs) to a
    symbol array as an ordered ``aggregate`` fold — the engine-side
    apply step of the ``merges=`` injection path.  The freshly merged
    symbol is never re-merged: it would have to equal ``lhs`` again, but
    lhs+rhs != lhs since rhs is non-empty — so the fold agrees with the
    trainer's skip-two-symbols loop (:func:`_bpe_sequential`) by
    construction."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == lhs)
            & (s == rhs),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(lhs, rhs)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_sequential(
    word_freq: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[int, str, str, int]], list[tuple[str, list[str], int]]]:
    """The pinned sequential form of Sennrich Algorithm 1 over a collected
    (word, freq) list: pair statistics count every adjacent position
    (overlaps included) weighted by word frequency; the round winner is
    (pair_count desc, lhs asc, rhs asc) (Python tuple-min on (-count,
    lhs, rhs) — str comparison is by code point, which equals Spark's
    binary UTF-8 string order since UTF-8 preserves code-point order);
    the merge applies greedily left-to-right without re-examining the
    freshly merged symbol (the merged symbol lhs+rhs can never equal lhs
    — rhs is non-empty — so this loop and the engine's ordered fold
    :func:`_bpe_merge_fold` agree); pair exhaustion (every word one
    symbol) stops early with a shorter merge table.
    Returns (merges, vocab) as plain Python: merges =
    [(merge_rank, lhs, rhs, pair_count)], vocab = [(word, syms, freq)].
    Cost: O(n_merges * total_symbols) over the vocabulary-bounded
    table — wall grows with merges, not corpus."""
    segs: list[tuple[str, list[str], int]] = [
        (w, list(w) + [BPE_EOW], f) for w, f in word_freq
    ]
    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for _w, syms, f in segs:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break  # pairs exhausted: every word is one symbol
        (lhs, rhs), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, lhs, rhs, c))
        for idx, (w, syms, f) in enumerate(segs):
            out: list[str] = []
            i = 0
            n = len(syms)
            while i < n:
                if i + 1 < n and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[idx] = (w, out, f)
    return merges, segs


def _bpe_train_collected(
    docs: DataFrame, n_merges: int, max_vocab: int | None
) -> tuple[DataFrame, DataFrame]:
    """The BPE trainer behind every public entry point: ONE distributed
    tokenize scan builds the ``max_vocab``-capped (word, freq) table,
    which is collected and trained via :func:`_bpe_sequential`; returns
    (merge_table, final_vocab) as DataFrames, final_vocab being
    (word, syms, freq) with ``syms`` the word's segmentation AFTER every
    learned merge.  Two Spark jobs per call (the word-count shuffle and
    the collect), whatever ``n_merges`` is.

    Bounded-collect contract (VERDICT r9 item 2): ``max_vocab=None``
    collects the FULL distinct-word table, which is unbounded at corpus
    scale, so it warns loudly; a cap is silent."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if max_vocab is None:
        warnings.warn(
            "BPE training with max_vocab=None collects the FULL "
            "distinct-word table to the driver — unbounded at corpus "
            "scale; set max_vocab to bound the collect",
            stacklevel=3,
        )
    spark = docs.sparkSession
    rows = _bpe_word_freq(docs, max_vocab).collect()
    merges, segs = _bpe_sequential(
        [(r["word"], r["freq"]) for r in rows], n_merges
    )
    merges_df = spark.createDataFrame(
        merges, schema="merge_rank long, lhs string, rhs string, pair_count long"
    )
    vocab_df = spark.createDataFrame(
        segs, schema="word string, syms array<string>, freq long"
    )
    return merges_df, vocab_df


def bpe_trained_vocab(
    docs: DataFrame,
    *,
    n_merges: int = 8,
    max_vocab: int | None = None,
) -> DataFrame:
    """Train BPE and return the final segmented vocabulary
    ``(word, syms array<string>, freq)`` — the table to PERSIST for the
    train-once/encode-many pipeline (VERDICT r9 item 3): write it out
    once, then feed it back as ``bpe_encode_ids(..., vocab=)`` so every
    later encode batch skips training entirely.
    Same arguments and bound contract as :func:`bpe_train_merges`;
    injection equivalence is pinned by pytest (encode-with-injected
    tables is row-identical to encode-with-retrain).
    No counterpart in the reference (SURVEY.md section 2.1)."""
    return _bpe_train_collected(docs, n_merges, max_vocab)[1]


def _bpe_require_merge_table(merges: DataFrame) -> None:
    missing = {"merge_rank", "lhs", "rhs"} - set(merges.columns)
    if missing:
        raise ValueError(
            f"merges table is missing columns {sorted(missing)}; expected "
            "the bpe_train_merges schema (merge_rank, lhs, rhs[, ...])"
        )


def _bpe_vocab_from_merges(
    docs: DataFrame, merges: DataFrame, max_vocab: int | None
) -> DataFrame:
    """APPLY a previously learned merge table to ``docs``' word table —
    the injected-merges twin of the trainer's re-segmentation:
    (word, syms, freq) where ``syms`` is the greedy rank-order
    application of every merge via :func:`_bpe_merge_fold`, whose
    semantics are the trainer's, so the segmentation equals retraining
    (pinned by pytest).

    Scale shape: the merge table collapses to ONE array row (a grouped
    ``collect_list`` + ``array_sort`` on the n_merges-bounded table —
    production BPE is 32k-100k rows, a few MB) carried onto the word
    table by the documented 1-row broadcast cross; the merges then fold
    as DATA (an ``aggregate`` over the array column), so the expression
    tree stays constant-size no matter how many merges were learned —
    no driver collect and no per-merge plan growth anywhere."""
    _bpe_require_merge_table(merges)
    merges_arr = merges.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("merge_rank", "lhs", "rhs"))
            ),
            lambda m: F.struct(m["lhs"].alias("lhs"), m["rhs"].alias("rhs")),
        ).alias("bpe_merges_arr")
    )
    return (
        _bpe_word_freq(docs, max_vocab)
        .crossJoin(F.broadcast(merges_arr))
        .select(
            "word",
            F.aggregate(
                "bpe_merges_arr",
                F.concat(F.split("word", ""), F.array(F.lit(BPE_EOW))),
                lambda acc, m: _bpe_merge_fold(acc, m["lhs"], m["rhs"]),
            ).alias("syms"),
            "freq",
        )
    )


def bpe_segment_words(
    docs: DataFrame,
    *,
    n_merges: int = 8,
    max_vocab: int | None = None,
    merges: DataFrame | None = None,
) -> DataFrame:
    """Apply the learned BPE merges back to the vocabulary — the second
    half of the tokenizer: (word, pos, subword, freq) with ``pos`` the
    0-based subword position and ``freq`` the word's corpus frequency.
    ``SUM(freq) GROUP BY subword`` is the subword-vocabulary frequency
    table; joining ``tokens()`` on word carries the segmentation to the
    corpus without ever re-walking document text (the same
    dictionary-encode-then-broadcast shape as ``tokenize_ids``).

    The segmentation is the trainer's own final state
    (:func:`_bpe_sequential` returns it), so it is BY CONSTRUCTION the
    greedy left-to-right application of the learned merge sequence in
    rank order — no drift between the trainer's internal state and a
    separate re-application pass (the classic subword-nmt learn/apply
    mismatch class).  Same scale and bound contract as
    :func:`bpe_train_merges`: the working set after the one tokenize
    scan is the vocabulary-bounded word table; the posexplode output
    stays vocabulary-bounded (words x subwords-per-word).
    Deterministic: everything derives from the pinned trainer.

    ``merges=`` (VERDICT r9 item 3) injects a PREVIOUSLY LEARNED merge
    table (the ``bpe_train_merges`` schema) instead of retraining —
    the ``centroids=`` precedent from the IVF trainers; ``n_merges`` is
    ignored when given.  The injected path applies the merges with the
    engine-side fold (:func:`_bpe_vocab_from_merges`), so segmentation
    equals retraining — pinned by pytest.
    No counterpart in the reference (SURVEY.md section 2.1).
    """
    if merges is not None:
        vocab = _bpe_vocab_from_merges(docs, merges, max_vocab)
    else:
        vocab = _bpe_train_collected(docs, n_merges, max_vocab)[1]
    return vocab.select(
        "word",
        F.posexplode("syms").alias("pos", "subword"),
        "freq",
    ).select(
        "word", F.col("pos").cast("long").alias("pos"), "subword",
        F.col("freq").cast("long").alias("freq"),
    )


def bpe_encode_ids(
    docs: DataFrame,
    *,
    n_merges: int = 8,
    max_vocab: int | None = None,
    encode_docs: DataFrame | None = None,
    merges: DataFrame | None = None,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Corpus subword encode — the tokenizer's last mile (VERDICT r8
    item 2): train BPE on ``docs`` and emit the per-document subword-id
    stream ``(doc_id, pos, subword_pos, subword_id, subword)``, where
    ``pos`` is the whitespace-token position in the document,
    ``subword_pos`` the 0-based position within the token's
    segmentation, and ``subword_id`` a STABLE dense id assigned over the
    final subword vocabulary by (corpus frequency desc, subword asc) —
    the ``build_vocab`` id discipline.  Composing this with
    ``pack_sequences``/``cur_token_shards`` gives the end-to-end
    training-data path: raw text -> learned subword ids -> packed
    shards.

    ``encode_docs`` (default: the training corpus itself) is the table
    to ENCODE — the train-once/encode-many shape: train on the full
    corpus, then encode a slice or a new batch against the same learned
    vocabulary.  Words absent from the (possibly ``max_vocab``-capped)
    training vocabulary are dropped from the stream, as are empty
    tokens (both fall out of the inner dictionary join; the registered
    query's 1e6 cap keeps every test-corpus word, so only
    genuinely-unseen words drop).

    Scale shape — three bounded joins, zero corpus shuffles:
    1. the trainer's one tokenize scan + driver-side merge rounds over
       the vocabulary-bounded table (:func:`bpe_train_merges`);
    2. subword-id assignment: a groupBy over the vocabulary-bounded
       segmentation table, then a row_number over the SUBWORD vocabulary
       — bounded by |alphabet| + n_merges symbols (a BPE invariant: n
       merges mint at most n new symbols), so the unpartitioned window
       is fine (``build_vocab`` note);
    3. the corpus carry: ``tokens(encode_docs)`` broadcast-joins the
       word -> (subword_pos, subword_id) table — the classic
       dictionary-encode join (``tokenize_ids`` shape), so the
       Zipf-skewed word key never shuffles.
    Cross-engine: ids and positions are integers; the id order key
    (SUM(freq) desc, subword asc) is integer-exact in both engines.

    Trained-tokenizer reuse (VERDICT r9 item 3) — the train-once/
    encode-forever seam, superseding per-call retraining:
    - ``vocab=`` injects a persisted :func:`bpe_trained_vocab` table
      ``(word, syms, freq)``: training is skipped entirely and both the
      subword-id assignment and the dictionary broadcast derive from the
      injected table (its ``freq`` is the TRAINING corpus frequency, so
      ids are stable across encode batches — exactly what a production
      tokenizer needs).  The broadcast is bounded by the injected table,
      which inherits its bound from the capped training run.
    - ``merges=`` injects a :func:`bpe_train_merges` table instead:
      ``docs``' word table is re-segmented by applying the merges with
      the engine-side fold (:func:`_bpe_vocab_from_merges`) — same
      result as retraining when ``docs`` is the training corpus, and
      the way to segment a NEW corpus's vocabulary under old merges.
    Injection equivalence (both seams row-identical to retrain) is
    pinned by pytest; ``n_merges`` is ignored when either is given,
    and ``vocab=`` wins if both are.
    No counterpart in the reference (SURVEY.md section 2.1).
    """
    if vocab is not None:
        missing = {"word", "syms", "freq"} - set(vocab.columns)
        if missing:
            raise ValueError(
                f"vocab table is missing columns {sorted(missing)}; "
                "expected the bpe_trained_vocab schema (word, syms, freq)"
            )
        seg_vocab = vocab
    else:
        if max_vocab is None:
            # Same bounded contract as the trainer (VERDICT r9
            # item 2): the word -> subword dictionary below is BROADCAST,
            # so it must be vocabulary-bounded.  Uncapped is fine on a
            # bounded-vocab corpus (the registered query caps at 1e6, a
            # no-op on the test tables) but a silent giant broadcast on a
            # web corpus — warn loudly.  An injected vocab= is exempt:
            # its bound is the caller's persisted training table.
            warnings.warn(
                "bpe_encode_ids with max_vocab=None broadcasts the FULL "
                "word->subword dictionary — unbounded at corpus scale; "
                "set max_vocab to bound the broadcast",
                stacklevel=2,
            )
        if merges is not None:
            seg_vocab = _bpe_vocab_from_merges(docs, merges, max_vocab)
        else:
            seg_vocab = _bpe_train_collected(docs, n_merges, max_vocab)[1]
    seg = seg_vocab.select(
        "word",
        F.posexplode("syms").alias("subword_pos", "subword"),
        "freq",
    )
    sub_counts = seg.groupBy("subword").agg(F.sum("freq").alias("sub_count"))
    w = Window.orderBy(F.col("sub_count").desc(), F.col("subword").asc())
    ids = sub_counts.select(
        "subword",
        (F.row_number().over(w) - 1).cast("long").alias("subword_id"),
    )
    word_sub = seg.join(F.broadcast(ids), "subword").select(
        "word",
        F.col("subword_pos").cast("long").alias("subword_pos"),
        "subword_id",
        "subword",
    )
    src = tokens(encode_docs if encode_docs is not None else docs)
    return src.join(F.broadcast(word_sub), "word").select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "subword_pos",
        "subword_id",
        "subword",
    )


def substring_piece_vocab(
    docs: DataFrame, *, max_pieces: int = 200, max_piece_len: int = 4
) -> DataFrame:
    """Frequency-learned subword piece inventory for MaxMatch
    segmentation: (piece, piece_count) = the ``max_pieces`` most frequent
    substrings of length 2..``max_piece_len`` over the word-frequency
    table (every occurrence counted, overlaps included, weighted by word
    freq; tiebreak piece asc) UNION all single characters seen — the
    totality floor that makes greedy matching never need an UNK (BERT's
    WordPiece ships the same guarantee via its alphabet).

    Scale shape: the substring explode runs over the VOCABULARY table
    (one corpus tokenize scan -> (word, freq), the BPE discipline), so
    the candidate table is bounded by vocab x word_len x max_piece_len,
    never corpus-sized; the head selection is a TakeOrderedAndProject
    (count desc, piece asc), never a global sort.  Integer counts only —
    exact cross-engine.  No counterpart in the reference (SURVEY.md
    section 2.1)."""
    if max_piece_len < 2:
        raise ValueError(f"max_piece_len must be >= 2, got {max_piece_len}")
    if max_pieces < 1:
        raise ValueError(f"max_pieces must be >= 1, got {max_pieces}")
    return _substring_piece_counts(
        _bpe_word_freq(docs, None), max_pieces, max_piece_len
    )


def _substring_piece_counts(
    wf: DataFrame, max_pieces: int, max_piece_len: int
) -> DataFrame:
    """Shared (piece, piece_count) seed-inventory builder over a
    (word, freq) table — ONE implementation for MaxMatch
    (:func:`substring_piece_vocab`) and the unigram-LM seed
    (:func:`unigram_lm_segments`) so the counting semantics (every
    occurrence, overlaps included, freq-weighted; top ``max_pieces``
    multi-char pieces by (count desc, piece asc); single-char totality
    floor) cannot drift between them."""
    n = F.length("word")
    # all (start i, len l) substrings with 2 <= l <= max_piece_len,
    # i + l - 1 <= len(word): nested transform + flatten, one generator
    subs = wf.select(
        "freq",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.filter(
                        F.transform(
                            F.sequence(
                                F.lit(1), F.lit(max_piece_len)
                            ),
                            lambda l: F.when(
                                i + l - 1 <= n,
                                F.substring(F.col("word"), i, l),
                            ),
                        ),
                        lambda p: p.isNotNull() & (F.length(p) >= 2),
                    ),
                )
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("freq").alias("piece_count"))
    top = counts.orderBy(
        F.col("piece_count").desc(), F.col("piece").asc()
    ).limit(max_pieces)
    chars = (
        wf.select(
            "freq",
            F.explode(F.split("word", "")).alias("piece"),
        )
        .filter(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.sum("freq").alias("piece_count"))
    )
    return top.unionByName(chars).groupBy("piece").agg(
        F.max("piece_count").cast("long").alias("piece_count")
    )


def maxmatch_segment_words(
    docs: DataFrame, *, max_pieces: int = 200, max_piece_len: int = 4
) -> DataFrame:
    """MaxMatch (greedy longest-match-first) subword segmentation — the
    WordPiece APPLICATION algorithm (Schuster & Nakajima, ICASSP 2012;
    the greedy longest-prefix loop BERT's tokenizer runs): segment every
    corpus word against :func:`substring_piece_vocab`'s learned piece
    inventory, at each position taking the LONGEST matching piece
    (single characters are always pieces, so matching is total — no UNK
    class).  Output (word, pos, piece, freq) — the ``bpe_segment_words``
    shape, so the two segmenters A/B directly.  This is the
    longest-match counterpart to BPE's merge-order application: same
    vocabulary-bounded working set, but application is a single
    left-to-right pass against a FIXED piece set instead of a learned
    merge sequence.

    Scale design — ZERO iterative jobs: the piece inventory is bounded
    (``max_pieces`` + alphabet) by construction, so it is collected once
    and compiled INTO the segmentation expression as an array literal;
    the greedy scan is then one ``F.aggregate`` fold over character
    positions (skip-ahead accumulator: positions inside an emitted piece
    are skipped; at each live position a longest-first ``when`` chain
    probes the ``max_piece_len`` candidate lengths) — pure scan-stage
    codegen over the vocabulary table, no shuffle, no per-round driver
    actions and no iterative trainer.  The collect is
    the same bounded-state pattern as the IVF centroid literals; the
    ``array_contains`` probe is a linear scan of the literal, so this
    compiled form is sized for inventories up to a few thousand pieces
    — a 30k+ production inventory would swap the literal for a
    broadcast-join per (position, length) candidate against the piece
    table (the ``tokenize_ids`` dictionary shape), same semantics.
    Deterministic: the longest match at a position is unique (piece
    equality at fixed position+length), tiebreaks never arise.  Integer/
    string arithmetic only — exact cross-engine; the DuckDB twin is a
    WITH RECURSIVE left-to-right walk with a length-descending CASE,
    depth bounded by max word length.
    No counterpart in the reference (SURVEY.md section 2.1)."""
    pieces_df = substring_piece_vocab(
        docs, max_pieces=max_pieces, max_piece_len=max_piece_len
    )
    # bounded collect: max_pieces + |alphabet| strings (a few KB)
    multi = sorted(
        r["piece"]
        for r in pieces_df.collect()
        if len(r["piece"]) >= 2
    )
    multi_lit = F.array(*[F.lit(p) for p in multi]) if multi else (
        F.array().cast("array<string>")
    )
    wf = _bpe_word_freq(docs, None)
    n = F.length("word")

    def step(acc, i):
        def try_len(l, tail):
            cand = F.substring(F.col("word"), i, F.lit(l))
            return F.when(
                (i + l - 1 <= n) & F.array_contains(multi_lit, cand),
                F.struct(
                    (i + l).alias("np"),
                    F.concat(acc["pieces"], F.array(cand)).alias("pieces"),
                ),
            ).otherwise(tail)

        # longest-first probe chain; l=1 always matches (alphabet floor)
        chain = F.struct(
            (i + 1).alias("np"),
            F.concat(
                acc["pieces"], F.array(F.substring(F.col("word"), i, F.lit(1)))
            ).alias("pieces"),
        )
        for l in range(2, max_piece_len + 1):
            chain = try_len(l, chain)  # outermost when = longest l
        return F.when(i < acc["np"], acc).otherwise(chain)

    acc0 = F.struct(
        F.lit(1).cast("int").alias("np"),
        F.array().cast("array<string>").alias("pieces"),
    )
    seg = wf.select(
        "word",
        "freq",
        F.aggregate(
            F.sequence(F.lit(1), n), acc0, step, lambda a: a["pieces"]
        ).alias("pieces"),
    )
    # Eager barrier before the posexplode (optimization r12, the round-10
    # Viterbi discipline): Catalyst infers `size(pieces) > 0 AND
    # isnotnull(pieces)` from the Generate and — because the fold depends
    # only on the grouping key — pushes it through the word aggregate
    # onto the RAW TOKEN STREAM, evaluating the whole greedy scan twice
    # per corpus token instead of once per distinct word (measured r12 at
    # sf0.1: 2.3s -> 0.3s; the committed before-plan's Filter(3) holds
    # two full copies of the fold below the aggregate).  The checkpoint
    # materializes the vocabulary-bounded segmentation once and the
    # inferred filter lands on the tiny table.
    seg = seg.localCheckpoint()
    return seg.select(
        "word",
        F.posexplode("pieces").alias("pos", "piece"),
        "freq",
    ).select(
        "word",
        F.col("pos").cast("long").alias("pos"),
        "piece",
        F.col("freq").cast("long").alias("freq"),
    )


def unigram_lm_segments(
    docs: DataFrame,
    *,
    max_pieces: int = 200,
    max_piece_len: int = 4,
    n_iter: int = 2,
    max_word_len: int | None = None,
    max_vocab: int | None = None,
    model: DataFrame | None = None,
) -> DataFrame:
    """Unigram-LM subword segmentation (Kudo, ACL 2018 — the
    SentencePiece vocabulary-induction model): seed a piece inventory
    from substring frequencies, then run ``n_iter`` rounds of hard
    (Viterbi) EM over the word-frequency table — E-step segments every
    word by maximum piece-probability product under the current
    unigram model, M-step re-estimates piece probabilities from the
    Viterbi counts — and emit the final segmentation
    ``(word, pos, piece, freq)`` (the ``maxmatch_segment_words`` shape,
    so the three segmenter families A/B directly).  This completes the
    public tokenizer triple: BPE (merge-order apply), WordPiece
    (greedy longest-match apply), unigram LM (probabilistic Viterbi).

    Pinned variant (so the DuckDB twin is EXACT — the
    ``mwu_full_rounded`` discipline applied at the only float boundary):
    - seed inventory = :func:`_substring_piece_counts` (top
      ``max_pieces`` multi-char substrings by (count desc, piece asc),
      freq-weighted, overlaps included, UNION the single-character
      totality floor) — the piece SET is then fixed for all rounds;
    - piece log-probabilities are Laplace-smoothed and quantized to
      INTEGER micro-nats: ``lp = round(ln((cnt+1)/(T+V)) * 1e6)`` with
      ``T = sum(cnt)``, ``V = |inventory|`` — the one float op in the
      operator; everything downstream (DP sums, argmax comparisons) is
      exact BIGINT arithmetic, so segmentations cannot drift on
      summation order or last-ulp libm differences (ln agrees across
      engines to ~1 ulp; a flip would need the product to land within
      ~4e-9 of a .5 micro-nat boundary);
    - Viterbi DP: ``best[0] = 0``; ``best[i] = max over piece lengths
      l = 1..min(max_piece_len, i)`` of ``best[i-l] + lp(word[i-l+1..i])``
      over pieces IN the inventory (the char floor makes l=1 always
      valid — matching is total, no UNK class).  Laplace keeps every
      inventory piece usable in every round (a zero-count piece decays
      but never hits -inf), preserving totality across EM rounds;
    - the segmentation is recovered BACKWARD from ``best``: at ``pos``
      take the LARGEST l whose piece achieves ``best[pos-l] + lp =
      best[pos]`` (ties prefer the longer final piece) — equivalent to
      forward argmax with the same tiebreak, and implemented with the
      SAME rule on both engines so no backpointer state is needed;
    - ``max_word_len`` (None = unbounded) EXCLUDES longer words from
      training and emission — the knob exists because the SQL twin
      unrolls the DP to a fixed depth; the registered query sets it
      comfortably above the corpus maximum, so it filters nothing
      there (documented no-op, same as the encode query's max_vocab).
    - ``model=`` injects a PREVIOUSLY TRAINED model table (the
      :func:`unigram_trained_model` schema ``(piece, lp)``) instead of
      retraining — the ``merges=`` / ``centroids=`` seam applied to
      this tokenizer; ``max_pieces`` / ``n_iter`` are ignored when
      given, and the Viterbi unroll depth is derived from the
      INJECTED model (``max(call-site max_piece_len, longest piece in
      the model)`` — one cheap max over the inventory-bounded table),
      so a model trained with longer pieces segments bit-identically
      to retraining even at the default ``max_piece_len``.  The
      injected path runs the SAME Viterbi fold the trainer segments
      with — pinned by pytest.  New docs may contain characters
      outside the trained alphabet: matching stays TOTAL (an
      out-of-alphabet character scores a fixed large-negative
      sentinel and falls back to the single-character default, and
      the DP RECOVERS after it — later positions segment with real
      inventory pieces again), also pinned by pytest.

    Scale design — the tokenizer-family contract throughout: the
    corpus-scale cost is the ONE tokenize scan inside
    :func:`_bpe_word_freq`; every EM round runs on the
    vocabulary-bounded word table against an inventory-bounded
    (``max_pieces`` + alphabet) model.  Per round: the model is ONE
    map column built by a grouped ``map_from_entries`` and carried by
    the documented 1-row broadcast cross (never collected to Python);
    the Viterbi DP + backward recovery are scan-stage ``aggregate``
    folds over character positions (zero shuffles, zero joins on the
    word side); the M-step recount is one piece-keyed groupBy bounded
    by inventory x words.  FIXED ``n_iter`` rounds with the pagerank
    ``localCheckpoint`` discipline on the (tiny) inventory table —
    n_iter small bounded jobs, corpus-size independent.
    No counterpart in the reference (SURVEY.md section 2.1).
    """
    if max_piece_len < 2:
        raise ValueError(f"max_piece_len must be >= 2, got {max_piece_len}")
    if max_pieces < 1:
        raise ValueError(f"max_pieces must be >= 1, got {max_pieces}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if max_word_len is not None and max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    if model is not None:
        _unigram_require_model(model)
        # ADVICE r10 (medium): the unroll depth must cover the model's
        # longest piece or a model trained with a larger max_piece_len
        # silently segments differently from retraining.  The model is
        # inventory-bounded (max_pieces + alphabet rows), so this max
        # is one sub-ms job on a few-KB table — the bounded-collect
        # contract holds.
        model_max_l = model.agg(F.max(F.length("piece"))).first()[0]
        unroll_l = max(max_piece_len, int(model_max_l or 1))
        wf = _unigram_word_table(docs, max_vocab, max_word_len)
        seg = _unigram_viterbi_segments(
            wf.crossJoin(F.broadcast(_unigram_lp_map_row(model))),
            unroll_l,
        )
    else:
        wf, inv = _unigram_train(
            docs, max_pieces, max_piece_len, n_iter, max_word_len, max_vocab
        )
        seg = _unigram_viterbi_segments(
            wf.crossJoin(F.broadcast(_unigram_lp_map_from_counts(inv))),
            max_piece_len,
        )
    return seg.select(
        "word",
        F.col("pos").cast("long").alias("pos"),
        "piece",
        F.col("freq").cast("long").alias("freq"),
    )


def unigram_encode_ids(
    docs: DataFrame,
    *,
    max_pieces: int = 200,
    max_piece_len: int = 4,
    n_iter: int = 2,
    max_word_len: int | None = None,
    max_vocab: int | None = None,
    encode_docs: DataFrame | None = None,
    model: DataFrame | None = None,
) -> DataFrame:
    """Corpus piece-id encode for the unigram tokenizer — the
    :func:`bpe_encode_ids` last-mile applied to the third family:
    segment the vocabulary with :func:`unigram_lm_segments`, assign
    STABLE dense ids over the USED piece set by (Viterbi-weighted
    corpus frequency desc, piece asc) (the ``build_vocab`` id
    discipline; inventory pieces the final Viterbi never chooses get
    no id — persist the full model with :func:`unigram_trained_model`),
    and emit the per-document id stream
    ``(doc_id, pos, piece_pos, piece_id, piece)``.  Composes with
    ``pack_sequences``/``cur_token_shards`` into the same end-to-end
    text -> ids -> shards path as the BPE encode.

    ``encode_docs`` (default: the training corpus) is the table to
    ENCODE — train-once/encode-many; words absent from the (possibly
    capped / length-filtered) training vocabulary drop out of the
    dictionary join, as do empty tokens.  ``model=`` injects a
    persisted :func:`unigram_trained_model` table so no EM rounds run
    at all (the ids still derive from ``docs``' segmentation
    frequencies, keeping them stable for a fixed training corpus).

    Scale shape (the bpe_encode_ids contract): the EM trainer's one
    tokenize scan + inventory-bounded rounds; piece-id assignment is a
    groupBy over the vocabulary-bounded segmentation then a row_number
    over the PIECE inventory (bounded by max_pieces + alphabet — the
    bounded-head window precedent); the corpus carry broadcast-joins
    word -> (piece_pos, piece_id) so the Zipf-skewed word key never
    shuffles.  The dictionary broadcast is vocabulary-sized: warn when
    ``max_vocab`` is None (the bounded-broadcast contract).
    No counterpart in the reference (SURVEY.md section 2.1)."""
    if max_vocab is None:
        warnings.warn(
            "unigram_encode_ids with max_vocab=None broadcasts the FULL "
            "word->piece dictionary — unbounded at corpus scale; set "
            "max_vocab to bound the broadcast",
            stacklevel=2,
        )
    seg = unigram_lm_segments(
        docs,
        max_pieces=max_pieces,
        max_piece_len=max_piece_len,
        n_iter=n_iter,
        max_word_len=max_word_len,
        max_vocab=max_vocab,
        model=model,
    )
    # seg feeds BOTH the piece-count aggregation and the dictionary join
    # below; the expensive Viterbi fold is already materialized INSIDE
    # _unigram_viterbi_segments (optimization r12), so the two consumers
    # here only re-run the cheap posexplode over that vocabulary-bounded
    # checkpoint — no second barrier needed.
    piece_counts = seg.groupBy("piece").agg(
        F.sum("freq").alias("piece_count")
    )
    w = Window.orderBy(F.col("piece_count").desc(), F.col("piece").asc())
    ids = piece_counts.select(
        "piece", (F.row_number().over(w) - 1).cast("long").alias("piece_id")
    )
    word_piece = seg.join(F.broadcast(ids), "piece").select(
        "word",
        F.col("pos").alias("piece_pos"),
        "piece_id",
        "piece",
    )
    src = tokens(encode_docs if encode_docs is not None else docs)
    return src.join(F.broadcast(word_piece), "word").select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "piece_pos",
        "piece_id",
        "piece",
    )


def unigram_trained_model(
    docs: DataFrame,
    *,
    max_pieces: int = 200,
    max_piece_len: int = 4,
    n_iter: int = 2,
    max_word_len: int | None = None,
    max_vocab: int | None = None,
) -> DataFrame:
    """Train the unigram LM and return the final model ``(piece,
    lp bigint)`` — the quantized micro-nat log-probabilities the last
    E-step segments with, i.e. the table to PERSIST for the
    train-once/segment-many pipeline (the ``bpe_trained_vocab`` /
    ``centroids=`` seam applied to the third tokenizer): write it out
    once, then feed it back as ``unigram_lm_segments(..., model=)`` so
    every later batch runs ONE Viterbi pass and zero EM rounds.
    Same arguments and pinned arithmetic as :func:`unigram_lm_segments`;
    injection equivalence (segment-with-injected-model row-identical to
    segment-with-retrain) is pinned by pytest.  The model is
    inventory-bounded (``max_pieces`` + alphabet rows), so persisting or
    broadcasting it is a few KB at these bounds and a few MB at
    production SentencePiece sizes (32k-1M pieces).
    No counterpart in the reference (SURVEY.md section 2.1)."""
    _, inv = _unigram_train(
        docs, max_pieces, max_piece_len, n_iter, max_word_len, max_vocab
    )
    return _unigram_lp_scores(inv)


def _unigram_require_model(model: DataFrame) -> None:
    missing = {"piece", "lp"} - set(model.columns)
    if missing:
        raise ValueError(
            f"model table is missing columns {sorted(missing)}; expected "
            "the unigram_trained_model schema (piece, lp[, ...])"
        )


def _unigram_word_table(
    docs: DataFrame, max_vocab: int | None, max_word_len: int | None
) -> DataFrame:
    wf = _bpe_word_freq(docs, max_vocab)
    if max_word_len is not None:
        wf = wf.filter(F.length("word") <= max_word_len)
    return wf


def _unigram_lp_scores(inv_df: DataFrame) -> DataFrame:
    """(piece, cnt) -> (piece, lp): Laplace-smoothed log-probs
    quantized to BIGINT micro-nats, lp = round(ln((cnt+1)/(T+V)) * 1e6)
    — the operator's ONE float op; everything downstream is exact
    BIGINT arithmetic (see :func:`unigram_lm_segments`)."""
    tot = inv_df.agg(
        F.sum("cnt").cast("double").alias("T"),
        F.count(F.lit(1)).cast("double").alias("V"),
    )
    return inv_df.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.round(
            F.log((F.col("cnt") + F.lit(1.0)) / (F.col("T") + F.col("V")))
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("lp"),
    )


def _unigram_lp_map_row(lp_df: DataFrame) -> DataFrame:
    """(piece, lp) -> ONE row holding the piece->lp map (the model
    column the 1-row broadcast cross carries onto the word table)."""
    return lp_df.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "lp"))).alias(
            "lp_map"
        )
    )


def _unigram_lp_map_from_counts(inv_df: DataFrame) -> DataFrame:
    """(piece, cnt) -> ONE row (lp_map), fusing :func:`_unigram_lp_scores`
    and :func:`_unigram_lp_map_row` into a single aggregate (optimization
    r12, guide §2.4): the unfused chain built the model in three stages —
    a 1-row totals aggregate, a broadcast crossJoin back onto the
    inventory, and a second 1-row map aggregate — paid once per EM round
    and once for the final segmentation.  Here one aggregate collects the
    (piece, cnt) entries together with T and V, and the lp quantization
    ``round(ln((cnt+1)/(T+V)) * 1e6)`` runs inside a transform over the
    collected array — bounded by the inventory (max_pieces + alphabet),
    and arithmetically IDENTICAL to _unigram_lp_scores term for term, so
    the injected-model parity pytest pins the equivalence."""
    return (
        inv_df.agg(
            F.collect_list(F.struct("piece", "cnt")).alias("entries"),
            F.sum("cnt").cast("double").alias("T"),
            F.count(F.lit(1)).cast("double").alias("V"),
        ).select(
            F.map_from_entries(
                F.transform(
                    "entries",
                    lambda e: F.struct(
                        e["piece"].alias("piece"),
                        F.round(
                            F.log(
                                (e["cnt"] + F.lit(1.0))
                                / (F.col("T") + F.col("V"))
                            )
                            * F.lit(1000000.0)
                        )
                        .cast("long")
                        .alias("lp"),
                    ),
                )
            ).alias("lp_map")
        )
    )


def _unigram_lp_at(pos_end, l):
    """lp of the piece of length l ending at 1-based position pos_end,
    NULL if absent from the inventory or out of range."""
    return F.try_element_at(
        F.col("lp_map"), F.substring(F.col("word"), pos_end - l + 1, l)
    )


# Score for a single character ABSENT from the model inventory (only
# reachable on the injected-model path — the trainer's alphabet floor
# makes every training-corpus char present).  Far below any real
# micro-nat lp (>= -~3e7 even at 100 TB corpus counts) so an
# out-of-alphabet char is taken only when forced, yet small enough
# that len(word) sentinels cannot overflow BIGINT (2^40 * 1e6 < 2^63).
# Keeping it non-NULL is the ADVICE r10 fix: a NULL here poisoned
# 'cand >= best' for every later position, degrading the whole word
# suffix to single chars instead of recovering after the OOV char.
_UNIGRAM_OOV_LP = -(2**40)


def _unigram_viterbi_segments(words: DataFrame, L: int) -> DataFrame:
    """One E-step: (word, freq, lp_map) -> (word, pos, piece, freq)
    via the forward DP fold + backward recovery fold."""
    n = F.length("word")
    lp_at = _unigram_lp_at

    def dp_step(acc, i):
        # candidates l = 1..L, tie -> larger l (processed ascending
        # with >=, so a longer piece overwrites an equal score).
        # l=1: char floor — total by construction in the trained path,
        # OOV-sentinel-backed in the injected path so best[] is never
        # NULL and the DP recovers after an out-of-alphabet char
        best = F.element_at(acc, i) + F.coalesce(
            lp_at(i, 1), F.lit(_UNIGRAM_OOV_LP)
        )
        for l in range(2, L + 1):
            cand = F.when(
                i >= l, F.element_at(acc, i - l + 1) + lp_at(i, l)
            )
            best = F.when(
                cand.isNotNull() & (cand >= best), cand
            ).otherwise(best)
        return F.concat(acc, F.array(best))

    dp = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(0).cast("long")),
        dp_step,
    )
    with_dp = words.select("word", "freq", "lp_map", dp.alias("best"))

    def back_step(acc, _i):
        pos = acc["pos"]
        at = lambda p: F.element_at(F.col("best"), p + 1)
        # largest l achieving best[pos-l] + lp = best[pos]; built
        # ascending so the LONGEST candidate wraps outermost and is
        # probed first (the when chain evaluates outside-in)
        chosen = F.lit(1)
        for l in range(2, L + 1):
            hit = (
                (pos >= l)
                & lp_at(pos, l).isNotNull()
                & (at(pos - l) + lp_at(pos, l) == at(pos))
            )
            chosen = F.when(hit, F.lit(l)).otherwise(chosen)
        piece = F.substring(F.col("word"), pos - chosen + 1, chosen)
        return F.when(pos <= 0, acc).otherwise(
            F.struct(
                (pos - chosen).alias("pos"),
                F.concat(acc["rev"], F.array(piece)).alias("rev"),
            )
        )

    back0 = F.struct(
        n.cast("int").alias("pos"),
        F.array().cast("array<string>").alias("rev"),
    )
    pieces = F.aggregate(
        F.sequence(F.lit(1), n),
        back0,
        back_step,
        lambda a: F.reverse(a["rev"]),
    )
    # Eager barrier before the posexplode (optimization r12, the same
    # inferred-filter pathology as maxmatch_segment_words): Catalyst
    # infers `size(pieces) > 0 AND isnotnull(pieces)` from the Generate
    # and pushes it into the 1-row broadcast cross's join CONDITION —
    # the round-10 "conditioned BNLJ" — so the full forward-DP +
    # backward-recovery fold evaluated ~3x per word (the before-plan's
    # BNLJ condition is a 234 KB expression holding two fold copies).
    # Materializing the vocabulary-bounded (word, freq, pieces)
    # projection — lp_map deliberately dropped first so the checkpoint
    # never stores an inventory-map copy per word row — runs the fold
    # exactly once; the inferred filter lands on the tiny table.
    seg = with_dp.select("word", "freq", pieces.alias("pieces")).localCheckpoint()
    return seg.select(
        "word",
        F.posexplode("pieces").alias("pos", "piece"),
        "freq",
    )


def _unigram_train(
    docs: DataFrame,
    max_pieces: int,
    max_piece_len: int,
    n_iter: int,
    max_word_len: int | None,
    max_vocab: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared EM loop: returns (word table, final (piece, cnt)
    inventory).  The final model is :func:`_unigram_lp_scores` /
    :func:`_unigram_lp_map_from_counts` over the returned inventory —
    both derive the SAME quantized lp values, so segment-and-return and
    train-then-inject are identical by construction."""
    wf = _unigram_word_table(docs, max_vocab, max_word_len)
    # ONE corpus tokenize scan total: the vocabulary-bounded word table
    # is eagerly checkpointed so the n_iter
    # Viterbi passes below re-read the tiny table, never the corpus
    wf = wf.localCheckpoint()
    inv = _substring_piece_counts(wf, max_pieces, max_piece_len).select(
        "piece", F.col("piece_count").alias("cnt")
    )
    # keep the seed piece SET around: the M-step recount below restores
    # zero-count pieces against it (the inventory never shrinks)
    inv = inv.localCheckpoint()
    piece_set = inv.select("piece")

    for _r in range(n_iter - 1):
        # M-step: Viterbi piece counts (freq-weighted occurrences),
        # zero-filled against the fixed seed set; eager + bounded
        seg = _unigram_viterbi_segments(
            wf.crossJoin(F.broadcast(_unigram_lp_map_from_counts(inv))),
            max_piece_len,
        )
        counts = seg.groupBy("piece").agg(F.sum("freq").alias("used"))
        inv = (
            piece_set.join(counts, "piece", "left")
            .select(
                "piece",
                F.coalesce(F.col("used"), F.lit(0)).cast("long").alias("cnt"),
            )
            .localCheckpoint()
        )
    return wf, inv
