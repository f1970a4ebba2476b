"""Round-10 regression tests.

Covers the VERDICT r9 items: the bounded-collect contract on the BPE
trainer and the encode broadcast (#2), the trained-tokenizer reuse seam
(#3), and the ADVICE r9 bench/probe-runner fixes.
"""

from __future__ import annotations

import os
import sys
import warnings

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dask_mwu_spark.operators import text as tx


def _toy_docs(spark):
    return spark.createDataFrame(
        [(0, "low low low low low"), (1, "lower lower"), (2, "newest widest")],
        "doc_id long, text string",
    )


# ---------------------------------------------------------------------------
# bounded-collect contract (VERDICT r9 item 2 / ADVICE r9)
# ---------------------------------------------------------------------------


def test_bpe_uncapped_warns_capped_silent(spark):
    """Every BPE entry point trains through the driver-side loop, which
    collects the (word, freq) table: max_vocab=None is loud, never
    silent (toy corpora and probes stay usable); a cap is warning-free."""
    docs = _toy_docs(spark)
    for fn in (
        tx.bpe_train_merges,
        tx.bpe_trained_vocab,
        tx.bpe_segment_words,
        tx.bpe_encode_ids,
    ):
        with pytest.warns(UserWarning, match="max_vocab"):
            fn(docs, n_merges=2)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            fn(docs, n_merges=2, max_vocab=10_000)


def test_bpe_encode_uncapped_broadcast_warns(spark):
    """The encode dictionary broadcast shares the same contract: uncapped
    warns, capped is silent and bit-identical on a bounded-vocab
    corpus."""
    docs = _toy_docs(spark)
    with pytest.warns(UserWarning, match="broadcast"):
        uncapped = sorted(
            tuple(r) for r in tx.bpe_encode_ids(docs, n_merges=4).collect()
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        capped = sorted(
            tuple(r)
            for r in tx.bpe_encode_ids(
                docs, n_merges=4, max_vocab=1_000_000
            ).collect()
        )
    assert uncapped == capped


# ---------------------------------------------------------------------------
# trained-tokenizer reuse seam (VERDICT r9 item 3)
# ---------------------------------------------------------------------------


def test_bpe_segment_words_injected_merges_identical(spark, sf_dir):
    """merges= injection is row-identical to retraining on the real
    corpus — the centroids= equivalence bar, at a merge count past the
    unit-test regime."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = 12
    learned = tx.bpe_train_merges(docs, n_merges=n)
    retrain = sorted(
        tuple(r) for r in tx.bpe_segment_words(docs, n_merges=n).collect()
    )
    injected = sorted(
        tuple(r) for r in tx.bpe_segment_words(docs, merges=learned).collect()
    )
    assert retrain == injected


def test_bpe_encode_injected_vocab_and_merges_identical(spark):
    """Both encode seams (vocab= from bpe_trained_vocab, merges= from
    bpe_train_merges) reproduce the retrain stream exactly, including
    the train-on-full/encode-a-slice composition."""
    docs = _toy_docs(spark)
    cap = 10_000
    sl = docs.where(F.col("doc_id") % 2 == 0)
    retrain = sorted(
        tuple(r)
        for r in tx.bpe_encode_ids(
            docs, n_merges=4, max_vocab=cap, encode_docs=sl
        ).collect()
    )
    trained = tx.bpe_trained_vocab(docs, n_merges=4, max_vocab=cap)
    learned = tx.bpe_train_merges(docs, n_merges=4, max_vocab=cap)
    with warnings.catch_warnings():
        # injected vocab= is exempt from the broadcast warning by design
        warnings.simplefilter("error")
        via_vocab = sorted(
            tuple(r)
            for r in tx.bpe_encode_ids(
                docs, vocab=trained, encode_docs=sl
            ).collect()
        )
    via_merges = sorted(
        tuple(r)
        for r in tx.bpe_encode_ids(
            docs, merges=learned, max_vocab=cap, encode_docs=sl
        ).collect()
    )
    assert retrain == via_vocab
    assert retrain == via_merges


def test_bpe_injected_merges_segment_new_words(spark):
    """Old merges applied to a NEW corpus's vocabulary: the fold is the
    trainer's greedy left-to-right pass, so 'aaa' under merge (a,a)
    segments as [aa, a, </w>] — never re-merging the fresh symbol."""
    # "aaa" trains pair counts (a,a)=2 > (a,</w>)=1, so round 0 learns
    # (a,a) outright (no tiebreak — (a,</w>) would win one on rhs asc)
    train = spark.createDataFrame([(0, "aaa b")], "doc_id long, text string")
    new = spark.createDataFrame([(0, "aaa ab")], "doc_id long, text string")
    learned = tx.bpe_train_merges(train, n_merges=1, max_vocab=100)
    assert [(r["lhs"], r["rhs"]) for r in learned.collect()] == [("a", "a")]
    rows = tx.bpe_segment_words(new, merges=learned).collect()
    by_word = {}
    for r in rows:
        by_word.setdefault(r["word"], []).append((r["pos"], r["subword"]))
    assert sorted(by_word["aaa"]) == [(0, "aa"), (1, "a"), (2, tx.BPE_EOW)]
    assert sorted(by_word["ab"]) == [(0, "a"), (1, "b"), (2, tx.BPE_EOW)]


def test_bpe_injection_validates_schemas(spark):
    docs = _toy_docs(spark)
    bad = spark.createDataFrame([(0, "a")], "merge_rank long, lhs string")
    with pytest.raises(ValueError, match="rhs"):
        tx.bpe_segment_words(docs, merges=bad)
    badv = spark.createDataFrame([("a", 1)], "word string, freq long")
    with pytest.raises(ValueError, match="syms"):
        tx.bpe_encode_ids(docs, vocab=badv)


# ---------------------------------------------------------------------------
# unigram-LM (SentencePiece) Viterbi-EM segmentation (VERDICT r9 item 4)
# ---------------------------------------------------------------------------


def _ref_unigram(word_freq, max_pieces, L, n_iter):
    """Pure-Python twin of the pinned algorithm (Kudo 2018, hard-EM
    variant): seed counts -> n_iter x (Laplace micro-nat log-probs,
    Viterbi forward DP, longest-piece backward recovery, recount)."""
    import math

    multi, chars = {}, {}
    for w, f in word_freq.items():
        for i in range(len(w)):
            chars[w[i]] = chars.get(w[i], 0) + f
            for l in range(2, L + 1):
                if i + l <= len(w):
                    p = w[i : i + l]
                    multi[p] = multi.get(p, 0) + f
    top = sorted(multi.items(), key=lambda kv: (-kv[1], kv[0]))[:max_pieces]
    inv = dict(top)
    for c, f in chars.items():
        inv[c] = max(inv.get(c, 0), f)
    piece_set = set(inv)
    seg = None
    for r in range(n_iter):
        T, V = sum(inv.values()), len(inv)
        lp = {
            p: round(math.log((c + 1) / (T + V)) * 1e6)
            for p, c in inv.items()
        }
        seg = {}
        for w, f in word_freq.items():
            best = [0]
            for i in range(1, len(w) + 1):
                b = best[i - 1] + lp[w[i - 1 : i]]
                for l in range(2, min(L, i) + 1):
                    p = w[i - l : i]
                    if p in lp and best[i - l] + lp[p] >= b:
                        b = best[i - l] + lp[p]
                best.append(b)
            pos, rev = len(w), []
            while pos > 0:
                chosen = 1
                for l in range(min(L, pos), 1, -1):
                    p = w[pos - l : pos]
                    if p in lp and best[pos - l] + lp[p] == best[pos]:
                        chosen = l
                        break
                rev.append(w[pos - chosen : pos])
                pos -= chosen
            seg[w] = list(reversed(rev))
        if r < n_iter - 1:
            cnt = {p: 0 for p in piece_set}
            for w, f in word_freq.items():
                for p in seg[w]:
                    cnt[p] += f
            inv = cnt
    return seg


def _unigram_engine_segs(spark, text_rows, **kw):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(text_rows)], "doc_id long, text string"
    )
    got = {}
    for r in tx.unigram_lm_segments(docs, **kw).collect():
        got.setdefault(r["word"], []).append((r["pos"], r["piece"]))
    return {w: [p for _, p in sorted(v)] for w, v in got.items()}


def test_unigram_hand_worked_example(spark):
    """Hand-computed Viterbi (Kudo 2018's argmax-over-lattice): corpus
    'ab ab b' seeds inv {ab:2, a:2, b:3}; round 1 has lp(ab) = lp(a) =
    round(ln(3/10)*1e6), lp(b) = round(ln(4/10)*1e6), so [ab] beats
    [a, b] (-1203973 > -2120264); the round-2 recount (ab:2, b:1, a:0)
    only widens the gap.  'b' is a single char either way."""
    segs = _unigram_engine_segs(
        spark, ["ab ab b"], max_pieces=8, max_piece_len=3, n_iter=2
    )
    assert segs == {"ab": ["ab"], "b": ["b"]}


def test_unigram_tiebreak_prefers_longer_final_piece(spark):
    """'newest' ties [new, est] vs [newe, st] under the seed model; the
    pinned backward rule takes the LONGEST piece achieving the DP
    optimum at each position, so [new, est] wins."""
    segs = _unigram_engine_segs(
        spark,
        ["low low low lower lowest newest widest"],
        max_pieces=24,
        max_piece_len=4,
        n_iter=2,
    )
    assert segs["newest"] == ["new", "est"]
    assert segs["widest"] == ["w", "id", "est"]


def test_unigram_matches_python_twin(spark):
    corpora = [
        ["ab ab b"],
        ["low low low lower lowest newest widest", "wide new lows"],
        ["aaa aa a abab baba", "x yz zzz"],
        ["mississippi miss issi ppi", "pip pip hurray"],
    ]
    for rows in corpora:
        wf = {}
        for t in rows:
            for w in t.split(" "):
                if w:
                    wf[w] = wf.get(w, 0) + 1
        ref = _ref_unigram(wf, 16, 4, 2)
        got = _unigram_engine_segs(
            spark, rows, max_pieces=16, max_piece_len=4, n_iter=2
        )
        assert got == ref, rows


def test_unigram_real_corpus_totality_and_reconstruction(spark, sf_dir):
    """Every corpus word is fully segmented (concat == word, contiguous
    0-based positions) and carries its corpus frequency."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rows = tx.unigram_lm_segments(
        docs, max_pieces=24, max_piece_len=4, n_iter=2, max_word_len=16
    ).collect()
    by_word = {}
    for r in rows:
        by_word.setdefault((r["word"], r["freq"]), []).append(
            (r["pos"], r["piece"])
        )
    assert by_word
    for (w, _f), ps in by_word.items():
        ps.sort()
        assert [p for p, _ in ps] == list(range(len(ps))), w
        assert "".join(p for _, p in ps) == w, w


def test_unigram_max_word_len_excludes_long_words(spark):
    segs = _unigram_engine_segs(
        spark,
        ["verylongword short vv"],
        max_pieces=16,
        max_piece_len=4,
        n_iter=1,
        max_word_len=8,
    )
    assert "verylongword" not in segs
    assert set(segs) == {"short", "vv"}


def test_unigram_validation(spark):
    docs = _toy_docs(spark)
    with pytest.raises(ValueError, match="n_iter"):
        tx.unigram_lm_segments(docs, n_iter=0)
    with pytest.raises(ValueError, match="max_piece_len"):
        tx.unigram_lm_segments(docs, max_piece_len=1)
    with pytest.raises(ValueError, match="max_pieces"):
        tx.unigram_lm_segments(docs, max_pieces=0)
    with pytest.raises(ValueError, match="max_word_len"):
        tx.unigram_lm_segments(docs, max_word_len=0)


# ---------------------------------------------------------------------------
# unigram trained-model reuse seam (the merges=/centroids= precedent)
# ---------------------------------------------------------------------------


def test_unigram_injected_model_matches_retrain(spark):
    """segment-with-injected-model is row-identical to
    segment-with-retrain — the train-once/segment-many contract; the
    model survives a parquet round trip (the persistence the seam
    exists for)."""
    import tempfile

    rows = ["low low low lower lowest newest widest", "wide new lows"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    kw = dict(max_pieces=24, max_piece_len=4, n_iter=2)
    retrained = sorted(
        tuple(r) for r in tx.unigram_lm_segments(docs, **kw).collect()
    )
    model = tx.unigram_trained_model(docs, **kw)
    assert model.columns == ["piece", "lp"]
    injected = sorted(
        tuple(r)
        for r in tx.unigram_lm_segments(docs, model=model).collect()
    )
    assert injected == retrained
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "unigram_model.parquet")
        model.write.parquet(path)
        roundtrip = sorted(
            tuple(r)
            for r in tx.unigram_lm_segments(
                docs, model=spark.read.parquet(path)
            ).collect()
        )
    assert roundtrip == retrained


def test_unigram_injected_model_segments_new_docs(spark):
    """The encode-many half: a model trained on corpus A segments
    corpus B (words unseen at training time stay total via the char
    floor — every inventory miss falls back to single chars)."""
    train = spark.createDataFrame(
        [(0, "low low low lower lowest")], "doc_id long, text string"
    )
    model = tx.unigram_trained_model(
        train, max_pieces=16, max_piece_len=4, n_iter=2
    )
    new = spark.createDataFrame(
        [(0, "lowest qqq")], "doc_id long, text string"
    )
    got = {}
    for r in tx.unigram_lm_segments(new, model=model).collect():
        got.setdefault(r["word"], []).append((r["pos"], r["piece"]))
    segs = {w: [p for _, p in sorted(v)] for w, v in got.items()}
    assert "".join(segs["lowest"]) == "lowest"
    # 'q' was never in the training alphabet: totality falls back to chars
    assert segs["qqq"] == ["q", "q", "q"]


def test_unigram_model_validation(spark):
    docs = _toy_docs(spark)
    bad = spark.createDataFrame([("ab", 1)], "piece string, cnt long")
    with pytest.raises(ValueError, match="lp"):
        tx.unigram_lm_segments(docs, model=bad)


# ---------------------------------------------------------------------------
# unigram encode last-mile (bpe_encode_ids parity for the third family)
# ---------------------------------------------------------------------------


def test_unigram_encode_reconcatenates_and_ids_are_dense(spark):
    rows = ["low low low lower lowest newest widest", "wide new lows"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    kw = dict(max_pieces=24, max_piece_len=4, n_iter=2)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        enc = tx.unigram_encode_ids(docs, **kw).collect()
        seg = {}
        for r in tx.unigram_lm_segments(docs, **kw).collect():
            seg.setdefault(r["word"], []).append((r["pos"], r["piece"]))
    segs = {w: [p for _, p in sorted(v)] for w, v in seg.items()}
    toks = {
        (d, p): w
        for d, t in enumerate(rows)
        for p, w in enumerate(t.split(" "))
    }
    by_tok = {}
    for r in enc:
        by_tok.setdefault((r["doc_id"], r["pos"]), []).append(
            (r["piece_pos"], r["piece"], r["piece_id"])
        )
    assert set(by_tok) == set(toks)
    for key, pieces in by_tok.items():
        pieces.sort()
        got = [p for _, p, _ in pieces]
        assert "".join(got) == toks[key]
        assert got == segs[toks[key]]
    # ids are dense 0..N-1 over the used piece set, freq-desc ordered
    ids = {r["piece"]: r["piece_id"] for r in enc}
    assert sorted(ids.values()) == list(range(len(ids)))


def test_unigram_encode_injected_model_and_new_batch(spark):
    train = spark.createDataFrame(
        [(0, "low low low lower lowest newest widest"), (1, "wide new lows")],
        "doc_id long, text string",
    )
    kw = dict(max_pieces=24, max_piece_len=4, n_iter=2, max_vocab=10_000)
    retrained = sorted(
        tuple(r) for r in tx.unigram_encode_ids(train, **kw).collect()
    )
    model = tx.unigram_trained_model(
        train, max_pieces=24, max_piece_len=4, n_iter=2
    )
    injected = sorted(
        tuple(r)
        for r in tx.unigram_encode_ids(train, model=model, **kw).collect()
    )
    assert injected == retrained
    # encode a new batch: the unseen word drops out of the dictionary
    # join; seen words keep their training segmentation + ids
    batch = spark.createDataFrame(
        [(7, "lowest zzzunseen")], "doc_id long, text string"
    )
    out = tx.unigram_encode_ids(train, encode_docs=batch, **kw).collect()
    assert {r["doc_id"] for r in out} == {7}
    assert {r["pos"] for r in out} == {0}  # only 'lowest' survives
    assert "".join(
        p for _, p in sorted((r["piece_pos"], r["piece"]) for r in out)
    ) == "lowest"


def test_unigram_encode_uncapped_broadcast_warns(spark):
    docs = _toy_docs(spark)
    with pytest.warns(UserWarning, match="max_vocab"):
        tx.unigram_encode_ids(docs, max_pieces=8, n_iter=1).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        tx.unigram_encode_ids(
            docs, max_pieces=8, n_iter=1, max_vocab=10_000
        ).collect()
