"""Round-9 regression tests.

Covers the VERDICT r8 items: the corpus subword encode (#2), the
driver-side BPE trainer (#3), the bench leak gate (#6), and
the ADVICE r8 every_k validation fix.
"""

from __future__ import annotations

import os
import sys

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
# every_k validation (ADVICE r8)
# ---------------------------------------------------------------------------


def test_every_k_must_be_positive_everywhere(spark):
    from dask_mwu_spark.operators import multimodal as mm

    avi = mm.encode_avi([bytes(64)], 8, 8)
    media = spark.createDataFrame(
        [(0, "video", bytes(8))], "doc_id long, media_type string, payload binary"
    )
    for bad in (0, -2):
        with pytest.raises(ValueError, match="every_k"):
            mm.decode_avi(avi, every_k=bad)
        with pytest.raises(ValueError, match="every_k"):
            mm._mjpng_decode(b"", bad)
        # DataFrame-level operators must fail at PLAN time (before any
        # executor task sees a range()/ZeroDivision error)
        with pytest.raises(ValueError, match="every_k"):
            mm.sample_frames(media, every_k=bad)
        with pytest.raises(ValueError, match="every_k"):
            mm.real_decode_stats(media, every_k=bad)


# ---------------------------------------------------------------------------
# the driver-side BPE trainer (VERDICT r8 item 3)
# ---------------------------------------------------------------------------


def _bpe_recount_reference(wf, n):
    """Independent per-round recount reference for the BPE trainer
    (regex-free, re-derives pair stats from scratch each round rather
    than carrying state): returns (merges, {word: final syms})."""
    from collections import Counter

    segs = {w: [*w, tx.BPE_EOW] for w, _ in wf}
    freq = dict(wf)
    want = []
    for r in range(n):
        counts: Counter = Counter()
        for w, syms in segs.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += freq[w]
        if not counts:
            break
        (lhs, rhs), c = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want.append((r, lhs, rhs, c))
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (lhs, rhs):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    return want, segs


def test_bpe_trainer_matches_recount_reference_on_real_corpus(spark, sf_dir):
    """The trainer learns the reference's merge sequence (ranks, pairs,
    counts) and segmentations on the real corpus, at a merge count past
    anything the unit tests exercise."""
    from collections import Counter

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    wf = sorted(
        Counter(
            w
            for r in docs.select("text").collect()
            if r["text"] is not None
            for w in r["text"].split(" ")
            if w
        ).items()
    )
    n = 64
    want, _ = _bpe_recount_reference(wf, n)
    got = [tuple(r) for r in tx.bpe_train_merges(docs, n_merges=n).collect()]
    assert got == want
    assert len(got) == n  # the corpus supports 64 rounds without exhaustion
    _, segs = _bpe_recount_reference(wf, 8)
    freq = dict(wf)
    assert sorted(
        tuple(r) for r in tx.bpe_segment_words(docs, n_merges=8).collect()
    ) == sorted(
        (w, pos, sub, freq[w])
        for w, syms in segs.items()
        for pos, sub in enumerate(syms)
    )


def test_bpe_sequential_exhaustion_matches_distributed(spark):
    """Pair exhaustion: the driver-side trainer stops early with a short
    merge table and keeps every word's final one-symbol segmentation;
    the distributed apply path (``merges=`` injection, the engine's
    ``aggregate`` fold) reaches the same segmentation from that table."""
    docs = spark.createDataFrame([(0, "ab ab b")], "doc_id long, text string")
    m = tx.bpe_train_merges(docs, n_merges=50)
    assert 0 < m.count() < 50
    segs = tx.bpe_segment_words(docs, n_merges=50).collect()
    assert {r["word"] for r in segs} == {"ab", "b"}
    # exhausted = every word is a single symbol
    assert all(r["pos"] == 0 for r in segs)
    applied = tx.bpe_segment_words(docs, merges=m).collect()
    assert sorted(map(tuple, applied)) == sorted(map(tuple, segs))


def test_bpe_local_respects_max_vocab_tiebreak(spark):
    """The driver-side trainer collects the max_vocab-capped table from
    the shared _bpe_word_freq (the same one the merges= apply path
    reads), so capping cannot diverge between train and apply."""
    docs = spark.createDataFrame(
        [(0, "aa bb bb cc cc")], "doc_id long, text string"
    )
    row = tx.bpe_train_merges(docs, n_merges=1, max_vocab=2).collect()[0]
    # capped table keeps bb and cc (freq 2, word asc) and drops aa;
    # all four pairs tie at count 2 -> lhs asc picks lhs='b', and
    # rhs asc picks '</w>' ('<' = 0x3C sorts before 'b' = 0x62 in
    # both engines' binary string order)
    assert (row["lhs"], row["rhs"], row["pair_count"]) == ("b", "</w>", 2)


# ---------------------------------------------------------------------------
# corpus subword encode (VERDICT r8 item 2)
# ---------------------------------------------------------------------------


def test_bpe_encode_reconcatenates_to_segmentations(spark):
    """The contract test the verdict asks for: per (doc_id, pos), the
    ordered subwords re-concatenate to the original token + </w>, and
    they equal the word's segmentation from bpe_segment_words."""
    docs = _toy_docs(spark)
    enc = tx.bpe_encode_ids(docs, n_merges=4).collect()
    segs = tx.bpe_segment_words(docs, n_merges=4).collect()
    seg_by_word: dict[str, list[str]] = {}
    for r in sorted(segs, key=lambda r: (r["word"], r["pos"])):
        seg_by_word.setdefault(r["word"], []).append(r["subword"])

    toks = {
        (r["doc_id"], r["pos"]): r["word"]
        for r in tx.tokens(docs).collect()
        if r["word"] != ""
    }
    stream: dict[tuple, list] = {}
    for r in sorted(enc, key=lambda r: (r["doc_id"], r["pos"], r["subword_pos"])):
        stream.setdefault((r["doc_id"], r["pos"]), []).append(r["subword"])
    assert set(stream) == set(toks)  # no token dropped (uncapped vocab)
    for key, subwords in stream.items():
        word = toks[key]
        assert "".join(subwords) == word + tx.BPE_EOW
        assert subwords == seg_by_word[word]


def test_bpe_encode_ids_are_freq_then_lex_stable(spark):
    docs = spark.createDataFrame([(0, "ab ab b")], "doc_id long, text string")
    enc = tx.bpe_encode_ids(docs, n_merges=1).collect()
    # merge (ab: a+b? pairs: (a,b)x2, (b,</w>)x3 -> winner (b,</w>) count 3)
    # final segs: ab -> [a, b</w>], b -> [b</w>]
    # subword corpus freqs: b</w> = 2(ab)+1(b)=3, a = 2
    ids = {r["subword"]: r["subword_id"] for r in enc}
    assert ids == {"b</w>": 0, "a": 1}
    # the stream carries 2 'ab' tokens (2 subwords each) + 1 'b' token
    assert len(enc) == 5


def test_bpe_encode_train_once_encode_new_batch_drops_oov(spark):
    """encode_docs may contain words the training corpus never saw —
    they drop out of the dictionary join (documented), everything else
    encodes against the learned vocabulary."""
    train = _toy_docs(spark)
    batch = spark.createDataFrame(
        [(7, "low zzz")], "doc_id long, text string"
    )
    enc = tx.bpe_encode_ids(train, n_merges=4, encode_docs=batch).collect()
    assert {r["doc_id"] for r in enc} == {7}
    assert {r["pos"] for r in enc} == {0}  # 'zzz' (pos 1) dropped
    joined = "".join(
        r["subword"] for r in sorted(enc, key=lambda r: r["subword_pos"])
    )
    assert joined == "low" + tx.BPE_EOW


def test_bpe_encode_empty_tokens_dropped_consistently(spark):
    """Doubled spaces make empty tokens; they carry no subwords and are
    excluded from training (shared _bpe_word_freq filter), so the encode
    stream skips their positions but keeps original token positions."""
    docs = spark.createDataFrame([(0, "aa  aa")], "doc_id long, text string")
    enc = tx.bpe_encode_ids(docs, n_merges=1).collect()
    assert {r["pos"] for r in enc} == {0, 2}  # pos 1 is the empty token


# ---------------------------------------------------------------------------
# MaxMatch (WordPiece-apply) segmentation (round-9 new surface)
# ---------------------------------------------------------------------------


def test_maxmatch_greedy_longest_first(spark):
    """Greedy longest-match: 'banana' against an inventory where 'ana'
    outranks 'an'/'na' must take 'ana' at position 2, NOT pair-split."""
    docs = spark.createDataFrame(
        [(0, "banana banana bandana")], "doc_id long, text string"
    )
    seg = tx.maxmatch_segment_words(docs, max_pieces=64, max_piece_len=4)
    by_word: dict[str, list[str]] = {}
    for r in sorted(seg.collect(), key=lambda r: (r["word"], r["pos"])):
        by_word.setdefault(r["word"], []).append(r["piece"])
    for w, pieces in by_word.items():
        assert "".join(pieces) == w
    # with every <=4-substring in the inventory, greedy takes 4+2
    assert by_word["banana"] == ["bana", "na"]
    assert by_word["bandana"] == ["band", "ana"]


def test_maxmatch_single_char_floor_makes_matching_total(spark):
    """A word whose multi-char substrings all miss the capped inventory
    still segments (to characters) — the alphabet floor, no UNK class."""
    docs = spark.createDataFrame(
        # 'xyzq' appears once; 'ab' dominates the top-1 inventory
        [(0, "ab ab ab ab xyzq")], "doc_id long, text string"
    )
    seg = tx.maxmatch_segment_words(docs, max_pieces=1, max_piece_len=4)
    by_word: dict[str, list[str]] = {}
    for r in sorted(seg.collect(), key=lambda r: (r["word"], r["pos"])):
        by_word.setdefault(r["word"], []).append(r["piece"])
    assert by_word["ab"] == ["ab"]  # the one learned piece
    assert by_word["xyzq"] == ["x", "y", "z", "q"]  # char floor


def test_maxmatch_piece_counts_include_overlaps(spark):
    docs = spark.createDataFrame([(0, "aaaa")], "doc_id long, text string")
    pv = {
        r["piece"]: r["piece_count"]
        for r in tx.substring_piece_vocab(
            docs, max_pieces=10, max_piece_len=3
        ).collect()
    }
    # every adjacent position counts: aaaa -> 3x 'aa', 2x 'aaa', 4x 'a'
    assert pv["aa"] == 3 and pv["aaa"] == 2 and pv["a"] == 4


def test_maxmatch_validation(spark):
    docs = _toy_docs(spark)
    with pytest.raises(ValueError, match="max_piece_len"):
        tx.substring_piece_vocab(docs, max_piece_len=1)
    with pytest.raises(ValueError, match="max_pieces"):
        tx.substring_piece_vocab(docs, max_pieces=0)


def test_bpe_encode_composes_with_pack_sequences(spark):
    """The end-to-end training-data path the SURVEY row claims: raw text
    -> learned subword ids -> GPT-style packed sequences.  The packer
    consumes the encode stream re-assembled as a space-joined id string
    (its whitespace-token contract), so n_tokens per doc must equal the
    doc's subword count exactly."""
    from dask_mwu_spark.operators.curation import pack_sequences

    docs = _toy_docs(spark)
    enc = tx.bpe_encode_ids(docs, n_merges=4)
    ids_text = enc.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", "subword_pos", "subword_id")
                    )
                ),
                lambda s: s["subword_id"].cast("string"),
            ),
        ).alias("text")
    )
    packed = pack_sequences(ids_text, max_tokens=4, n_shards=2)
    n_sub = {
        r["doc_id"]: r["n"]
        for r in enc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows = packed.collect()
    assert {r["doc_id"] for r in rows} == set(n_sub)
    for r in rows:
        assert r["n_tokens"] == n_sub[r["doc_id"]]
        assert r["pack"] == r["start_offset"] // 4


def test_maxmatch_three_way_differential_on_boundary_overlaps(spark):
    """Adversarial boundary fixture (pieces overlapping at match
    boundaries, words ending mid-piece, aaaa-style self-overlap): the
    Spark fold, the DuckDB WITH RECURSIVE oracle, and an independent
    pure-Python MaxMatch reference must agree row-for-row."""
    import duckdb
    from collections import Counter

    from extensions_entry import _maxmatch_sql

    rows = [
        (0, "abcabcab abcd dcba aab"),
        (1, "aaaa abab baba ab"),
        (2, "xyxyx yxyxy xy"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in tx.maxmatch_segment_words(
            docs, max_pieces=9, max_piece_len=3
        ).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    assert got == sorted(
        tuple(r) for r in con.execute(_maxmatch_sql(9, 3)).fetchall()
    )

    wf = Counter(w for _, t in rows for w in t.split(" ") if w)
    cand: Counter = Counter()
    for w, f in wf.items():
        for i in range(len(w)):
            for piece_len in (2, 3):
                if i + piece_len <= len(w):
                    cand[w[i : i + piece_len]] += f
    top = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[:9]
    pieces = {p for p, _ in top} | {c for w in wf for c in w}
    ref = []
    for w, f in wf.items():
        i, pos = 0, 0
        while i < len(w):
            for piece_len in (3, 2, 1):
                p = w[i : i + piece_len]
                if piece_len <= len(w) - i and p in pieces:
                    ref.append((w, pos, p, f))
                    i += piece_len
                    pos += 1
                    break
    assert sorted(ref) == got


# ---------------------------------------------------------------------------
# property tests (hypothesis) — pure-Python codec edges
# ---------------------------------------------------------------------------


def test_avi_round_trip_property():
    """encode->decode identity over random geometries: every width hits
    a different 4-byte stride-padding remainder, heights exercise the
    bottom-up flip, frame counts exercise the movi walk + every_k."""
    from hypothesis import given, settings, strategies as st

    from dask_mwu_spark.operators.multimodal import decode_avi, encode_avi

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 13),
        h=st.integers(1, 9),
        n_frames=st.integers(1, 5),
        every_k=st.integers(1, 4),
        seed=st.integers(0, 2**31),
    )
    def run(w, h, n_frames, every_k, seed):
        frames = [
            bytes((seed + f * 131 + j) % 256 for j in range(w * h))
            for f in range(n_frames)
        ]
        avi = encode_avi(frames, w, h)
        dw, dh, c, px = decode_avi(avi, every_k=every_k)
        assert (dw, dh, c) == (w, h, 1)
        assert px == b"".join(frames[::every_k])

    run()


def test_bpe_sequential_property_matches_recount_reference():
    """_bpe_sequential vs the per-round recount reference over random
    tiny corpora — guards the pinned tiebreak and the greedy non-overlap
    merge at fuzzed shapes."""
    from hypothesis import given, settings, strategies as st

    word = st.text(alphabet="ab", min_size=1, max_size=6)

    @settings(max_examples=80, deadline=None)
    @given(words=st.lists(word, min_size=1, max_size=6), n=st.integers(1, 6))
    def run(words, n):
        from collections import Counter

        wf = sorted(Counter(words).items())
        got_merges, got_vocab = tx._bpe_sequential(wf, n)
        want, segs = _bpe_recount_reference(wf, n)
        assert got_merges == want
        assert {w: s for w, s, _ in got_vocab} == segs

    run()
