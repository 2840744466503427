"""BPE codec training — kernels/bpe.py + operators/codec.py (L12 at
corpus scale). The distributed trainer must produce the EXACT merge list
of the single-process kernel."""

from __future__ import annotations

import pytest

from dup_ocropy_spark.kernels import bpe

CORPUS = [
    "low lower lowest low low",
    "new newer newest new new new",
    "wide wider widest wide",
    "the lowest and the newest of the wide words",
]


def test_kernel_bpe_golden():
    wc = bpe.word_counts(["aa ab aa aa ab"])
    merges = bpe.bpe_merges(wc, 10)
    # 'a'+'a</w>' (count 3) beats 'a'+'b</w>' (2); lexicographic after
    assert merges[0] == ("a", "a</w>")
    assert ("a", "b</w>") in merges


def test_kernel_encode_decode_roundtrip():
    wc = bpe.word_counts(CORPUS)
    merges = bpe.bpe_merges(wc, 40)
    for w in "low lowest newest wide unseen_zebra".split():
        assert bpe.decode_symbols(bpe.encode_word(w, merges)) == w
    # frequent whole words collapse to few symbols
    assert len(bpe.encode_word("low", merges)) <= 2


def test_distributed_matches_kernel_exactly(spark):
    from dup_ocropy_spark.operators.codec import train_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    want = bpe.bpe_merges(bpe.word_counts(CORPUS), 25)
    got = train_bpe(docs, n_merges=25, batch=1, driver_vocab_max=0)
    assert got == want
    # and under a different partitioning
    got2 = train_bpe(docs.repartition(7), n_merges=25, batch=1,
                      driver_vocab_max=0)
    assert got2 == want


def test_batched_kernel_k1_equals_sequential():
    """bpe_merges_batched(k=1) must degenerate to classic sequential BPE
    exactly — same merges, same early stop."""
    wc = bpe.word_counts(CORPUS)
    assert bpe.bpe_merges_batched(wc, 25, k=1) == bpe.bpe_merges(wc, 25)
    wc2 = bpe.word_counts(["x y z"])  # no repeating pair -> no merges
    assert bpe.bpe_merges_batched(wc2, 10, k=4) == []


def test_distributed_batched_matches_batched_kernel(spark):
    """The scale path: k merges per Spark round (O(rounds/k) jobs), merge
    list bit-equal to the correspondingly-batched kernel at several k,
    and the batched codec still round-trips every word."""
    from dup_ocropy_spark.operators.codec import train_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    wc = bpe.word_counts(CORPUS)
    for k in (2, 4, 8):
        want = bpe.bpe_merges_batched(wc, 24, k=k)
        got = train_bpe(docs.repartition(5), n_merges=24, batch=k,
                        driver_vocab_max=0)
        assert got == want, f"batch={k}"
    # batched greedy may exhaust disjoint repeating pairs earlier than
    # sequential on a tiny corpus — the list is shorter, never wrong
    merges = bpe.bpe_merges_batched(wc, 24, k=8)
    assert len(merges) >= 12
    for t in CORPUS:
        for w in bpe.split_words(t):
            assert bpe.decode_symbols(bpe.encode_word(w, merges)) == w


def test_batch_selection_is_symbol_disjoint():
    """No two pairs selected in one round may share a symbol, nor may a
    pair reference a symbol produced earlier in the round — otherwise its
    measured count would be stale when applied."""
    wc = bpe.word_counts(CORPUS)
    vocab = {bpe._symbolize(w): c for w, c in wc.items() if w}
    pairs = bpe.pair_counts(vocab)
    cands = sorted((p for p in pairs if pairs[p] >= 2),
                   key=lambda p: (-pairs[p], p))[:bpe.scan_window(8)]
    sel = bpe.select_batch_from_sorted(cands, 8)
    assert 1 < len(sel) <= 8
    used: set[str] = set()
    for a, b in sel:
        assert a not in used and b not in used, (a, b, used)
        used.update((a, b, a + b))


def test_word_segmentation_parity_on_exotic_whitespace(spark):
    """Kernel and Spark trainer must split words identically on non-ASCII
    whitespace (U+00A0, U+2003, U+2028): str.split() vs Java \\s+ diverge
    there, which would train different codecs from the same corpus. Both
    now share the explicit WS_CHARS class."""
    from dup_ocropy_spark.operators.codec import corpus_word_counts, train_bpe

    corpus = ["low\xa0low\u2003lower low", "new\u2028new newer\xa0new"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")
    got_wc = {r.word: r["count"]
              for r in corpus_word_counts(docs).collect()}
    assert got_wc == bpe.word_counts(corpus)
    assert bpe.split_words(corpus[0]) == ["low", "low", "lower", "low"]
    assert bpe.split_words(corpus[1]) == ["new", "new", "newer", "new"]
    # end-to-end: identical merges on the exotic-whitespace corpus
    for k in (1, 4):
        assert train_bpe(docs, n_merges=10, batch=k,
                         driver_vocab_max=0) == \
            bpe.bpe_merges_batched(bpe.word_counts(corpus), 10, k=k)


def test_distributed_early_stop_on_exhausted_pairs(spark):
    from dup_ocropy_spark.operators.codec import train_bpe

    docs = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    got = train_bpe(docs, n_merges=50, driver_vocab_max=0)  # no pair repeats
    assert got == []


def test_bpe_token_counts_match_kernel(spark):
    from dup_ocropy_spark.operators.codec import bpe_token_counts, train_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    merges = train_bpe(docs, n_merges=25)
    got = {r.doc_id: r.n_tokens_bpe_learned
           for r in bpe_token_counts(docs, merges).collect()}
    for i, t in enumerate(CORPUS):
        want = sum(len(bpe.encode_word(w, merges)) for w in t.split())
        assert got[i] == want
    # merged codec yields fewer tokens than raw chars, at least one per word
    for i, t in enumerate(CORPUS):
        assert len(t.split()) <= got[i] < sum(len(w) for w in t.split())


def test_driver_vocab_path_equals_distributed_rounds(spark):
    """r6: under BPE_DRIVER_VOCAB_MAX the merge rounds run through the
    kernel on the collected word table — the merge list must equal the
    distributed rounds' bit-for-bit (the pinned equality contract makes
    this transitive, but pin it directly so the threshold can never
    silently fork behavior)."""
    from dup_ocropy_spark.operators.codec import train_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    for k in (1, 4, 8):
        via_driver = train_bpe(docs, n_merges=24, batch=k)  # default path
        via_rounds = train_bpe(docs, n_merges=24, batch=k, driver_vocab_max=0)
        assert via_driver == via_rounds == bpe.bpe_merges_batched(
            bpe.word_counts(CORPUS), 24, k=k), f"batch={k}"


def test_multi_mb_words_take_the_distributed_rounds(spark, monkeypatch):
    """A few whitespace-free multi-MB "words" fit the row cap but not the
    character cap, so the merge rounds stay distributed — with the same
    merges as the kernel."""
    from dup_ocropy_spark.operators import codec

    blobs = [("abcab" * 440_000) + "x", ("bcaab" * 440_000) + "y",
             ("cabba" * 440_000) + "z"]
    texts = [b + " low lower lowest" for b in blobs] + CORPUS
    assert sum(map(len, blobs)) > codec.BPE_DRIVER_MAX_CHARS
    want = bpe.bpe_merges_batched(bpe.word_counts(texts), 4, k=2)

    def no_driver_path(*a, **kw):
        raise AssertionError("merge rounds ran on the driver")

    monkeypatch.setattr(bpe, "bpe_merges_batched", no_driver_path)
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    assert codec.train_bpe(docs, n_merges=4, batch=2) == want
