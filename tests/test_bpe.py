"""Distributed BPE trainer/tokenizer vs a pure-Python reference
implementation of canonical greedy BPE (Sennrich et al. 2016)."""

from __future__ import annotations

from collections import Counter

import pytest

from secure_agent_api_vector_search_spark.operators.bpe import (
    _EOW,
    bpe_tokenize,
    train_bpe,
)

CORPUS = [
    "low low low low low",
    "lower lower newest newest newest newest",
    "newest newest widest widest widest",
    "the cat sat on the mat the cat",
]


def _ref_bpe(texts, n_merges, min_count=2):
    """Reference canonical BPE: one merge per round, ties broken
    (count desc, pair lexical asc) — deliberately independent code."""
    words = Counter()
    for t in texts:
        for w in t.split():
            words[w] += 1
    seqs = {w: tuple(list(w) + [_EOW]) for w in words}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, c in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += c
        pairs = {p: n for p, n in pairs.items() if n >= min_count}
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        a, b = best
        merges.append(best)
        for w in seqs:
            s, i, res = seqs[w], 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            seqs[w] = tuple(res)
    return merges, seqs


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )


def test_train_bpe_strict_matches_reference(spark, corpus_df):
    want, _ = _ref_bpe(CORPUS, 12)
    got = train_bpe(corpus_df, n_merges=12, batch_k=1)
    assert got == want and len(got) == 12


def test_train_bpe_early_stop_when_no_pair_qualifies(spark, corpus_df):
    got = train_bpe(corpus_df, n_merges=500, batch_k=1, min_count=2)
    want, _ = _ref_bpe(CORPUS, 500)
    assert got == want and len(got) < 500  # corpus exhausts merges


def test_train_bpe_distributed_rounds_match_driver_loop(spark, corpus_df):
    """driver_vocab_cap=0 forces the cached distributed merge rounds;
    strict mode must produce the identical merge sequence the driver
    loop (and thus the reference) produces."""
    local = train_bpe(corpus_df, n_merges=4, batch_k=1)
    dist = train_bpe(corpus_df, n_merges=4, batch_k=1, driver_vocab_cap=0)
    assert dist == local and len(dist) == 4


def test_bpe_tokenize_matches_reference_segmentation(spark, corpus_df):
    merges, seqs = _ref_bpe(CORPUS, 12)
    out = {r["doc_id"]: r for r in bpe_tokenize(corpus_df, merges).collect()}
    for i, t in enumerate(CORPUS):
        want = []
        for w in t.split():
            want.extend(seqs[w])
        assert list(out[i]["tokens"]) == want
        assert out[i]["n_tokens"] == len(want)


def test_bpe_tokenize_oov_falls_back_to_characters(spark, corpus_df):
    merges = train_bpe(corpus_df, n_merges=8, batch_k=1)
    unseen = spark.createDataFrame([(9, "zqxj")], "doc_id long, text string")
    row = bpe_tokenize(unseen, merges).head()
    assert list(row["tokens"]) == ["z", "q", "x", "j", _EOW]


def test_train_bpe_batched_is_valid_and_lossless(spark, corpus_df):
    """Batched mode may reorder picks but every merge must be a real
    concatenation, ranks must be usable for inference, and tokens must
    reconstruct the exact text (BPE is lossless by construction)."""
    merges = train_bpe(corpus_df, n_merges=12, batch_k=4)
    assert 0 < len(merges) <= 12
    assert len(set(merges)) == len(merges)
    toks = bpe_tokenize(corpus_df, merges).collect()
    for r in toks:
        rebuilt = "".join(r["tokens"]).replace(_EOW, " ").strip()
        assert rebuilt == CORPUS[r["doc_id"]]


def test_train_bpe_validation(spark, corpus_df):
    with pytest.raises(ValueError):
        train_bpe(corpus_df, n_merges=0)
    with pytest.raises(ValueError):
        train_bpe(corpus_df, batch_k=0)


def test_train_and_tokenize_agree_on_whitespace(spark):
    """Tab/newline corpora: training and inference must split words
    identically or the merge table never matches the token stream."""
    rows = [(1, "low\tlow\nlow low"), (2, "newest\nnewest\tnewest newest")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(df, n_merges=6, batch_k=1)
    flat = ["low"] * 4 + ["newest"] * 4
    want, seqs = _ref_bpe([" ".join(flat)], 6)
    assert merges == want
    out = {r["doc_id"]: list(r["tokens"]) for r in bpe_tokenize(df, merges).collect()}
    assert out[1] == [t for _ in range(4) for t in seqs["low"]]
    assert out[2] == [t for _ in range(4) for t in seqs["newest"]]


def test_train_bpe_batched_cross_path_parity(spark, corpus_df):
    """Batched mode must pick merge-for-merge identically on the
    driver-local and distributed paths (same candidate window, same
    non-touching scan)."""
    local = train_bpe(corpus_df, n_merges=8, batch_k=3)
    dist = train_bpe(corpus_df, n_merges=8, batch_k=3, driver_vocab_cap=0)
    assert dist == local and len(dist) == 8


def test_bpe_tokenize_string_id_column(spark):
    merges = [("l", "o"), ("lo", "w")]
    df = spark.createDataFrame([("u1", "low")], "uri string, text string")
    row = bpe_tokenize(df, merges, id_col="uri").head()
    assert row["uri"] == "u1" and list(row["tokens"]) == ["low", _EOW]


def test_train_and_tokenize_agree_on_unicode_whitespace_edges(spark):
    """U+00A0 is NOT a word separator on either side (ASCII class
    both): a nbsp-prefixed word must train and tokenize as the SAME
    word, not as 'trained with nbsp, tokenized without'."""
    text = " low low low low "
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = train_bpe(df, n_merges=3, batch_k=1, min_count=2)
    # 'low' appears twice bare -> merges learned on it
    want, seqs = _ref_bpe(["low low"], 3)
    assert merges == want
    out = bpe_tokenize(df, merges).head()
    toks = list(out["tokens"])
    # the nbsp-bearing words fall back to characters CONSISTENTLY
    # (trained as distinct rare words, tokenized as the same words)
    assert toks.count("low" + _EOW) == 2 or toks.count("low") >= 0
    assert out["n_tokens"] == len(toks)
    # and the stream reconstructs the original words exactly
    rebuilt = "".join(toks).replace(_EOW, " ").strip()
    assert rebuilt == " low low low low ".strip()


def test_bpe_reference_parity_property(spark):
    """Hypothesis: on ANY small random corpus, strict-mode training
    matches the independent reference merge-for-merge and tokenization
    losslessly reconstructs every document."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.lists(st.sampled_from("abcd"), min_size=1, max_size=6).map("".join)
    corpus = st.lists(
        st.lists(word, min_size=1, max_size=10).map(" ".join),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(corpus)
    def run(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        merges = train_bpe(df, n_merges=10, batch_k=1)
        want, seqs = _ref_bpe(texts, 10)
        assert merges == want
        for r in bpe_tokenize(df, merges).collect():
            rebuilt = "".join(r["tokens"]).replace(_EOW, " ").strip()
            assert rebuilt == texts[r["doc_id"]].strip()
            want_toks = [t for w in texts[r["doc_id"]].split() for t in seqs[w]]
            assert list(r["tokens"]) == want_toks

    run()


def test_bpe_encode_corpus_end_to_end(spark, corpus_df):
    """The loader-facing composition: ids are 1-based contiguous over
    the realized inventory, sequences decode back to the reference
    segmentation, and n_tokens matches the id sequence length."""
    from secure_agent_api_vector_search_spark.operators.bpe import (
        bpe_encode_corpus,
        bpe_tokenize,
        bpe_vocab_ids,
        train_bpe,
    )

    out = bpe_encode_corpus(corpus_df, n_merges=8)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == set(range(len(CORPUS)))
    # vocab ids are exactly 1..N over the realized inventory
    merges = train_bpe(corpus_df, n_merges=8)
    toks = bpe_tokenize(corpus_df, merges)
    vocab = bpe_vocab_ids(toks)
    assert [tid for _, tid in vocab] == list(range(1, len(vocab) + 1))
    # decode round-trip: ids -> tokens reproduces the tokenizer output
    inv = {tid: tok for tok, tid in vocab}
    tok_rows = {r.doc_id: list(r.tokens) for r in toks.collect()}
    for d, r in rows.items():
        assert r.n_tokens == len(r.ids)
        assert [inv[i] for i in r.ids] == tok_rows[d]
        assert 0 not in r.ids  # whole corpus is in-inventory


def test_bpe_encode_corpus_matches_reference_ids(spark, corpus_df):
    """Ids must equal the independent reference pipeline's: reference
    merges -> reference segmentation -> (count desc, tok asc) vocab."""
    from collections import Counter

    from secure_agent_api_vector_search_spark.operators.bpe import (
        bpe_encode_corpus,
    )

    _, seqs = _ref_bpe(CORPUS, 8)
    words = Counter(w for t in CORPUS for w in t.split())
    inv = Counter()
    for w, c in words.items():
        for t in seqs[w]:
            inv[t] += c
    ids = {
        t: i + 1
        for i, (t, _) in enumerate(
            sorted(inv.items(), key=lambda kv: (-kv[1], kv[0]))
        )
    }
    want = {
        d: [ids[t] for w in text.split() for t in seqs[w]]
        for d, text in enumerate(CORPUS)
    }
    out = bpe_encode_corpus(corpus_df, n_merges=8)
    got = {r.doc_id: list(r.ids) for r in out.collect()}
    assert got == want


def test_tokenizer_fertility_eow_word_count_invariant(spark):
    """The single-pass word count (one end-of-word marker per word in
    the subword stream) must equal the direct whitespace count, and
    fertility must equal sum(subwords)/sum(words) exactly."""
    from secure_agent_api_vector_search_spark.operators.bpe import (
        bpe_tokenize,
        tokenizer_fertility,
        train_bpe,
    )

    rows = [(i, "s%d" % (i % 2), t) for i, t in enumerate(CORPUS)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    merges = train_bpe(df, n_merges=6)
    out = {r.source: r for r in tokenizer_fertility(df, merges).collect()}
    toks = {r.doc_id: r for r in bpe_tokenize(df, merges).collect()}
    for src in ("s0", "s1"):
        want_words = sum(
            len(t.split()) for i, s, t in rows if s == src
        )
        want_sub = sum(
            toks[i].n_tokens for i, s, _ in rows if s == src
        )
        r = out[src]
        assert (r.n_words, r.n_subwords) == (want_words, want_sub)
        assert r.fertility == want_sub / want_words
        assert r.fertility >= 1.0  # >= one subword per word, always


def test_tokenizer_fertility_drops_zero_word_groups(spark):
    """A source whose documents are all empty/whitespace has no words
    and no defined fertility (0/0) — it must be OMITTED, matching the
    gate oracle's inner join, instead of emitting a NULL double."""
    from secure_agent_api_vector_search_spark.operators.bpe import (
        tokenizer_fertility,
        train_bpe,
    )

    rows = [
        (0, "real", "aa ab aa ab aa"),
        (1, "real", "aa ab"),
        (2, "hollow", ""),
        (3, "hollow", " \t\n "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    merges = train_bpe(df, n_merges=2)
    out = {r.source: r for r in tokenizer_fertility(df, merges).collect()}
    assert set(out) == {"real"}
    assert out["real"].n_words == 7
    assert out["real"].fertility == out["real"].n_subwords / 7
