"""Distributed BPE (byte-pair-encoding) subword training + tokenizer.

[EXT] operators (SURVEY.md §2.10): the subword-vocabulary step of a
training-data pipeline — the reference has no tokenizer at all (its
text goes straight to an embedding endpoint, tools.yaml:24); this is
the Sennrich et al. 2016 algorithm re-expressed Spark-first.

Scale shape — the whole design: BPE never iterates over the CORPUS.
One scan reduces the corpus to the word-frequency table (groupBy word,
map-side combined; vocabulary-bounded, not corpus-bounded), and every
merge round runs on that table alone: explode adjacent symbol pairs
weighted by word count → one aggregate → pick winners on the driver
(bounded: top-k rows) → apply the merges with one Arrow-batched map.
The words frame is a local checkpoint replaced per round, so a round
is two narrow jobs over ~|vocab| rows regardless of corpus size.

Strict mode (``batch_k=1``) reproduces the canonical greedy algorithm
exactly — one merge per round, ties broken (count desc, pair lexical
asc) — and is parity-tested token-for-token against a pure-Python
reference. Batched mode applies the top ``batch_k`` pairwise
NON-TOUCHING pairs per round (no shared symbol, so no interaction —
each batched merge produces exactly what strict mode would have
produced had those pairs won consecutive rounds); it cuts driver
round-trips ~batch_k× at scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# End-of-word marker (the sentencepiece block char). RESERVED: like
# sentencepiece itself, this module assumes corpus text does not
# contain a literal U+2581 — a mid-word occurrence would symbolize
# identically to the marker, corrupting merge statistics and the
# one-marker-per-word invariant tokenizer_fertility counts on. Escape
# it upstream (textops normalization) if a corpus can carry it.
_EOW = "▁"

# ONE whitespace definition for train AND tokenize: the ASCII class
# Java regex \s matches. Training (JVM regex) and inference (Python re)
# must split words identically or the merge table never corresponds to
# the tokenized stream — pinned by a tab/newline corpus test.
_WS_JAVA = "[ \\t\\n\\x0B\\f\\r]+"
_WS_PY = "[ \t\n\x0b\f\r]+"


def _py_words(text: str) -> list[str]:
    # no str.strip(): it strips ALL Unicode whitespace while the JVM
    # side (F.trim + the ASCII class) strips none of it — edge-empty
    # fragments are removed by the same `if w` filter the JVM path's
    # != '' filter applies, so both sides see identical words even for
    # U+00A0-bearing text (neither side splits on it)
    import re

    return [w for w in re.split(_WS_PY, text or "") if w]


def _word_counts(documents: DataFrame, text_col: str) -> DataFrame:
    ws = F.split(F.trim(F.col(text_col)), _WS_JAVA)
    return (
        documents.select(F.explode(ws).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _symbolize(words: DataFrame) -> DataFrame:
    """word → initial symbol sequence: characters + end-of-word mark."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "syms": [list(w) + [_EOW] for w in pdf["word"]],
                    "cnt": pdf["cnt"],
                }
            )

    return words.mapInPandas(op, schema="syms array<string>, cnt long")


def _pair_counts(symbolized: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the weighted word table — the one
    aggregate of each merge round. arrays_zip of two slices (codegen),
    weighted by word count, map-side combined."""
    n = F.greatest(F.size("syms") - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(F.col("syms"), 1, n), F.slice(F.col("syms"), 2, n)
    )
    return (
        symbolized.filter(F.size("syms") >= 2)
        .select(F.explode(zipped).alias("p"), "cnt")
        .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"), "cnt")
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("n"))
    )


def _apply_merges(symbolized: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Rewrite every word's symbol sequence with the round's winning
    merges (left-to-right single pass per merge — canonical BPE)."""
    pairs = [(a, b, a + b) for a, b in merges]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for syms in pdf["syms"]:
                s = list(syms)
                for a, b, ab in pairs:
                    i, res = 0, []
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                            res.append(ab)
                            i += 2
                        else:
                            res.append(s[i])
                            i += 1
                    s = res
                out.append(s)
            yield pd.DataFrame({"syms": out, "cnt": pdf["cnt"]})

    return symbolized.mapInPandas(op, schema="syms array<string>, cnt long")


def _pick_non_touching(
    ranked: list[tuple[str, str]], want: int
) -> list[tuple[str, str]]:
    """Greedy batch selection: top pairs that share no symbol (and
    none's concatenation is another's operand), so applying them
    together equals applying them in consecutive strict rounds."""
    picked: list[tuple[str, str]] = []
    touched: set[str] = set()
    for a, b in ranked:
        if a in touched or b in touched or a + b in touched:
            continue
        picked.append((a, b))
        touched.update((a, b, a + b))
        if len(picked) >= want:
            break
    return picked


def _local_bpe(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    batch_k: int,
    min_count: int,
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """The SAME round logic as the distributed loop, run in-process on
    a collected (word, count) table — the correct strategy whenever the
    vocabulary fits the driver, where per-round Spark job latency would
    dwarf the work. Tie-break, candidate-window width, and batching
    identical by construction (parity-tested both against a reference
    implementation and against the distributed path, strict and
    batched)."""
    from collections import Counter

    seqs = {w: tuple(list(w) + [_EOW]) for w, _ in word_counts}
    counts = dict(word_counts)
    merges: list[tuple[str, str]] = []
    rec = stats if stats is not None else {}
    rec["rounds"] = 0
    while len(merges) < n_merges:
        rec["rounds"] += 1
        pairs: Counter = Counter()
        for w, c in counts.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += c
        ranked = sorted(
            ((p, n) for p, n in pairs.items() if n >= min_count),
            key=lambda kv: (-kv[1], kv[0]),
        )
        if not ranked:
            break
        want = min(batch_k, n_merges - len(merges))
        # the non-touching scan looks at the SAME 4*want-row window the
        # distributed path collects — both paths defer identically when
        # the window is all-touching, so the two strategies stay merge-
        # for-merge identical at any batch_k (cross-path parity-tested)
        picked = _pick_non_touching([p for p, _ in ranked[: 4 * want]], want)
        merges.extend(picked)
        for a, b in picked:
            for w, s in seqs.items():
                i, res = 0, []
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                seqs[w] = tuple(res)
    return merges


def train_bpe(
    documents: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    batch_k: int = 1,
    min_count: int = 2,
    driver_vocab_cap: int = 200_000,
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge list (rank = position). ``batch_k=1`` is canonical
    greedy BPE; ``batch_k>1`` applies that many NON-TOUCHING top pairs
    per round (identical merges when none interact, ~k× fewer rounds).
    Stops early when no pair reaches ``min_count``.

    Strategy split: the corpus reduces to the word-frequency table in
    ONE distributed scan regardless; the merge loop then runs on the
    driver when the distinct-word count fits ``driver_vocab_cap``
    (per-round job latency would dominate by orders of magnitude on a
    small vocabulary), and as checkpointed distributed rounds above it —
    same round logic either way, parity-tested.

    ``stats``: pass a dict to receive the run record — ``strategy``
    ("driver" | "distributed"), ``vocab_rows`` (distinct words), and
    ``rounds`` (merge-loop iterations: the corpus-size-free quantity —
    bounded by ceil(n_merges / batch_k) plus non-touching deferrals,
    never by corpus rows). Exists so scale harnesses can demonstrate
    the "rounds don't grow with the corpus" claim at production merge
    counts (tools/scale_smoke.py).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if batch_k < 1:
        raise ValueError("batch_k must be >= 1")
    rec = stats if stats is not None else {}
    wc = _word_counts(documents, text_col).localCheckpoint()
    n_vocab = wc.count()
    rec["vocab_rows"] = int(n_vocab)
    if n_vocab <= driver_vocab_cap:
        rec["strategy"] = "driver"
        rows = [(r["word"], int(r["cnt"])) for r in wc.collect()]
        return _local_bpe(rows, n_merges, batch_k, min_count, stats=rec)
    rec["strategy"] = "distributed"
    words = _symbolize(wc).localCheckpoint()
    merges: list[tuple[str, str]] = []
    rec["rounds"] = 0
    while len(merges) < n_merges:
        rec["rounds"] += 1
        want = min(batch_k, n_merges - len(merges))
        # pull a few times the batch so the non-touching filter has
        # slack; driver memory stays bounded by 4*batch_k rows
        top = (
            _pair_counts(words)
            .filter(F.col("n") >= min_count)
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(4 * want)
            .collect()
        )
        if not top:
            break
        picked = _pick_non_touching([(r["a"], r["b"]) for r in top], want)
        merges.extend(picked)
        words = _apply_merges(words, picked).localCheckpoint()
    return merges


def bpe_tokenize(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a learned merge table: per word, repeatedly apply
    the LOWEST-RANK applicable merge (canonical BPE inference). One
    Arrow-batched map over the corpus, merge ranks broadcast in the
    closure; unseen character pairs simply never merge, so OOV words
    fall back to characters — no failure mode.

    Output: (id, tokens array<string>, n_tokens).
    """
    rank = {(a, b): i for i, (a, b) in enumerate(merges)}

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        s = list(word) + [_EOW]
        while len(s) >= 2:
            best, best_rank = None, None
            for i in range(len(s) - 1):
                r = rank.get((s[i], s[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            a, b = s[best], s[best + 1]
            i, res = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            s = res
        cache[word] = s
        return s

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            toks = []
            for text in pdf[text_col]:
                words = _py_words(text)
                doc: list[str] = []
                for w in words:
                    doc.extend(encode_word(w, cache))
                toks.append(doc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    id_type = documents.schema[id_col].dataType.simpleString()
    # the per-word merge loop is the CPU hot spot; a small parquet scan
    # under-splits to 1-2 input partitions and the whole corpus then
    # tokenizes on 1-2 of N cores (measured: a single 2.6 s task at
    # sf0.1). Round-robin rebalance only when narrow — a no-op on a
    # real cluster's per-128 MB splits (guide §2.6/§4).
    from secure_agent_api_vector_search_spark.sources.tables import (
        rebalance_if_narrow,
    )

    return rebalance_if_narrow(documents.select(id_col, text_col)).mapInPandas(
        op, schema=f"{id_col} {id_type}, tokens array<string>, n_tokens long"
    )


def bpe_vocab_ids(tokenized: DataFrame) -> list[tuple[str, int]]:
    """Deterministic subword id assignment over the REALIZED token
    inventory of a :func:`bpe_tokenize` output: (count DESC, token
    ASC), contiguous 1-based ids, 0 reserved for tokens outside the
    inventory (applying this vocab to a different corpus). The
    inventory is bounded by |base alphabet| + n_merges symbols, so the
    collect is driver-sized by construction — never corpus-sized.

    Returns the ordered [(token, id)] list (id = position + 1)."""
    rows = (
        tokenized.select(F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    ordered = sorted(rows, key=lambda r: (-r["n"], r["tok"]))
    return [(r["tok"], i + 1) for i, r in enumerate(ordered)]


def bpe_encode_corpus(
    documents: DataFrame,
    n_merges: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_k: int = 1,
    min_count: int = 2,
    materialize: bool = True,
) -> DataFrame:
    """The composition a training pipeline actually ships to its
    loader: train the merge table on the corpus (:func:`train_bpe`),
    tokenize every document with it (:func:`bpe_tokenize`), assign the
    deterministic subword vocabulary (:func:`bpe_vocab_ids`), and emit
    id sequences. The word-level form (textops.tokenize_to_ids) is the
    oracle-able reference implementation of the same contract; this is
    its subword counterpart, end-to-end behind one call.

    Scale shape: training never iterates the corpus (see module
    docstring); tokenization is one Arrow-batched map; the vocabulary
    aggregate is bounded by |alphabet| + n_merges symbols, collected
    once and folded back in as a literal MAP expression, so the encode
    itself stays whole-stage codegen (transform + element_at) with
    ZERO additional shuffles.

    ``materialize=True`` (default) local-checkpoints the tokenized
    frame for its two consumers (vocabulary aggregate + encode) and
    returns the (narrow) output as an eager local checkpoint too; both
    are freed when their frames are dropped. ``materialize=False``
    checkpoints nothing and returns a fully lazy plan (the tokenize map
    simply runs twice: once under the vocabulary aggregate, once under
    the encode) — the cheaper shape for a one-shot evaluation whose
    only action is the caller's own, as in the catalog's gate query.

    Output: (doc_id, n_tokens, ids array<int>), n_tokens = subword
    count, ids 1-based (0 = out-of-inventory, impossible here by
    construction but the contract when the vocab is reused).
    """
    merges = train_bpe(
        documents, n_merges, text_col=text_col, batch_k=batch_k, min_count=min_count
    )
    toks = bpe_tokenize(documents, merges, text_col=text_col, id_col=id_col)
    if materialize:
        toks = toks.localCheckpoint()
    vocab = bpe_vocab_ids(toks)
    if vocab:
        id_map = F.create_map(
            *[F.lit(x) for tok, tid in vocab for x in (tok, tid)]
        )
        enc = lambda t: F.coalesce(  # noqa: E731
            F.element_at(id_map, t), F.lit(0)
        ).cast("int")
    else:  # empty corpus: no inventory, every token (none) maps to OOV
        enc = lambda t: F.lit(0).cast("int")  # noqa: E731
    result = toks.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.transform(F.col("tokens"), enc).alias("ids"),
    )
    if materialize:
        result = result.localCheckpoint()
    return result


def tokenizer_fertility(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer FERTILITY (subword tokens per word) by corpus slice —
    the standard tokenizer-quality metric: ~1 means the vocabulary
    matches the slice; high fertility means its text shatters toward
    characters (vocabulary shift — the subword analog of
    :func:`~..operators.textops.vocab_coverage`'s OOV rate), which
    inflates sequence lengths and training cost for that slice.

    Single corpus pass, zero joins: :func:`bpe_tokenize` is invoked
    with the GROUP column in its id seat (it only carries the column
    through the Arrow map — uniqueness is never assumed), and the WORD
    count falls out of the subword stream for free: the end-of-word
    marker appears in exactly one token per word (appended once per
    word at symbolization; merges only ever glue it to that word's own
    trailing symbols), so ``n_words`` is a filter over the token
    array, not a second scan. The invariant is pinned against the
    direct whitespace count in tests. One bounded group aggregate
    follows.

    Output: (group_col, n_words, n_subwords, fertility); groups with
    zero words (all-empty slices) are omitted — 0/0 has no fertility.
    """
    toks = bpe_tokenize(
        documents.select(F.col(group_col), F.col(text_col)),
        merges,
        text_col=text_col,
        id_col=group_col,
    )
    n_words = F.size(
        F.filter(F.col("tokens"), lambda t: t.endswith(_EOW))
    ).cast("bigint")
    return (
        toks.select(F.col(group_col), n_words.alias("_nw"), F.col("n_tokens").alias("_nt"))
        .groupBy(group_col)
        .agg(
            F.sum("_nw").cast("bigint").alias("n_words"),
            F.sum("_nt").cast("bigint").alias("n_subwords"),
            (F.sum("_nt").cast("double") / F.sum("_nw")).alias("fertility"),
        )
        # a group whose documents are all empty/whitespace has no words
        # and no defined fertility (0/0) — drop it rather than emit a
        # NULL in a declared-double metric (and rather than diverge from
        # the gate oracle's inner join, which omits such groups)
        .filter(F.col("n_words") > 0)
    )
