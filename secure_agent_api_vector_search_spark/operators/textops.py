"""Corpus text-analysis operators ([EXT], SURVEY.md §2.10): token
statistics, quality scoring, language-ID evaluation, fingerprints.

All pure DataFrame plans over documents — one scan, optional one
aggregate shuffle; every expression JVM-native (functions/text.py).

Per-document (map-only) operators return UNORDERED output: a trailing
global orderBy on a map-only plan makes the range-sort sampling pass
re-execute the whole scan+compute (measured ~2x wall on pii_redact);
the driver's oracle compare is order-insensitive, so presentation
sorting belongs to the consumer. Small aggregate outputs keep their
orderBy — their sort samples the already-materialized shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from secure_agent_api_vector_search_spark.functions import text as X


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-document token statistics: (doc_id, n_tokens,
    n_distinct_tokens, mean_token_len)."""
    return documents.select(
        "doc_id",
        X.token_count("text").cast("long").alias("n_tokens"),
        X.distinct_token_count("text").cast("long").alias("n_distinct_tokens"),
        X.mean_token_length("text").alias("mean_token_len"),
    )


def corpus_token_totals(documents: DataFrame) -> DataFrame:
    """One-row corpus summary: exact doc/token/vocab counts.
    Distinct-vocabulary is an explode + distinct count — at 100 TB
    swap in approx_count_distinct for the same plan minus the exact
    distinct shuffle."""
    per_doc = documents.select(F.explode(X.tokens("text")).alias("tok"))
    return documents.agg(
        F.count("*").alias("n_docs"),
        F.sum(X.token_count("text")).alias("total_tokens"),
    ).crossJoin(per_doc.agg(F.count_distinct("tok").alias("distinct_tokens")))


def doc_quality(documents: DataFrame) -> DataFrame:
    """Per-document quality metrics: (doc_id, n_tokens, stop_ratio,
    quality) — rational arithmetic only, oracle-mirrorable."""
    return documents.select(
        "doc_id",
        X.token_count("text").cast("long").alias("n_tokens"),
        X.stopword_ratio("text").alias("stop_ratio"),
        X.quality_score("text").alias("quality"),
    )


def lang_profile(documents: DataFrame) -> DataFrame:
    """Per-language corpus profile with exact int-sum averages."""
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
            (F.sum(X.token_count("text")).cast("double") / F.count("*")).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def lang_id_eval(documents: DataFrame) -> DataFrame:
    """Confusion summary of the marker-based language-ID heuristic vs
    the labeled `lang` column: (lang, guess, n)."""
    return (
        documents.select("lang", X.lang_id_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "guess")
    )


def chunk_documents(
    documents: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    unit-of-retrieval / unit-of-training splitter every RAG and
    pretraining pipeline runs before embedding or packing ([EXT],
    SURVEY.md §2.10; the reference embeds whole rows only,
    sql/04_embeddings.sql:5-7 — chunking is what makes that viable
    beyond 50-row corpora).

    Chunk starts step by ``chunk_size - overlap``; a start past the
    first is emitted only while ``start + overlap < n_tokens``, so a
    would-be tail chunk fully contained in its predecessor's window is
    never produced (no duplicate training text), yet every token
    belongs to ≥ 1 chunk.

    Output: (doc_id, chunk_id, start_token, n_chunk_tokens,
    chunk_text) — one row per chunk, chunk_id dense from 0 in token
    order. Map-only: tokenize → inline start sequence → per-start
    slice INSIDE one transform → explode of the already-sliced chunks;
    one scan, zero shuffles, no UDFs (the 100 TB shape — chunking is
    embarrassingly parallel and must stay that way). Whitespace tokens
    (single-space split, functions/text.py) keep every value
    DuckDB-recomputable.

    Shape note (r14, VERDICT r13 item 5): the old form exploded the
    START array and carried the FULL token array into every chunk row
    (Generate copies it per row), then sliced — n_chunks × n_tokens
    bytes materialized, QUADRATIC in document length (a 1M-token doc
    → ~21k chunks × 1M tokens). Slicing inside the transform keeps the
    explode output proportional to the chunk text itself (linear);
    values are identical (verified rowwise at sf0.1) and local wall is
    unchanged on short-doc corpora — this is a scale-trap removal, not
    a local win. The transform's slice lambda is one native array copy
    per chunk, not per-token interpretation.
    """
    if chunk_size <= overlap:
        raise ValueError(f"chunk_size {chunk_size} must exceed overlap {overlap}")
    stride = chunk_size - overlap
    toks = X.tokens(text_col)
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s == 0) | (s + overlap < n),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.cast("long").alias("start"),
            F.slice(toks, s + 1, chunk_size).alias("chunk"),
        ),
    )
    return (
        documents.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), chunks.alias("_chunks"))
        .select(
            F.col(id_col),
            F.posexplode("_chunks").alias("chunk_id", "_c"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.col("_c.start").alias("start_token"),
            F.size("_c.chunk").cast("long").alias("n_chunk_tokens"),
            F.array_join("_c.chunk", " ").alias("chunk_text"),
        )
    )


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Per-document content fingerprints: exact md5, normalized md5,
    bag-of-tokens md5 (all oracle-mirrorable)."""
    return documents.select(
        "doc_id",
        X.exact_fingerprint("text").alias("fp_exact"),
        F.md5(X.normalized_text("text")).alias("fp_normalized"),
        X.bag_fingerprint("text").alias("fp_bag"),
    )


def _ws_words(text_col: str = "text"):
    """THE whitespace word tokenizer of the gram-keyed operator family
    (collapse runs of spaces, trim, split) — single-sourced so
    doc_repetition, duplicate_ngram_stats, and heavy_hitter_ngrams can
    never drift from each other or from the `string_split(
    regexp_replace(trim(text), ' +', ' ', 'g'), ' ')` their DuckDB
    oracles replay."""
    return F.split(F.regexp_replace(F.trim(F.col(text_col)), " +", " "), " ")


def _word_gram_stream(base: DataFrame, n: int, *keep: str) -> DataFrame:
    """One row per word ``n``-gram from a (ws, n_grams, *keep) frame —
    the single gram construction shared by :func:`duplicate_ngram_stats`
    and :func:`heavy_hitter_ngrams`. arrays_zip over slices (plain
    codegen), never lambda HOFs (interpreted, 50-100x slower)."""
    zipped = F.arrays_zip(
        *[F.slice(F.col("ws"), i + 1, F.col("n_grams").cast("int")) for i in range(n)]
    )
    return (
        base.filter(F.col("n_grams") > 0)
        .select(*keep, F.explode(zipped).alias("g"))
        .select(
            *keep,
            F.concat_ws(" ", *[F.col(f"g.{i}") for i in range(n)]).alias("gram"),
        )
    )


def doc_winnow_fingerprints(documents: DataFrame, window: int = 8) -> DataFrame:
    """Winnowing fingerprints (rolling-hash min-sampling), fully
    oracle-checked: the token hash is md5-48 (functions/text.py), so
    DuckDB recomputes the complete fingerprint including the window
    mins.

    The raw fingerprint is `array<bigint>`; external row-hash gates
    can't canonicalize list cells, so the projection digests it to a
    scalar md5 plus the fingerprint cardinality. Callers that need the
    raw array use functions.text.rolling_hash_fingerprint directly.
    """
    fp = X.rolling_hash_fingerprint("text", window)
    return documents.select(
        "doc_id",
        F.md5(F.array_join(fp.cast("array<string>"), ",")).alias("fp_winnow"),
        F.size(fp).cast("long").alias("n_fingerprints"),
    )


def doc_repetition(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition quality metrics per document (Rae et al.
    2021 §A1.1; the duplicate-line family degenerates on this corpus —
    single-line texts — so the word/n-gram rules carry the signal).

    Output: (doc_id, n_words, distinct_word_ratio, top_word_frac,
    top_bigram_frac, keep) where the `top_*` columns are the most
    frequent unigram/bigram's share of the doc and `keep` applies the
    curation thresholds.

    Scale shape: everything is codegen — tokenization + distinct ratio
    in the scan projection; the two mode computations are
    explode → groupBy(doc_id, gram) → max per doc, i.e. partial
    aggregation map-side then two doc_id-keyed shuffles that AQE
    co-plans. Bigrams come from arrays_zip(slice, slice) (plain
    codegen expressions, NOT lambda higher-order functions — HOFs
    evaluate interpreted and profiled 50-100x slower in the LSH
    screen). No Python, no driver loop.
    """
    ws = _ws_words("text")
    base = documents.select(
        "doc_id",
        ws.alias("ws"),
        F.size(ws).cast("long").alias("n_words"),
    ).select(
        "doc_id",
        "ws",
        "n_words",
        (F.size(F.array_distinct("ws")).cast("double") / F.col("n_words"))
        .alias("distinct_word_ratio"),
    )
    uni = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w").count()
        .groupBy("doc_id").agg(F.max("count").alias("top_word_count"))
    )
    grams = F.arrays_zip(
        F.slice(F.col("ws"), 1, F.col("n_words") - 1),
        F.slice(F.col("ws"), 2, F.col("n_words") - 1),
    )
    big = (
        base.filter(F.col("n_words") >= 2)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.concat_ws(" ", F.col("g.0"), F.col("g.1")).alias("gram"))
        .groupBy("doc_id", "gram").count()
        .groupBy("doc_id").agg(F.max("count").alias("top_bigram_count"))
    )
    top_word_frac = F.col("top_word_count").cast("double") / F.col("n_words")
    top_bigram_frac = F.when(
        F.col("n_words") >= 2,
        F.coalesce(F.col("top_bigram_count"), F.lit(0)).cast("double")
        / (F.col("n_words") - 1),
    ).otherwise(F.lit(0.0))
    return (
        base.join(uni, "doc_id", "left")
        .join(big, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "distinct_word_ratio",
            top_word_frac.alias("top_word_frac"),
            top_bigram_frac.alias("top_bigram_frac"),
            (
                (F.col("distinct_word_ratio") >= 0.3)
                & (top_word_frac <= 0.12)
                & (top_bigram_frac <= 0.08)
            ).alias("keep"),
        )
    )


def duplicate_ngram_stats(
    documents: DataFrame, n: int = 5, min_docs: int = 2, max_frac: float = 0.30
) -> DataFrame:
    """Gopher-style duplicated-n-gram fraction per document (Rae et al.
    2021 §A1.1: "fraction of characters in duplicate n-grams" — here the
    gram-count form, which is exactly oracle-mirrorable): the share of a
    document's word ``n``-grams that also occur in at least
    ``min_docs - 1`` OTHER documents.

    Output: (doc_id, n_grams, n_dup_grams, dup_ngram_frac, keep) where
    ``keep`` applies the ``max_frac`` curation threshold. Documents with
    fewer than ``n`` words have zero grams and keep=true.

    Scale shape (the whole point — this is a corpus-global signal, not a
    per-doc one): grams never shuffle as strings. Each gram is reduced
    to its ``xxhash64`` in the scan projection, so every exchange
    carries 8-byte keys: (doc_id, gh) → occ (map-side combinable), then
    doc-frequency as a combiner-safe groupBy(gh) aggregate whose
    qualifying keys semi-join back onto the per-doc-gram rows. The
    earlier form computed doc-frequency as COUNT OVER (PARTITION BY gh)
    — one exchange fewer, but a window partition is ONE sort task: a
    boilerplate mega-gram in 10^7 documents becomes an unsplittable
    hot partition, the exact skew ceiling the ExactSubstr family
    (operators/substr.py) deliberately avoided. The aggregate + semi
    join trades one tiny extra exchange (one row per distinct gram) for
    partial-aggregation splitting on the hot key and AQE skew-join
    splitting on the join — same values, oracle unchanged. At 64-bit
    hashing a corpus-scale collision is possible but only perturbs
    counts by ±1 on the colliding gram; swap in the 128-bit md5 at
    100 TB if exactness is required (the oracle groups by the gram
    string itself, so sf-scale results are identical).
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    ws = _ws_words("text")
    base = documents.select(
        "doc_id",
        ws.alias("ws"),
        F.greatest(F.size(ws) - (n - 1), F.lit(0)).cast("long").alias("n_grams"),
    )
    grams = _word_gram_stream(base, n, "doc_id").select(
        "doc_id", F.xxhash64("gram").alias("gh")
    )
    per_doc_gram = grams.groupBy("doc_id", "gh").agg(F.count("*").alias("occ"))
    dup_grams = (
        per_doc_gram.groupBy("gh")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    dup = (
        per_doc_gram.join(dup_grams, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.sum("occ").alias("n_dup"))
    )
    frac = F.when(
        F.col("n_grams") > 0,
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("double") / F.col("n_grams"),
    ).otherwise(F.lit(0.0))
    return (
        base.select("doc_id", "n_grams")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_grams"),
            frac.alias("dup_ngram_frac"),
            (frac <= max_frac).alias("keep"),
        )
    )


def heavy_hitter_ngrams(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 1e-4,
    text_col: str = "text",
) -> DataFrame:
    """Exact corpus-level heavy hitters over word ``n``-grams: every
    gram whose occurrence count reaches ``ceil(threshold * total_grams)``,
    with its exact count. Output: (gram, cnt) — the boilerplate finder
    (cookie banners, newsletter footers) that feeds a curation strip
    list.

    Scale shape — the point is the SHUFFLE BOUND, not the scan: a plain
    groupBy over gram strings shuffles the whole gram vocabulary, which
    for n-grams grows with the corpus, not the language. Instead:
    (1) one map pass reduces grams to 8-byte xxhash64 keys and counts
    them per partition (a pandas dict merge — the same memory bound as
    Spark's own partial hash-agg), emitting only hashes whose LOCAL
    count clears the partition-prorated threshold. By pigeonhole, a
    gram with global count >= s·N must clear s·n_p in at least one
    partition, so the emitted union is a guaranteed superset of the
    true heavy hitters; a hash collision only merges counts upward, so
    it can widen the superset but never lose a true hitter.
    (2) the candidate-hash set (at most ~1/s per partition once
    partitions are large enough for the prorated threshold to bind)
    broadcast-semi-joins the gram stream and the exact count runs
    grouped on the gram STRING — so the only vocabulary-keyed exchange
    carries candidate grams alone, and the output is exact even under
    hash collisions. Cost: two scans instead of one vocabulary-wide
    shuffle — the right trade from the point the gram vocabulary stops
    fitting in aggregate executor memory.

    The per-partition gram totals ride along in the candidate frame
    (gh IS NULL rows), so N needs no third scan. The candidate summary
    feeds two actions and the returned frame (heavy hitters only —
    small by construction) is materialized, both as eager local
    checkpoints, so a later collect does not re-run both scans.
    """
    import math as _math

    if n < 1:
        raise ValueError("n must be >= 1")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    ws = _ws_words(text_col)
    base = documents.select(
        ws.alias("ws"),
        F.greatest(F.size(ws) - (n - 1), F.lit(0)).cast("int").alias("n_grams"),
    )
    grams = _word_gram_stream(base, n)
    hashed = grams.select(F.xxhash64("gram").alias("gh"))

    def local_counts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        totals = None
        n_local = 0
        for pdf in batches:
            if pdf.empty:
                continue
            n_local += len(pdf)
            vc = pdf["gh"].value_counts()
            totals = vc if totals is None else totals.add(vc, fill_value=0)
        if totals is None:
            return
        # int(threshold * n_local) - 1: one below the floor of the float
        # product, so a candidate at the exact rational boundary can
        # never be lost to float rounding — overshoot only inflates the
        # candidate set
        k_local = max(1, int(threshold * n_local) - 1)
        hits = totals[totals >= k_local]
        out = pd.DataFrame(
            {"gh": hits.index.to_numpy(dtype="int64"),
             "cnt": hits.to_numpy(dtype="int64")}
        )
        total_row = pd.DataFrame({"gh": pd.array([None], dtype="Int64"),
                                  "cnt": [n_local]})
        yield pd.concat([out, total_row], ignore_index=True)

    summary = hashed.mapInPandas(local_counts, "gh bigint, cnt bigint").localCheckpoint()
    total = summary.filter(F.col("gh").isNull()).agg(F.sum("cnt")).collect()[0][0]
    if not total:
        return documents.sparkSession.createDataFrame([], "gram string, cnt bigint")
    k_global = _math.ceil(threshold * total)
    cand = summary.filter(F.col("gh").isNotNull()).select("gh").distinct()
    return (
        grams.withColumn("gh", F.xxhash64("gram"))
        .join(F.broadcast(cand), "gh", "left_semi")
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= F.lit(k_global))
        .localCheckpoint()
    )


_HTML_DROP_RE = r"(?is)<script\b.*?</script>|<style\b.*?</style>|<!--.*?-->"
_HTML_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
_HTML_TAG_RE = r"(?s)<[^>]+>"


def html_extract(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Main-text extraction from raw HTML — the WET-extraction stage a
    web-crawl pipeline runs before any other text operator: drop
    script/style/comment blocks, strip tags, decode the common
    entities, collapse whitespace. Also emits ``link_density`` (share
    of extracted characters living inside anchor tags — the classic
    boilerplate-page signal real extractors like jusText gate on).

    Everything is codegen'd JVM regex (regexp_replace /
    regexp_extract_all) — one scan, zero shuffles, no Python; the
    DuckDB oracle replays the identical RE2-compatible patterns, so
    extraction is value-checked, not eyeballed. Non-HTML documents
    pass through unchanged (no tags → no rewrites). Entity decode
    order matters: ``&amp;`` decodes LAST so ``&amp;lt;`` yields the
    literal ``&lt;``, not ``<``.

    Output: (id, extracted_text, link_density).
    """
    def _decode_entities(col):
        for ent, ch in (
            ("&nbsp;", " "),
            ("&lt;", "<"),
            ("&gt;", ">"),
            ("&quot;", '"'),
            ("&#39;", "'"),
            ("&amp;", "&"),
        ):
            col = F.regexp_replace(col, ent, ch)
        return col

    t = F.col(text_col)
    # drop script/style/comment blocks FIRST; both the extracted text
    # and the link-density numerator derive from this cleaned form, so
    # a commented-out nav menu can never inflate the density of a page
    # it contributes zero visible characters to
    cleaned = F.regexp_replace(t, _HTML_DROP_RE, " ")
    stripped = F.regexp_replace(cleaned, _HTML_TAG_RE, " ")
    extracted = F.trim(F.regexp_replace(_decode_entities(stripped), r"\s+", " "))
    # anchor text goes through the SAME tag-strip + entity decode +
    # collapse as the denominator — numerator and denominator count
    # the same kind of characters, so density stays in [0, ~1]
    anchor_txt = F.regexp_replace(
        F.array_join(F.regexp_extract_all(cleaned, F.lit(_HTML_ANCHOR_RE), 1), " "),
        _HTML_TAG_RE,
        " ",
    )
    anchor_len = F.length(
        F.trim(F.regexp_replace(_decode_entities(anchor_txt), r"\s+", " "))
    )
    density = F.when(
        F.length(extracted) > 0,
        anchor_len.cast("double") / F.length(extracted).cast("double"),
    ).otherwise(F.lit(0.0))
    return documents.select(
        id_col,
        extracted.alias("extracted_text"),
        density.alias("link_density"),
    )


def corpus_stats_approx(documents: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Sketch-based one-row corpus summary — the 100 TB form of
    :func:`corpus_token_totals`.

    HyperLogLog++ (`approx_count_distinct`, relative sd ``rsd``) for
    vocabulary size and a quantile sketch (`approx_percentile`) for the
    token-length distribution: both are one-pass, fixed-memory,
    mergeable partial aggregates — no exact-distinct shuffle of the
    token stream, no global sort for percentiles. Rows-only check
    (sketches are engine-specific); pytest bounds the HLL error vs the
    exact count. Quantiles are emitted as scalar columns (tokens_p50 /
    tokens_p90 / tokens_p99), not one array column, so downstream
    hash/canonicalize tooling never sees an unhashable list cell.
    """
    per_doc = documents.select(F.explode(X.tokens("text")).alias("tok"))
    lens = documents.select(X.token_count("text").cast("long").alias("n_tokens"))
    q = F.percentile_approx("n_tokens", [0.5, 0.9, 0.99], 10000)
    return (
        documents.agg(
            F.count("*").alias("n_docs"),
            F.sum(X.token_count("text")).alias("total_tokens"),
        )
        .crossJoin(per_doc.agg(
            F.approx_count_distinct("tok", rsd).alias("approx_distinct_tokens")))
        .crossJoin(lens.agg(q.alias("_q")))
        .select(
            "n_docs",
            "total_tokens",
            "approx_distinct_tokens",
            F.col("_q")[0].alias("tokens_p50"),
            F.col("_q")[1].alias("tokens_p90"),
            F.col("_q")[2].alias("tokens_p99"),
        )
    )


def top_terms_by_lang(documents: DataFrame, n: int = 5) -> DataFrame:
    """Per-language vocabulary head: the ``n`` most frequent whitespace
    terms in each language, with occurrence and document-frequency
    counts — the first thing anyone profiles in a new training corpus
    (tokenizer sanity, boilerplate detection, language drift).

    Scale shape: the exploded token stream reduces map-side — the
    (lang, term) count and the (lang, term, doc_id) distinct for doc
    frequency both partial-aggregate before their exchange, so the
    shuffle carries the corpus VOCABULARY, not the token stream. The
    per-language head then goes through the same bounded top-k
    combiner as knn/grouped search (counts as the score, term as the
    tiebreak), so the rank window's exchange is ≤ |langs|·n rows per
    partition instead of the whole vocabulary sorted through one
    partition per language.

    Output: (lang, term, n_occurrences, n_docs, rank), rank 1..n.
    """
    from pyspark.sql import Window

    from secure_agent_api_vector_search_spark.operators.knn import (
        _local_topk_combiner,
    )

    toks = documents.select(
        "lang", "doc_id", F.explode(X.tokens("text")).alias("term")
    )
    counts = toks.groupBy("lang", "term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    scored = counts.select(
        "lang",
        F.col("term").alias("neighbor_id"),
        F.col("n_occurrences").alias("similarity"),
        "n_docs",
    )
    reduced = scored.mapInPandas(
        _local_topk_combiner("lang", n), schema=scored.schema
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(
            "lang",
            F.col("neighbor_id").alias("term"),
            F.col("similarity").alias("n_occurrences"),
            "n_docs",
            "rank",
        )
        .orderBy("lang", "rank")
    )


def build_vocab(
    documents: DataFrame,
    size: int = 1000,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Frequency vocabulary for tokenization: the top-``size`` tokens
    by (count DESC, token ASC), 1-based contiguous ids — id 0 is
    reserved for OOV (:func:`tokenize_to_ids`). The deterministic
    total order makes the id assignment reproducible and
    oracle-checkable; ``min_count`` drops the hapax tail first.

    Scale shape: one token-keyed count aggregate (map-side
    combinable), then the top-``size`` selection runs as
    TakeOrderedAndProject (distributed bounded top-k — NO global
    sort); the rank window only ever sees the ``size``-row result.

    Output: (tok, tok_id, count).
    """
    from pyspark.sql import Window

    if size < 1:
        raise ValueError("size must be >= 1")
    counts = (
        documents.select(F.explode(X.tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("count"))
        .filter(F.col("count") >= min_count)
    )
    top = counts.orderBy(F.desc("count"), F.asc("tok")).limit(size)
    w = Window.orderBy(F.desc("count"), F.asc("tok"))
    return top.select(
        "tok", F.row_number().over(w).cast("int").alias("tok_id"), "count"
    )


def tokenize_to_ids(
    documents: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode every document as its vocabulary-id sequence (order
    preserved, OOV → 0) — the map a training pipeline ships to the
    loader after :func:`build_vocab`. A real subword tokenizer drops
    in behind the same contract as an Arrow-batched pandas_udf (the
    embedder.py seam); this exact word-level form is the oracle-able
    reference implementation.

    Scale shape: positions explode once, the vocabulary joins in
    (broadcast — a bounded-``size`` frame by construction), and one
    doc-keyed shuffle reassembles the ordered sequence
    (collect_list of (pos, id) → array_sort → project: array_sort on
    structs orders by the leading field, so the sequence order is the
    token order, not collection order).

    Output: (doc_id, n_tokens, ids array<int>).
    """
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(X.tokens(text_col)).alias("pos", "tok"),
    )
    joined = toks.join(F.broadcast(vocab.select("tok", "tok_id")), "tok", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos").alias("pos"),
                        F.coalesce(F.col("tok_id"), F.lit(0)).cast("int").alias("id"),
                    )
                )
            ).alias("_seq"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.transform(F.col("_seq"), lambda s: s["id"]).alias("ids"),
        )
    )


def vocab_coverage(
    documents: DataFrame,
    vocab: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Out-of-vocabulary audit — the tokenizer-eval a pipeline runs
    BEFORE freezing a vocabulary: per ``group_col`` slice, how much of
    the token stream the vocabulary covers. The canonical use composes
    :func:`~..operators.curation.dataset_split` + :func:`build_vocab`
    on the train split and audits every split (a vocab fit on train
    must be shown to cover held-out text; a slice with outlier
    ``oov_rate`` means the split — or a source/language — is
    vocabulary-shifted and will tokenize to OOV mush).

    Scale shape: one token explode with the group tag (map-only), the
    vocabulary joins in as a broadcast (bounded-N by construction),
    one group-keyed aggregate; the distinct-OOV count is a standard
    two-phase count_distinct whose partial phase dedups (group, tok)
    pairs map-side — stop-words never reach the exchange twice.

    Output: (group_col, n_tokens, n_oov, oov_rate, distinct_oov).
    """
    toks = documents.select(
        F.col(group_col), F.explode(X.tokens(text_col)).alias("tok")
    )
    joined = toks.join(
        F.broadcast(vocab.select("tok").withColumn("_inv", F.lit(1))), "tok", "left"
    )
    oov = F.when(F.col("_inv").isNull(), 1).otherwise(0)
    return joined.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        (F.sum(oov).cast("double") / F.count("*")).alias("oov_rate"),
        F.count_distinct(F.when(F.col("_inv").isNull(), F.col("tok")))
        .cast("bigint")
        .alias("distinct_oov"),
    )
