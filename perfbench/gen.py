"""Seeded input generators for the benchmark workloads.

Every file a workload feeds the program is a pure function of the seed:
the same seed writes byte-identical inputs. The generators also return
what the correctness checks need (the generated rows and the counts of
every planted property), so a check compares against the input itself,
never against another run of the program.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# English stopwords as functions/text.py counts them: fluent curation
# text needs them to clear the quality gate
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def _rng(seed: int, stream: int) -> np.random.Generator:
    """An independent generator per input kind; any integer seed."""
    return np.random.default_rng([seed % 2**63, stream])


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words of 3 to 9 letters, sorted."""
    words: set[str] = set()
    while len(words) < n:
        for length in rng.integers(3, 10, size=n):
            words.add("".join(rng.choice(_LETTERS, size=int(length))))
    return sorted(words)[:n]


def _zipf_p(n: int) -> np.ndarray:
    w = 1.0 / (np.arange(n) + 10.0)
    return w / w.sum()


def _texts(rng, vocab, n_docs, lo, hi, stop_share=0.0) -> list[str]:
    """``n_docs`` texts of lo..hi tokens drawn Zipf-wise from ``vocab``;
    ``stop_share`` of the tokens are English stopwords."""
    lengths = rng.integers(lo, hi + 1, size=n_docs)
    words = np.asarray(vocab, dtype=object)[
        rng.choice(len(vocab), size=int(lengths.sum()), p=_zipf_p(len(vocab)))
    ]
    if stop_share > 0:
        mask = rng.random(len(words)) < stop_share
        words[mask] = np.asarray(STOPWORDS, dtype=object)[
            rng.integers(0, len(STOPWORDS), size=int(mask.sum()))
        ]
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(words[pos:pos + n]))
        pos += n
    return out


def _write_parquet_files(path: str, table: pa.Table, n_files: int) -> None:
    """One directory of ``n_files`` parquet files over contiguous row
    ranges, the multi-file layout a real corpus has."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _docs_table(texts: list[str], rng) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(["en", "es", "de", "fr"], dtype=object)[rng.integers(0, 4, n)],
        "source": np.asarray([f"src{i}" for i in range(5)], dtype=object)[
            rng.integers(0, 5, n)
        ],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }, schema=DOCS_SCHEMA)


def agent_corpus(seed: int, root: str, n_docs: int, n_files: int,
                 vocab_size: int = 3000) -> dict:
    """The served corpus: ``{root}/documents.parquet/`` with the
    ``documents`` schema in ``n_files`` files. Returns the rows and the
    vocabulary queries are drawn from."""
    rng = _rng(seed, 1)
    vocab = vocabulary(rng, vocab_size)
    texts = _texts(rng, vocab, n_docs, 15, 60)
    table = _docs_table(texts, rng)
    _write_parquet_files(os.path.join(root, "documents.parquet"), table, n_files)
    return {"rows": table.to_pylist(), "vocab": vocab}


def queries(seed: int, vocab: list[str], n: int) -> list[str]:
    """``n`` search queries of 2 to 5 words drawn from the corpus
    vocabulary with the corpus's own word frequencies."""
    rng = _rng(seed, 3)
    p = _zipf_p(len(vocab))
    return [
        " ".join(vocab[j] for j in rng.choice(len(vocab), size=int(k), p=p))
        for k in rng.integers(2, 6, size=n)
    ]


def ingest_corpus(seed: int, root: str, n_docs: int, n_files: int) -> dict:
    """Raw documents for the backfill job: ``{root}/ingest.parquet/``."""
    rng = _rng(seed, 4)
    vocab = vocabulary(rng, 3000)
    table = _docs_table(_texts(rng, vocab, n_docs, 15, 60), rng)
    path = os.path.join(root, "ingest.parquet")
    _write_parquet_files(path, table, n_files)
    input_bytes = sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
    )
    return {"path": path, "n_docs": n_docs, "input_bytes": input_bytes,
            "sample": table.slice(0, 200).to_pylist()}


def curation_dump(seed: int, root: str, n_base: int, n_files: int = 4,
                  span_len: int = 30) -> dict:
    """A raw JSONL crawl dump for ``curate_corpus`` with planted
    properties at known counts (returned under ``planted``):

    - ``exact_dups``: verbatim copies of base documents under new ids;
    - ``near_dups``: copies with two tokens replaced;
    - ``span_docs``: fresh documents ending in one of six shared
      ``span_len``-token boilerplate spans, which document-level dedup
      keeps and the span-strip stage must cut;
    - ``eval_overlap``: training documents stitched from thirds of three
      eval documents (ids below 20), so most of their 8-grams occur in
      the eval split while no third makes a near duplicate;
    - ``short_docs``: documents below the 10-token quality floor;
    - ``malformed``: truncated JSON lines the loader quarantines.

    Base documents are 40 to 90 tokens, 30% of them stopwords, so they
    clear a 0.25 quality floor.
    """
    rng = _rng(seed, 5)
    vocab = vocabulary(rng, 4000)
    base = _texts(rng, vocab, n_base, 40, 90, stop_share=0.3)
    texts = list(base)
    planted = {}

    def pick(k):
        return [int(i) for i in rng.integers(20, n_base, size=k)]

    n = max(4, n_base // 25)
    texts += [base[i] for i in pick(n)]
    planted["exact_dups"] = n
    near = []
    for i in pick(n):
        toks = base[i].split()
        for j in rng.integers(0, len(toks), size=2):
            toks[int(j)] = vocab[int(rng.integers(0, len(vocab)))]
        near.append(" ".join(toks))
    texts += near
    planted["near_dups"] = n
    m = max(6, n_base // 15)
    spans = _texts(rng, vocab, 6, span_len, span_len, stop_share=0.3)
    heads = _texts(rng, vocab, m, 40, 90, stop_share=0.3)
    texts += [h + " " + spans[int(s)] for h, s in zip(heads, rng.integers(0, len(spans), size=m))]
    planted["span_docs"] = m
    k = max(3, n_base // 100)
    stitched = []
    for _ in range(k):
        parts = [base[int(i)].split() for i in rng.choice(20, size=3, replace=False)]
        stitched.append(" ".join(w for j, t in enumerate(parts)
                                 for w in t[j * len(t) // 3:(j + 1) * len(t) // 3]))
    texts += stitched
    planted["eval_overlap"] = k
    texts += _texts(rng, vocab, k, 3, 8, stop_share=0.3)
    planted["short_docs"] = k

    langs = ("en", "es", "de", "fr")
    lines = [
        json.dumps({"doc_id": i, "text": t, "lang": langs[i % 4],
                    "source": f"src{i % 3}", "n_chars": len(t)})
        for i, t in enumerate(texts)
    ]
    bad = [lines[int(i)][: len(lines[int(i)]) // 2]
           for i in rng.integers(0, len(lines), size=k)]
    planted["malformed"] = k
    planted["generated"] = len(lines)
    everything = lines + bad
    order = rng.permutation(len(everything))
    path = os.path.join(root, "raw.jsonl")
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(order), n_files + 1).astype(int)
    for f in range(n_files):
        with open(os.path.join(path, f"part-{f:05d}.jsonl"), "w") as fh:
            for j in order[bounds[f]:bounds[f + 1]]:
                fh.write(everything[int(j)] + "\n")
    return {"path": path, "planted": planted}
