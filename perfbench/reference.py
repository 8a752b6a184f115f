"""Independent answers for the correctness checks.

The exact-search reference embeds every generated document with
``embedder.embed_text`` and scores it with numpy, folding the dot
products left to right in the same operation order as the engine's
scorers, so equal inputs give bit-equal scores. Rows are ranked by
similarity descending, then ``doc_id`` ascending, the engine's order.
"""

from __future__ import annotations

import numpy as np

from secure_agent_api_vector_search_spark.embedder import embed_text

# a score swap closer than this is two floats of one tie, not an error
TIE_EPS = 1e-12
SCORE_EPS = 1e-9


class ExactIndex:
    def __init__(self, rows: list[dict]):
        self.rows = {r["doc_id"]: r for r in rows}
        self.ids = np.asarray([r["doc_id"] for r in rows], dtype=np.int64)
        self.mat = np.asarray([embed_text(r["text"]) for r in rows], dtype=np.float64)
        norm2 = np.zeros(len(rows))
        for i in range(self.mat.shape[1]):
            norm2 = norm2 + self.mat[:, i] * self.mat[:, i]
        self.norm = np.sqrt(norm2)
        self._pos = {int(d): i for i, d in enumerate(self.ids)}

    def scores(self, query: str) -> np.ndarray:
        q = embed_text(query)
        dot = np.zeros(len(self.ids))
        qq = 0.0
        for i, x in enumerate(q):
            dot = dot + self.mat[:, i] * x
            qq = qq + x * x
        with np.errstate(divide="ignore", invalid="ignore"):
            return dot / (self.norm * np.sqrt(qq))

    def ranking(self, query: str, depth: int) -> tuple[list[int], np.ndarray]:
        """(top ``depth`` doc ids in engine order, all scores by row)."""
        s = self.scores(query)
        order = np.lexsort((self.ids, -s))[:depth]
        return [int(self.ids[i]) for i in order], s

    def score_of(self, scores: np.ndarray, doc_id: int) -> float:
        return float(scores[self._pos[doc_id]])


def check_ranked(result: list[dict], expected_ids: list[int], scores: np.ndarray,
                 index: ExactIndex) -> str | None:
    """None when ``result`` rows are exactly the expected ranked rows:
    same ids in the same order (a swap inside a float tie excepted),
    similarities equal to the reference and the served columns equal
    to the generated row. Otherwise a one-line reason."""
    got = [r.get("doc_id") for r in result]
    if len(got) != len(expected_ids):
        return f"{len(got)} rows, expected {len(expected_ids)}"
    for rank, (g, e) in enumerate(zip(got, expected_ids)):
        if g not in index.rows:
            return f"unknown doc_id {g!r}"
        if g != e and abs(index.score_of(scores, g) - index.score_of(scores, e)) > TIE_EPS:
            return f"rank {rank}: doc {g}, expected {e}"
    if len(set(got)) != len(got):
        return "duplicate doc_id"
    return check_rows(result, scores, index)


def check_rows(result: list[dict], scores: np.ndarray, index: ExactIndex) -> str | None:
    """Every row is a real document with its reference similarity, in
    the engine's order."""
    prev = None
    for r in result:
        row = index.rows.get(r.get("doc_id"))
        if row is None:
            return f"unknown doc_id {r.get('doc_id')!r}"
        for col in ("source", "lang", "text"):
            if r.get(col) != row[col]:
                return f"doc {row['doc_id']}: {col} differs"
        want = index.score_of(scores, row["doc_id"])
        if not isinstance(r.get("similarity"), float) or abs(r["similarity"] - want) > SCORE_EPS:
            return f"doc {row['doc_id']}: similarity {r.get('similarity')!r}, expected {want!r}"
        key = (-r["similarity"], r["doc_id"])
        if prev is not None and key < prev:
            return "rows out of order"
        prev = key
    return None
