"""Answer checks: a numpy brute-force top-k over the stored vectors, recall
against it, and the ingest dedup check.

The brute force scores with the program's COSINE formula (dot / (|a||b|)
in double precision), rounds to 6 decimal places and breaks ties on
``chunk_id`` ascending, which is the order ``topk_search`` defines.
"""

from __future__ import annotations

import hashlib

import numpy as np

ROUND_DP = 6
# one unit in the last kept decimal: a score computed in another order may
# round to the neighbouring value
SCORE_TOL = 1.5e-6


class VectorOracle:
    """Stored rows as parallel arrays: ``ids`` (chunk_id), ``mat``
    (n × dim float64) and metadata columns used by filters."""

    def __init__(self, rows: list[dict]):
        self.ids = np.array([r["chunk_id"] for r in rows], dtype=object)
        self.meta = {
            c: np.array([r[c] for r in rows], dtype=object)
            for c in ("collection", "language", "chunk_index")
        }
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        self.unit = mat / norms[:, None]

    def mask(self, collection=None, language=None, max_chunk_index=None):
        m = np.ones(len(self.ids), dtype=bool)
        if collection is not None:
            m &= self.meta["collection"] == collection
        if language is not None:
            m &= self.meta["language"] == language
        if max_chunk_index is not None:
            m &= self.meta["chunk_index"].astype(np.int64) < max_chunk_index
        return m

    def scores(self, query: list[float]) -> np.ndarray:
        q = np.asarray(query, dtype=np.float64)
        n = np.linalg.norm(q)
        return np.round(self.unit @ (q / (n if n else 1.0)), ROUND_DP)

    def topk(self, query, k: int, mask=None) -> list[tuple[str, float]]:
        s = self.scores(query)
        idx = np.nonzero(mask)[0] if mask is not None else np.arange(len(s))
        order = sorted(idx, key=lambda i: (-s[i], self.ids[i]))[:k]
        return [(self.ids[i], float(s[i])) for i in order]

    def score_of(self, query) -> dict[str, float]:
        s = self.scores(query)
        return dict(zip(self.ids, s))


def same_topk(got: list[tuple[str, float]], want: list[tuple[str, float]]) -> bool:
    """Scores equal position by position, and the same ids above the k-th
    score. Ids tied at the k-th score may differ, and a score that rounds
    the other way at the 6th decimal is not counted as a wrong answer."""
    if len(got) != len(want):
        return False
    if any(abs(gs - ws) > SCORE_TOL for (_, gs), (_, ws) in zip(got, want)):
        return False
    if not want:
        return True
    edge = want[-1][1]
    above = lambda xs: {i for i, s in xs if s - edge > SCORE_TOL}  # noqa: E731
    return above(got) == above(want)


def approx_ok(got: list[tuple[str, float]], oracle_scores: dict[str, float],
              allowed: set[str]) -> bool:
    """An approximate answer is well formed when every hit passes the
    filter and carries the score the brute force gives that row."""
    return all(
        i in allowed and abs(oracle_scores[i] - s) <= SCORE_TOL for i, s in got
    )


def recall(got_ids: list[str], want_ids: list[str]) -> float:
    if not want_ids:
        return 1.0
    return len(set(got_ids) & set(want_ids)) / len(want_ids)


def norm_hash(text: str) -> str:
    """Twin of the chunker's whitespace-normalised lowercase md5."""
    return hashlib.md5(" ".join(text.lower().split()).encode()).hexdigest()


def dedup_ok(stored: list[tuple[str, str]], dups: dict[str, str]) -> bool:
    """``stored`` is (source, text) per stored chunk. No normalised text is
    stored twice, and of each planted duplicate page and its original at
    most one contributes chunks."""
    hashes = [norm_hash(t) for _, t in stored]
    if len(set(hashes)) != len(hashes):
        return False
    sources = {s for s, _ in stored}
    return not any(d in sources and o in sources for d, o in dups.items())
