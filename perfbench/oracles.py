"""Expected results computed from the generated inputs with pandas and
numpy alone — never from the library under test."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from perfbench.inputs import IMAGE_SIDE

BM25_K1 = 1.2  # InvertedIndex.bm25 defaults
BM25_B = 0.75
BM25_ROUND = 5
KNN_RECALL_FLOOR = 0.8  # per query, recall@10 of the IVF path against exact top-10
SCORE_TOL = 1e-4


def filter_count(state: pd.DataFrame, label: int, score: float) -> int:
    return int(((state["label"] == label) & (state["score"] > score)).sum())


def group_avg(state: pd.DataFrame) -> dict[int, float]:
    return {int(k): float(v) for k, v in state.groupby("label")["score"].mean().items()}


def fts_keys(state: pd.DataFrame, query: str, label: int | None = None) -> set[int]:
    """Keys of rows whose text holds every query token (AND of terms)."""
    terms = set(query.split())
    toks = state["text"].str.split()
    hit = toks.map(lambda t: terms <= set(t))
    if label is not None:
        hit &= state["label"] == label
    return set(state.loc[hit, "key"].tolist())


def bm25_scores(state: pd.DataFrame, query: str) -> dict[int, float]:
    """key -> rounded BM25 score, for every row holding a query term, in
    the index's formulation: idf = ln((N - df + 0.5)/(df + 0.5) + 1),
    tf = occurrences, dl = tokens in the row, terms summed in ascending
    term order."""
    terms = sorted(set(query.split()))
    toks = state["text"].str.split()
    dl = toks.map(len).to_numpy(dtype=np.float64)
    n, avgdl = len(dl), float(dl.mean())
    tf = {t: toks.map(lambda d, t=t: d.count(t)).to_numpy(dtype=np.float64) for t in terms}
    total = np.zeros(n)
    hit = np.zeros(n, dtype=bool)
    for t in terms:
        f = tf[t]
        df = float((f > 0).sum())
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        w = idf * (f * (BM25_K1 + 1)) / (f + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
        total = total + np.where(f > 0, w, 0.0)
        hit |= f > 0
    keys = state["key"].to_numpy()
    return {int(keys[i]): round(float(total[i]), BM25_ROUND) for i in np.flatnonzero(hit)}


def bm25_ok(got: list[tuple[int, float]], expected: dict[int, float], k: int) -> bool:
    """Top-k agrees with the oracle up to ties: each returned score is
    the oracle's score for that key, and the returned scores are the
    oracle's k best."""
    best = sorted(expected.values(), reverse=True)[:k]
    if len(got) != len(best):
        return False
    for (key, score), want in zip(got, best):
        if key not in expected or abs(expected[key] - score) > SCORE_TOL or abs(score - want) > SCORE_TOL:
            return False
    return True


def exact_topk(emb: np.ndarray, keys: np.ndarray, q: np.ndarray, k: int) -> set[int]:
    d = ((emb.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
    return set(keys[np.argsort(d, kind="stable")[:k]].tolist())


def image_meta(png: bytes, channels: int) -> tuple[int, int, int, str]:
    return IMAGE_SIDE, IMAGE_SIDE, channels, hashlib.md5(png).hexdigest()


def shingles(tokens, n: int = 3) -> set[str]:
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


class LedgerOracle:
    """Expected admit/reject decisions of the near-dup flow: a document
    is rejected iff its exact 3-shingle Jaccard with some document already
    in the ledger (seed or admitted earlier) reaches the threshold."""

    def __init__(self, threshold: float) -> None:
        self.threshold = threshold
        self.sets: dict[int, set[str]] = {}
        self.by_shingle: dict[str, list[int]] = {}

    def admit(self, doc_id: int, text: str) -> None:
        s = shingles(text.split())
        self.sets[doc_id] = s
        for sh in s:
            self.by_shingle.setdefault(sh, []).append(doc_id)

    def best_match(self, text: str) -> tuple[int | None, float]:
        s = shingles(text.split())
        cands = {d for sh in s for d in self.by_shingle.get(sh, ())}
        best, best_j = None, 0.0
        for d in sorted(cands):
            other = self.sets[d]
            j = len(s & other) / len(s | other)
            if j > best_j:
                best, best_j = d, j
        return best, best_j

    def decide(self, batch: pd.DataFrame) -> tuple[set[int], dict[int, int]]:
        """Survivor ids of one batch and, for each rejected id, the ledger
        document it duplicates; admits the survivors afterwards."""
        survivors, dup_of = set(), {}
        for doc_id, text in zip(batch["doc_id"], batch["text"]):
            match, j = self.best_match(text)
            if j >= self.threshold:
                dup_of[int(doc_id)] = int(match)
            else:
                survivors.add(int(doc_id))
        for doc_id, text in zip(batch["doc_id"], batch["text"]):
            if int(doc_id) in survivors:
                self.admit(int(doc_id), text)
        return survivors, dup_of
