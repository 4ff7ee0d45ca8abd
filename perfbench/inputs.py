"""Seeded input generators for the three workloads.

Everything here is numpy/pandas and runs before any library call: the
same seed gives byte-identical inputs, and the library receives only
what these functions return.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from muller_spark.multimodal.codecs import encode_png

TEXT_VOCAB = 5_000
TEXT_TOKENS = 16
ZIPF_S = 1.2
LABELS = 10
EMB_DIM = 64
EMB_CENTRES = 64
IMAGE_SIDE = 16

DOC_VOCAB = 20_000
DOC_TOKENS = 40


def word(i: int) -> str:
    """The i-th vocabulary word: letters only, so the index tokenizer
    (split on non-alphanumerics, lower-cased) sees exactly one token."""
    out = []
    i += 26 * 26  # every word has at least three letters
    while i:
        i, r = divmod(i, 26)
        out.append(chr(ord("a") + r))
    return "".join(reversed(out))


def zipf_probs(n: int = TEXT_VOCAB, s: float = ZIPF_S) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    return w / w.sum()


class TableGen:
    """Rows of the multimodal schema shared by ``hybrid_search`` and
    ``lake_workflow``: ``key`` (unique int), ``text`` (Zipf tokens),
    ``label``, ``score``, ``emb`` (Gaussian mixture) and ``image``
    (PNG bytes).  One generator per run; successive ``rows`` calls
    continue the key sequence."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array([word(i) for i in range(TEXT_VOCAB)])
        self.probs = zipf_probs()
        self.centres = self.rng.normal(0.0, 4.0, (EMB_CENTRES, EMB_DIM))
        self.next_key = 0

    def rows(self, n: int) -> pd.DataFrame:
        rng = self.rng
        toks = rng.choice(TEXT_VOCAB, size=(n, TEXT_TOKENS), p=self.probs)
        text = [" ".join(self.vocab[r]) for r in toks]
        centre = rng.integers(0, EMB_CENTRES, n)
        emb = (self.centres[centre] + rng.normal(0.0, 1.0, (n, EMB_DIM))).astype(np.float32)
        channels = rng.choice([1, 3], n)
        images = []
        for c in channels:
            shape = (IMAGE_SIDE, IMAGE_SIDE) if c == 1 else (IMAGE_SIDE, IMAGE_SIDE, 3)
            images.append(encode_png(rng.integers(0, 256, shape, dtype=np.uint8)))
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return pd.DataFrame({
            "key": keys,
            "text": text,
            "label": rng.integers(0, LABELS, n).astype(np.int32),
            "score": rng.random(n),
            "emb": list(emb),
            "image": images,
            "channels": channels,
        })

    def edits(self, n_rows: int, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``n`` distinct row positions below ``n_rows`` and new scores."""
        pos = np.sort(self.rng.choice(n_rows, size=n, replace=False))
        return pos, self.rng.random(n) + 10.0  # outside [0, 1): never a no-op

    def query_vectors(self, n: int) -> np.ndarray:
        centre = self.rng.integers(0, EMB_CENTRES, n)
        return (self.centres[centre] + self.rng.normal(0.0, 1.0, (n, EMB_DIM))).astype(np.float32)


def user_bytes(pdf: pd.DataFrame) -> int:
    """Raw payload a user hands over for these rows: UTF-8 text, the
    PNG bytes, 4-byte floats per embedding element, 8-byte key/score and
    a 4-byte label."""
    return int(
        sum(len(t.encode()) for t in pdf["text"])
        + sum(len(b) for b in pdf["image"])
        + len(pdf) * (EMB_DIM * 4 + 8 + 8 + 4)
    )


def query_terms(tokens: list[list[str]], rng: np.random.Generator) -> tuple[str, str]:
    """One Zipf-head term (ranks 1-20, postings in the thousands) and one
    tail term (rank 200 or lower) that still occurs in the table, so
    every round queries both ends of the posting-length range."""
    present = {t for doc in tokens for t in doc}
    tail = [w for w in (word(i) for i in range(200, TEXT_VOCAB)) if w in present]
    return word(int(rng.integers(0, 20))), str(rng.choice(tail))


class DocGen:
    """Documents for ``curation_ingest``: a seed corpus plus batches of
    fresh documents and planted near-duplicates (one interior token of
    an already admitted document replaced, 3-shingle Jaccard ~0.85)."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array([word(i) for i in range(DOC_VOCAB)])
        self.admitted: list[np.ndarray] = []
        self.next_id = 0

    def _fresh(self, n: int) -> list[np.ndarray]:
        return list(self.rng.integers(0, DOC_VOCAB, (n, DOC_TOKENS)))

    def _frame(self, docs: list[np.ndarray]) -> pd.DataFrame:
        ids = np.arange(self.next_id, self.next_id + len(docs), dtype=np.int64)
        self.next_id += len(docs)
        return pd.DataFrame({"doc_id": ids, "text": [" ".join(self.vocab[d]) for d in docs]})

    def seed_corpus(self, n: int) -> pd.DataFrame:
        docs = self._fresh(n)
        self.admitted.extend(docs)
        return self._frame(docs)

    def batch(self, n: int, dup_share: float = 0.3) -> tuple[pd.DataFrame, np.ndarray]:
        """One batch and its planted-duplicate mask.  Duplicate sources
        come only from earlier batches or the seed: the flow pairs a
        batch against its ledger, not against itself."""
        n_dup = int(round(n * dup_share))
        is_dup = np.zeros(n, dtype=bool)
        is_dup[self.rng.choice(n, n_dup, replace=False)] = True
        fresh = iter(self._fresh(n - n_dup))
        src = self.rng.integers(0, len(self.admitted), n_dup)
        pos = self.rng.integers(3, DOC_TOKENS - 3, n_dup)
        repl = self.rng.integers(0, DOC_VOCAB, n_dup)
        docs, j = [], 0
        for dup in is_dup:
            if dup:
                d = self.admitted[src[j]].copy()
                d[pos[j]] = (d[pos[j]] + 1 + repl[j] % (DOC_VOCAB - 1)) % DOC_VOCAB
                docs.append(d)
                j += 1
            else:
                docs.append(next(fresh))
        self.admitted.extend(d for d, dup in zip(docs, is_dup) if not dup)
        return self._frame(docs), is_dup
