"""Brute-force BM25, written apart from the engine, to check its rankings.

Lucene 8 BM25Similarity with the engine's default parameters:

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d) = sum over query terms t of idf(t) * tf / (tf + k1 * (1 - b + b * dl' / avgdl))

where dl' is the document length after a round trip through the one-byte
norm (SmallFloat.intToByte4 / byte4ToInt) and avgdl is the float32 of
total_tf / N. Documents are ranked by score, then by url.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

K1 = 0.9
B = 0.4
REL_TOL = 1e-5


def _long_to_int4(i: int) -> int:
    bits = i.bit_length()
    if bits < 4:
        return i
    shift = bits - 4
    return ((i >> shift) & 0x07) | ((shift + 1) << 3)


def _int4_to_long(i: int) -> int:
    bits, shift = i & 0x07, (i >> 3) - 1
    return bits if shift == -1 else (bits | 0x08) << shift


def int_to_byte4(i: int) -> int:
    return i if i < 24 else 24 + _long_to_int4(i - 24)


def byte4_to_int(b: int) -> int:
    return b if b < 24 else 24 + _int4_to_long(b - 24)


def read_analyzed(index_path: str) -> dict[str, list[str]]:
    """url -> term list, from the index's analyzed/ parquet files."""
    out: dict[str, list[str]] = {}
    for f in sorted(glob.glob(os.path.join(index_path, "analyzed", "*.parquet"))):
        t = pq.read_table(f, columns=["id", "terms"])
        out.update(zip(t.column("id").to_pylist(), t.column("terms").to_pylist()))
    return out


class BM25:
    def __init__(self, docs: dict[str, list[str]]):
        self.urls = sorted(docs)
        self.n = len(self.urls)
        dl = np.array([len(docs[u]) for u in self.urls], dtype=np.int64)
        self.avgdl = float(np.float32(dl.sum() / self.n))
        quant = np.array([byte4_to_int(int_to_byte4(int(x))) for x in dl], dtype=np.float64)
        self.norm = K1 * (1 - B + B * quant / self.avgdl)
        # term -> (doc indexes, tfs)
        post: dict[str, tuple[list[int], list[int]]] = {}
        for i, u in enumerate(self.urls):
            for term, tf in Counter(docs[u]).items():
                p = post.setdefault(term, ([], []))
                p[0].append(i)
                p[1].append(tf)
        self.post = {t: (np.array(d), np.array(f, dtype=np.float64))
                     for t, (d, f) in post.items()}

    def df(self, term: str) -> int:
        p = self.post.get(term)
        return 0 if p is None else len(p[0])

    def scores(self, terms: list[str]) -> dict[int, float]:
        acc = np.zeros(self.n)
        hit = np.zeros(self.n, dtype=bool)
        for t in dict.fromkeys(terms):
            if t not in self.post:
                continue
            d, tf = self.post[t]
            df = len(d)
            idf = np.log(1 + (self.n - df + 0.5) / (df + 0.5))
            acc[d] += idf * tf / (tf + self.norm[d])
            hit[d] = True
        return {int(i): float(acc[i]) for i in np.flatnonzero(hit)}

    def top(self, terms: list[str], k: int) -> tuple[list[tuple[str, float]], dict[str, float]]:
        """(top-k as (url, score) by score desc then url, all scores by url)."""
        s = self.scores(terms)
        ranked = sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return ([(self.urls[i], v) for i, v in ranked],
                {self.urls[i]: v for i, v in s.items()})


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def compare(got: list[tuple[str, float]], want: list[tuple[str, float]],
            all_scores: dict[str, float]) -> str | None:
    """None if ``got`` is a correct ranking, else what is wrong.

    Every returned doc must carry its oracle score, rank by rank the scores
    must equal the oracle's, and a doc may differ from the oracle's at a
    rank only when the two tie within the tolerance."""
    if len(got) != len(want):
        return f"{len(got)} hits, oracle has {len(want)}"
    if len({u for u, _ in got}) != len(got):
        return "duplicate doc in ranking"
    for rank, ((gu, gs), (wu, ws)) in enumerate(zip(got, want)):
        if gu not in all_scores or not _close(gs, all_scores[gu]):
            return f"rank {rank}: {gu} scored {gs}, oracle {all_scores.get(gu)}"
        if not _close(gs, ws):
            return f"rank {rank}: score {gs}, oracle rank score {ws}"
    return None
