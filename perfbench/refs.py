"""Independent reference answers the benchmark checks outputs against:
exact top-k in numpy and BM25 in plain Python."""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

K1, B = 1.2, 0.75  # the standard Okapi BM25 defaults


def exact_topk(ids: np.ndarray, x: np.ndarray, q, k: int = 10):
    """(ids, squared-L2 distances) of the k nearest rows, ties by id."""
    d = ((x.astype(np.float64) - np.asarray(q, dtype=np.float64)) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def same_topk(got_ids, got_d, ref_ids, ref_d, rel: float = 1e-5) -> bool:
    """True when an answer is a valid exact top-k: same length, the same
    distance profile, and every id outside a boundary tie matches."""
    if len(got_ids) != len(ref_ids):
        return False
    tol = rel * (1.0 + float(np.max(np.abs(ref_d)))) if len(ref_d) else 0.0
    if not np.allclose(np.asarray(got_d, dtype=np.float64), ref_d, rtol=0, atol=tol):
        return False
    edge = ref_d[-1] if len(ref_d) else 0.0
    sure = {int(i) for i, d in zip(ref_ids, ref_d) if d < edge - tol}
    return sure <= {int(i) for i in got_ids}


def recall(got_ids, ref_ids) -> float:
    ref = {int(i) for i in ref_ids}
    return len(ref & {int(i) for i in got_ids}) / len(ref) if ref else 1.0


def tokenize(text: str) -> list:
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


class BM25Reference:
    """Okapi BM25 over the generated documents (idf = ln((N - df + 0.5) /
    (df + 0.5) + 1)), scored in plain Python."""

    def __init__(self, ids, texts):
        self.ids = [int(i) for i in ids]
        toks = [tokenize(t) for t in texts]
        self.n = len(toks)
        self.avgdl = sum(len(t) for t in toks) / self.n
        self.post: dict = {}
        self.dl = {}
        for i, t in zip(self.ids, toks):
            self.dl[i] = len(t)
            for term, fq in Counter(t).items():
                self.post.setdefault(term, []).append((i, fq))

    def scores(self, query: str) -> dict:
        out: dict = {}
        for term in set(tokenize(query)):
            plist = self.post.get(term, [])
            df = len(plist)
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            for i, fq in plist:
                den = fq + K1 * (1.0 - B + B * self.dl[i] / self.avgdl)
                out[i] = out.get(i, 0.0) + idf * fq * (K1 + 1.0) / den
        return out

    def check(self, query: str, got, k: int = 10, rel: float = 1e-9):
        """(ok, recall@k) for ``got`` = [(doc_id, score)] against the
        reference top-k; boundary ties may resolve either way."""
        sc = self.scores(query)
        ref = sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        if len(got) != len(ref):
            return False, 0.0
        for (gi, gs), (_ri, rs) in zip(got, ref):
            if gi not in sc or not math.isclose(gs, sc[gi], rel_tol=rel):
                return False, 0.0
            if not math.isclose(gs, rs, rel_tol=rel):
                return False, 0.0
        return True, recall([g[0] for g in got], [r[0] for r in ref])
