"""Seeded input generators. The same seed gives the same inputs; the
program under test only ever sees the parquet files written from them."""

from __future__ import annotations

import numpy as np

DIM = 64
N_CLUSTERS = 32

# common English function words: they give generated prose a realistic
# stopword ratio (the curation quality score rewards it)
STOPWORDS = (
    "the of and to in is it that for on as by at this be are or an"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def vector_corpus(seed: int, n: int, n_probes: int, dim: int = DIM):
    """Clustered float32 corpus plus held-out probes drawn from the same
    mixture. Returns (ids int64, corpus (n, dim), probes (n_probes, dim)).

    Clusters hold equal shares of the corpus and of the probes, so the
    work a search does depends on the seed as little as possible: the
    seed moves the points, not the shape of the data."""
    rng = _rng(seed, 1)
    centers = rng.normal(scale=2.0, size=(N_CLUSTERS, dim))
    which = np.concatenate([rng.permutation(np.arange(n) % N_CLUSTERS),
                            rng.permutation(np.arange(n_probes) % N_CLUSTERS)])
    x = (centers[which] + rng.normal(size=(n + n_probes, dim))).astype(np.float32)
    return np.arange(n, dtype=np.int64), x[:n], x[n:]


def write_stream(seed: int, corpus: np.ndarray, cycles: int, inserts: int,
                 updates: int, deletes: int):
    """Per-cycle inserts (fresh ids), updates (live ids, new vectors) and
    deletes (live ids never touched again). Vectors come from the corpus
    mixture re-centred per row, so they land in populated lists."""
    rng = _rng(seed, 2)
    n, dim = corpus.shape
    live = list(range(n))
    next_id = n
    out = []
    for _ in range(cycles):
        def fresh(k):
            base = corpus[rng.integers(0, n, k)]
            return (base + 0.5 * rng.normal(size=(k, dim))).astype(np.float32)

        ins_ids = np.arange(next_id, next_id + inserts, dtype=np.int64)
        next_id += inserts
        pick = rng.choice(len(live), updates + deletes, replace=False)
        upd_ids = np.asarray([live[i] for i in pick[:updates]], dtype=np.int64)
        del_ids = np.asarray([live[i] for i in pick[updates:]], dtype=np.int64)
        dead = set(del_ids.tolist())
        live = [i for i in live if i not in dead] + ins_ids.tolist()
        out.append({
            "insert_ids": ins_ids, "insert_vecs": fresh(inserts),
            "update_ids": upd_ids, "update_vecs": fresh(updates),
            "delete_ids": del_ids,
        })
    return out


def _vocab(rng: np.random.Generator, size: int) -> list:
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    words, seen = [], set(STOPWORDS)
    while len(words) < size:
        k = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def documents(seed: int, n: int, exact_frac: float = 0.1, near_frac: float = 0.1,
              low_frac: float = 0.1):
    """Document corpus with known fractions of exact duplicates, near
    duplicates (about 3% of tokens replaced) and low-quality (too short)
    documents. Returns (ids, texts, labels, groups, vocab): ``labels`` is
    one of unique/exact/near/low, and ``groups`` maps a duplicate to the
    index of the document it copies (-1 otherwise)."""
    rng = _rng(seed, 3)
    vocab = _vocab(rng, 3000)
    weights = 1.0 / (np.arange(len(vocab)) + 10.0)
    weights /= weights.sum()
    n_exact, n_near, n_low = (int(n * f) for f in (exact_frac, near_frac, low_frac))
    n_unique = n - n_exact - n_near - n_low

    def prose():
        toks = []
        for _ in range(int(rng.integers(7, 12))):  # sentences
            k = int(rng.integers(8, 15))
            stop = rng.random(k) < 0.3
            words = rng.choice(len(vocab), k, p=weights)
            toks.append(" ".join(
                STOPWORDS[int(rng.integers(len(STOPWORDS)))] if s else vocab[w]
                for s, w in zip(stop, words)) + ".")
        return toks

    texts, labels, groups = [], [], []
    sentences = []
    for _ in range(n_unique):
        s = prose()
        sentences.append(s)
        texts.append(" ".join(s))
        labels.append("unique")
        groups.append(-1)
    for _ in range(n_exact):
        src = int(rng.integers(n_unique))
        texts.append(texts[src])
        labels.append("exact")
        groups.append(src)
    for _ in range(n_near):
        src = int(rng.integers(n_unique))
        words = " ".join(sentences[src]).split(" ")
        for i in rng.choice(len(words), max(1, len(words) // 33), replace=False):
            words[i] = vocab[int(rng.integers(len(vocab)))]
        texts.append(" ".join(words))
        labels.append("near")
        groups.append(src)
    for _ in range(n_low):
        k = int(rng.integers(2, 5))
        texts.append(" ".join(vocab[int(rng.integers(len(vocab)))] for _ in range(k)))
        labels.append("low")
        groups.append(-1)
    # ids are a seeded permutation, so duplicates are not always the
    # larger id of their pair
    ids = rng.permutation(n).astype(np.int64) + 1
    return ids, texts, labels, groups, vocab


def bm25_queries(seed: int, vocab: list, count: int, terms: int = 3) -> list:
    """Queries of mid-frequency vocabulary words (ranks 20-400)."""
    rng = _rng(seed, 4)
    return [" ".join(vocab[int(i)] for i in rng.integers(20, 400, terms))
            for _ in range(count)]
