"""Correctness checks computed apart from the engine (numpy and plain
Python over the generator's own arrays). Each check returns ``None`` when
the engine's answer is right, else a one-line reason."""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

EPS = 1e-9
TOP_K = 10


# ---------------------------------------------------------------- tfidf


class TfidfOracle:
    """Reference TF-IDF: tf = 1 + log10(n), idf = log10(1 + floor(N/df))."""

    def __init__(self, vocab: np.ndarray, ids: np.ndarray, lens: np.ndarray):
        n_docs, n_vocab = len(lens), len(vocab)
        doc = np.repeat(np.arange(n_docs), lens)
        keys, counts = np.unique(ids.astype(np.int64) * n_docs + doc, return_counts=True)
        self.word, self.doc, self.n = keys // n_docs, keys % n_docs, counts
        df = np.bincount(self.word, minlength=n_vocab)
        idf = np.log10(1.0 + np.floor(n_docs / np.maximum(df, 1)))
        self.df = df[self.word]
        self.tf = 1.0 + np.log10(counts)
        self.tfidf = self.tf * idf[self.word]
        self.starts = np.searchsorted(self.word, np.arange(n_vocab + 1))
        self.vocab = vocab
        self.rank = {w: i for i, w in enumerate(vocab)}

    def doc_rows(self, doc_ids) -> dict:
        """(word, doc_id) -> (tf, df, tfidf) for every word of the docs."""
        sel = np.flatnonzero(np.isin(self.doc, np.asarray(list(doc_ids))))
        return {
            (self.vocab[self.word[i]], int(self.doc[i])):
                (self.tf[i], int(self.df[i]), self.tfidf[i])
            for i in sel
        }

    def scores(self, query_text: str) -> dict[int, float]:
        """Bag semantics: a repeated term counts once per occurrence."""
        out: dict[int, float] = defaultdict(float)
        for term in query_text.split(" "):
            r = self.rank.get(term)
            if r is None:
                continue
            lo, hi = self.starts[r], self.starts[r + 1]
            for d, v in zip(self.doc[lo:hi].tolist(), self.tfidf[lo:hi].tolist()):
                out[d] += v
        return dict(out)


def check_index_rows(rows, expected: dict) -> str | None:
    """Stored index rows ``(word, doc_id, tf, df, tfidf)`` for sampled docs."""
    got = {(r[0], int(r[1])): (r[2], int(r[3]), r[4]) for r in rows}
    if len(got) != len(rows):
        return "duplicate (word, doc_id) rows in the stored index"
    if got.keys() != expected.keys():
        return f"index rows for sampled docs differ: {len(got)} stored vs {len(expected)} expected"
    for key, (tf, df, score) in expected.items():
        gtf, gdf, gscore = got[key]
        if gdf != df or not math.isclose(gtf, tf, rel_tol=EPS) or not math.isclose(gscore, score, rel_tol=EPS, abs_tol=EPS):
            return f"tfidf row {key} is {got[key]}, expected {(tf, df, score)}"
    return None


def check_top10(rows, scores: dict[int, float]) -> str | None:
    """Ranked rows ``(doc_id, score, rnk)`` against oracle scores: the
    right scores in order, the right documents up to float ties, and ties
    broken by ``doc_id``."""
    expected = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    rows = sorted(rows, key=lambda r: r[2])
    if len(rows) != len(expected):
        return f"returned {len(rows)} rows, expected {len(expected)}"
    for i, (doc, score, rnk) in enumerate(rows):
        if rnk != i + 1:
            return f"ranks are not 1..n: {[r[2] for r in rows]}"
        if doc not in scores or not math.isclose(score, scores[doc], rel_tol=EPS, abs_tol=EPS):
            return f"doc {doc} scored {score}, oracle {scores.get(doc)}"
        if not math.isclose(score, expected[i][1], rel_tol=EPS, abs_tol=EPS):
            return f"rank {i + 1} has score {score}, oracle top-10 has {expected[i][1]}"
        if i and score == rows[i - 1][1] and doc < rows[i - 1][0]:
            return f"tie at score {score} not broken by doc_id"
    # documents strictly above the cut-off score must all be present
    cut = expected[-1][1] if expected else 0.0
    must = {d for d, s in expected if s > cut + EPS * max(1.0, abs(cut))}
    missing = must - {r[0] for r in rows}
    if missing:
        return f"top-10 misses docs {sorted(missing)}"
    return None


# ---------------------------------------------------------------- ann


def exact_knn(ids: np.ndarray, vecs: np.ndarray, query_id: int, query_vec: np.ndarray) -> list[int]:
    """Exact L2 neighbours of a query, the query itself excluded."""
    d2 = ((vecs.astype(np.float64) - query_vec.astype(np.float64)) ** 2).sum(1)
    order = np.lexsort((ids, d2))
    return [int(ids[i]) for i in order if ids[i] != query_id][:TOP_K]


def check_knn(got: dict[int, list[int]], exact: dict[int, list[int]]) -> tuple[float, str | None]:
    """Each query returns k distinct ids other than itself; returns the
    mean recall@10 against the exact neighbours."""
    recalls = []
    for q, truth in exact.items():
        ids = got.get(q, [])
        if len(ids) != TOP_K or len(set(ids)) != TOP_K:
            return 0.0, f"query {q} returned {len(set(ids))} distinct ids of {len(ids)}, expected {TOP_K}"
        if q in ids:
            return 0.0, f"query {q} returned itself"
        recalls.append(len(set(ids) & set(truth)) / TOP_K)
    return float(np.mean(recalls)), None


def check_twins(got: dict[int, list[int]], pairs: list[tuple[int, int]]) -> str | None:
    """``pairs`` of (twin, copy): each extended vector ``copy`` is an exact
    copy of base vector ``twin``, so it must be among the twin's top-10."""
    missed = [(twin, copy) for twin, copy in pairs if copy not in got.get(twin, [])]
    if missed:
        return (f"{len(missed)} of {len(pairs)} extended vectors not in their twin's top-10 "
                f"(twin, copy): {missed[:5]}")
    return None


# ---------------------------------------------------------------- curate

#: Engine MinHash defaults: 12 hashes in 4 bands of 3 rows.
BANDS, ROWS = 4, 3
SPLIT_SHARES = {"train": 0.90, "valid": 0.05, "test": 0.05}
SPLIT_TOL = 0.03
FLAG_OVERLAP = 0.5


def shingle_set(text: str, k: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def banding_probability(jaccard: float) -> float:
    return 1.0 - (1.0 - jaccard ** ROWS) ** BANDS


def allowed_misses(probs: list[float], alpha: float = 1e-6) -> int:
    """Smallest m with P(misses > m) < alpha, misses ~ Poisson(sum(1-p))."""
    lam = sum(1.0 - p for p in probs)
    m, term, cdf = 0, math.exp(-lam), math.exp(-lam)
    while 1.0 - cdf >= alpha:
        m += 1
        term *= lam / m
        cdf += term
    return m


def check_curated(rows, planted: dict, texts: list[str]) -> tuple[float, str | None]:
    """Curated rows ``(doc_id, split)``; returns the share of planted near
    copies dropped."""
    kept = {int(d) for d, _ in rows}
    if len(kept) != len(rows):
        return 0.0, "duplicate doc_id in curated output"
    groups = defaultdict(list)
    for doc_id, src in planted["exact"]:
        groups[src].append(doc_id)
    for src, copies in groups.items():
        if src not in kept or kept & set(copies):
            return 0.0, f"exact-copy group {[src] + copies} did not keep only {src}"
    for kind in ("foreign", "lowq"):
        bad = kept & {d for d, _ in planted[kind]}
        if bad:
            return 0.0, f"planted {kind} docs kept: {sorted(bad)[:5]}"
    near = planted["near"]
    probs = [banding_probability(_jaccard(texts[src], texts[d])) for d, src in near]
    dropped = sum(d not in kept for d, _ in near)
    misses = len(near) - dropped
    if misses > allowed_misses(probs):
        return 0.0, (f"{misses} of {len(near)} near copies kept; banding predicts "
                     f"{sum(1 - p for p in probs):.2f}")
    counts = defaultdict(int)
    for _, split in rows:
        counts[split] += 1
    for split, share in SPLIT_SHARES.items():
        got = counts[split] / max(1, len(rows))
        if abs(got - share) > SPLIT_TOL:
            return 0.0, f"split {split} has share {got:.3f}, expected {share}"
    return dropped / len(near), None


def _jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def exact_contamination(texts: list[str], bench: list[str]) -> dict[int, tuple[int, int]]:
    """doc_id -> (distinct shingles, exact hits against the bench set)."""
    bench_set = set().union(*(shingle_set(t) for t in bench))
    out = {}
    for doc_id, text in enumerate(texts):
        s = shingle_set(text)
        if s:
            out[doc_id] = (len(s), len(s & bench_set))
    return out


def check_bloom(rows, exact: dict, contaminated: list[int]) -> str | None:
    """Bloom rows ``(doc_id, n_shingles, n_hits, overlap_ratio)``: no false
    negatives against the exact hits, and every planted doc flagged."""
    got = {int(r[0]): r for r in rows}
    if got.keys() != exact.keys():
        return f"bloom scored {len(got)} docs, expected {len(exact)}"
    for doc_id, (n_sh, hits) in exact.items():
        r = got[doc_id]
        if r[1] != n_sh:
            return f"doc {doc_id}: {r[1]} shingles, expected {n_sh}"
        if r[2] < hits:
            return f"doc {doc_id}: {r[2]} bloom hits < {hits} exact hits (false negative)"
    for doc_id in contaminated:
        if got[doc_id][3] < FLAG_OVERLAP:
            return f"planted contaminated doc {doc_id} not flagged (overlap {got[doc_id][3]})"
    return None
