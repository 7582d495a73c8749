"""Independent reference implementations (pure Python + numpy).

Nothing here calls the engine: each function recomputes from the
generated inputs what a correct answer must be, so the benchmark can
check every output the program returns.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from dataclasses import dataclass

import numpy as np

from sparkbigdatatextanalysis_spark.functions.text import ENGLISH_STOPWORDS

_SPLIT = re.compile(r"\W+", re.ASCII)
_STOP = frozenset(ENGLISH_STOPWORDS)
N_THRESHOLDS = 100
# Half-width of the band around a bin edge inside which the last bits of
# a cosine (summation order differs between engines) may land the pair
# in either bin.
_EDGE = 1e-7
# Tolerance on a 9-place cosine: the engine and numpy may round the
# same value one unit apart.
_TIE = 2e-9


def tokens(text: str) -> list[str]:
    """lower -> split on \\W+ -> drop empties -> drop stopwords."""
    return [t for t in _SPLIT.split(text.lower()) if t and t not in _STOP]


# ---------------------------------------------------------------- ER


@dataclass
class ERExpectation:
    lo: dict[str, np.ndarray]  # per-threshold lower bound of tp/fp/fn
    hi: dict[str, np.ndarray]
    sims: dict[tuple[str, str], float]  # every candidate pair's cosine
    n_pairs: int  # |A| x |B|


def _tfidf(docs: list[list[str]], idf: dict[str, float]) -> list[dict[str, float]]:
    out = []
    for d in docs:
        c = Counter(d)
        out.append({t: n / len(d) * idf[t] for t, n in c.items()})
    return out


def er_expectation(a_text: list[str], b_text: list[str], a_ids, b_ids, gold) -> ERExpectation:
    """TF-IDF cosine with the reference's non-log ``N / df`` idf over the
    union corpus, all pairs sharing a token, then the 101-threshold
    tp/fp/fn sweep with missing gold pairs counted at similarity 0."""
    ta = [tokens(t) for t in a_text]
    tb = [tokens(t) for t in b_text]
    n_docs = len(ta) + len(tb)
    df = Counter(t for d in ta + tb for t in set(d))
    idf = {t: n_docs / c for t, c in df.items()}
    wa, wb = _tfidf(ta, idf), _tfidf(tb, idf)
    na = np.array([math.sqrt(sum(w * w for w in v.values())) for v in wa])
    nb = np.array([math.sqrt(sum(w * w for w in v.values())) for v in wb])
    post_a: dict[str, list[tuple[int, float]]] = defaultdict(list)
    for i, v in enumerate(wa):
        for t, w in v.items():
            post_a[t].append((i, w))
    post_b: dict[str, list[tuple[int, float]]] = defaultdict(list)
    for j, v in enumerate(wb):
        for t, w in v.items():
            post_b[t].append((j, w))
    n_b = len(tb)
    dot = np.zeros(len(ta) * n_b)
    keys, vals = [], []
    pending = 0
    for t, pa in post_a.items():
        pb = post_b.get(t)
        if not pb:
            continue
        ia, wa_t = np.array(pa).T
        jb, wb_t = np.array(pb).T
        keys.append((ia.astype(np.int64)[:, None] * n_b + jb.astype(np.int64)[None, :]).ravel())
        vals.append(np.outer(wa_t, wb_t).ravel())
        pending += keys[-1].size
        if pending > 2_000_000:
            dot += np.bincount(np.concatenate(keys), np.concatenate(vals), minlength=dot.size)
            keys, vals, pending = [], [], 0
    if keys:
        dot += np.bincount(np.concatenate(keys), np.concatenate(vals), minlength=dot.size)
    cand = np.flatnonzero(dot > 0)
    ai, bj = cand // n_b, cand % n_b
    sim = dot[cand] / (na[ai] * nb[bj])
    a_pos = {a: i for i, a in enumerate(a_ids)}
    b_pos = {b: j for j, b in enumerate(b_ids)}
    gold_keys = np.array(sorted(a_pos[a] * n_b + b_pos[b] for a, b in gold), dtype=np.int64)
    is_gold = np.isin(cand, gold_keys)
    missing = len(gold_keys) - int(is_gold.sum())

    scaled = sim * N_THRESHOLDS
    bin_lo = np.clip(np.floor(scaled - _EDGE), 0, N_THRESHOLDS).astype(int)
    bin_hi = np.clip(np.floor(scaled + _EDGE), 0, N_THRESHOLDS).astype(int)

    def at_or_above(bins: np.ndarray) -> np.ndarray:
        counts = np.bincount(bins, minlength=N_THRESHOLDS + 1)
        return np.cumsum(counts[::-1])[::-1]

    tp_lo = at_or_above(bin_lo[is_gold])
    tp_hi = at_or_above(bin_hi[is_gold])
    tp_lo[0] += missing
    tp_hi[0] += missing
    fp_lo = at_or_above(bin_lo[~is_gold])
    fp_hi = at_or_above(bin_hi[~is_gold])
    n_gold = len(gold_keys)
    sims = {
        (a_ids[i], b_ids[j]): float(s) for i, j, s in zip(ai.tolist(), bj.tolist(), sim.tolist())
    }
    return ERExpectation(
        lo={"tp": tp_lo, "fp": fp_lo, "fn": n_gold - tp_hi},
        hi={"tp": tp_hi, "fp": fp_hi, "fn": n_gold - tp_lo},
        sims=sims,
        n_pairs=len(ta) * n_b,
    )


def sweep_matches(rows, exp: ERExpectation) -> bool:
    """The 101-row sweep table agrees with the reference at every
    threshold (exactly, except where a pair sits within 1e-7 of a bin
    edge), and its precision and recall follow from its own counts."""
    if len(rows) != N_THRESHOLDS + 1:
        return False
    for r in sorted(rows, key=lambda r: r["threshold"]):
        i = int(round(r["threshold"] * N_THRESHOLDS))
        if abs(r["threshold"] - i / N_THRESHOLDS) > 1e-12:
            return False
        for k in ("tp", "fp", "fn"):
            if not exp.lo[k][i] <= r[k] <= exp.hi[k][i]:
                return False
        pred, n_gold = r["tp"] + r["fp"], r["tp"] + r["fn"]
        if pred and abs(r["precision"] - r["tp"] / pred) > 1e-12:
            return False
        if n_gold and abs(r["recall"] - r["tp"] / n_gold) > 1e-12:
            return False
    return True


# ------------------------------------------------------------ search


class BM25:
    """Okapi BM25 with Lucene's +1-smoothed idf; top-k on the score
    rounded to 6 places, ties broken by ascending id."""

    def __init__(self, doc_text: list[str], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.dl = [len(tokens(t)) for t in doc_text]
        self.n = len(doc_text)
        self.avgdl = sum(self.dl) / self.n
        self.post: dict[str, Counter] = defaultdict(Counter)
        for i, t in enumerate(doc_text):
            for tok in tokens(t):
                self.post[tok][i] += 1

    def topk(self, query: list[str], k: int = 10) -> list[tuple[int, float]]:
        scores: dict[int, float] = defaultdict(float)
        for t in dict.fromkeys(query):
            p = self.post.get(t, {})
            idf = math.log((self.n - len(p) + 0.5) / (len(p) + 0.5) + 1.0)
            for d, tf in p.items():
                norm = self.k1 * (1.0 - self.b + self.b * self.dl[d] / self.avgdl)
                scores[d] += idf * tf * (self.k1 + 1.0) / (tf + norm)
        ranked = sorted(((-round(s, 6), d) for d, s in scores.items()))[:k]
        return [(d, -s) for s, d in ranked]


def bm25_matches(rows, expected: list[tuple[int, float]]) -> bool:
    got = [(r["id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
    return [d for d, _ in got] == [d for d, _ in expected] and all(
        abs(s - e) <= 2e-6 for (_, s), (_, e) in zip(got, expected)
    )


class Cosine:
    """Exact cosine top-k by brute force, cosines rounded to 9 places,
    ties broken by ascending id, the query itself excluded."""

    def __init__(self, vectors: np.ndarray):
        self.v = vectors
        self.norm = np.sqrt((vectors * vectors).sum(axis=1))

    def cos(self, q: int) -> np.ndarray:
        return np.round(self.v @ self.v[q] / (self.norm * self.norm[q]), 9)

    def topk(self, q: int, k: int = 10) -> list[int]:
        c = self.cos(q)
        c[q] = -np.inf
        order = np.lexsort((np.arange(len(c)), -c))
        return order[:k].tolist()


class IVF:
    """What an IVF request must return over a given centroid set: each
    vector belongs to its nearest centroid (9-place cosine, ties to the
    lower centroid id), the query probes its ``n_probe`` nearest
    centroids, and the answer is the exact top-k of the probed
    clusters' vectors. Centroids ``cents`` are (c_id, cv, cn) in c_id
    order. A vector or probe within ``_TIE`` of a tie may go either
    way."""

    def __init__(self, exact: Cosine, cents: list[tuple[int, list[float], float]], n_probe: int):
        self.exact, self.n_probe = exact, n_probe
        cv = np.array([c[1] for c in cents])
        cn = np.array([c[2] for c in cents])
        self.score = np.round(exact.v @ cv.T / (exact.norm[:, None] * cn[None, :]), 9)
        best = self.score.max(axis=1, keepdims=True)
        self.member_hi = self.score >= best - _TIE  # may belong
        self.member_lo = self.member_hi & (self.member_hi.sum(axis=1, keepdims=True) == 1)

    def candidates(self, q: int) -> tuple[np.ndarray, np.ndarray]:
        """(certain, possible) candidate masks of a request for ``q``."""
        s = self.score[q]
        ranked = np.sort(s)[::-1]
        probe_hi = s >= ranked[self.n_probe - 1] - _TIE
        probe_lo = s > ranked[self.n_probe] + _TIE if self.n_probe < len(s) else np.ones_like(probe_hi)
        lo = (self.member_lo & probe_lo).any(axis=1)
        hi = (self.member_hi & probe_hi).any(axis=1)
        lo[q] = hi[q] = False
        return lo, hi


def ivf_matches(rows, ivf: IVF, q: int, k: int = 10) -> bool:
    """The IVF result is the exact top-k of the probed clusters: ranks
    well formed, cosines right, no vector outside the probed clusters,
    and no probed vector left out that ranks above the last one
    returned."""
    c = ivf.exact.cos(q)
    got = sorted(rows, key=lambda r: r["rank"])
    if [r["rank"] for r in got] != list(range(1, len(got) + 1)) or len(got) > k:
        return False
    if any(r["q_id"] != q or abs(r["cos"] - c[r["n_id"]]) > _TIE for r in got):
        return False
    keys = [(-r["cos"], r["n_id"]) for r in got]
    if keys != sorted(keys):
        return False
    lo, hi = ivf.candidates(q)
    ids = {r["n_id"] for r in got}
    if not all(hi[i] for i in ids):
        return False
    left_out = [i for i in np.flatnonzero(lo).tolist() if i not in ids]
    return not left_out or (len(got) == k and all(c[i] <= got[-1]["cos"] + _TIE for i in left_out))


def recall_at_k(rows, exact: Cosine, q: int, k: int = 10) -> float:
    """Share of the brute-force top-k that an approximate result holds."""
    return len({r["n_id"] for r in rows} & set(exact.topk(q, k))) / k


# ------------------------------------------------------------ ingest


def ingest_flags_match(batches, flags_by_doc: dict[int, dict]) -> tuple[int, int]:
    """Per micro-batch: exact-duplicate flags exactly (content sha-256 in
    the hashes of docs kept by earlier batches / identical to a lower id
    in the same batch), ``keep`` == no flag set, and every planted near
    re-ingest not kept. Returns (batches checked, batches failed)."""
    kept: set[str] = set()
    failed = 0
    for b in batches:
        digests = [hashlib.sha256(t.encode()).hexdigest() for t in b.texts]
        first_id: dict[str, int] = {}
        for i, h in zip(b.ids, digests):
            first_id[h] = min(i, first_id.get(h, i))
        ok = True
        for i, h, kind in zip(b.ids, digests, b.kinds):
            f = flags_by_doc.get(i)
            if f is None:
                ok = False
                continue
            any_flag = f["exact_dup_history"] or f["exact_dup_batch"] or f["near_dup_history"] or f["near_dup_batch"]
            ok &= f["content_hash"] == h
            ok &= f["exact_dup_history"] == (h in kept)
            ok &= f["exact_dup_batch"] == (first_id[h] != i)
            ok &= f["keep"] == (not any_flag)
            ok &= kind != "near" or not f["keep"]
        kept |= {h for i, h in zip(b.ids, digests) if flags_by_doc.get(i, {}).get("keep")}
        failed += not ok
    return len(batches), failed
