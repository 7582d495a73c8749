"""Seeded input generators for the benchmark workloads.

Every generator takes the run seed and returns plain Python/numpy data;
``write_*`` helpers put it on disk as parquet. The program under test
only ever sees those files. The same seed always yields the same inputs.

Text is ASCII (lowercase pseudo-words, some capitalised, commas and a
final period), so Java's ``\\W+`` split and Python's ``re.ASCII``
``\\W+`` split agree token for token.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sparkbigdatatextanalysis_spark.functions.text import ENGLISH_STOPWORDS

# Sparse-ER calibration (reference catalogs: 1,363 x 3,226 docs, 55.5%
# of pairs share a token, ~17k distinct post-stopword tokens). A Zipf
# law with exponent 1.05 over 127 stopwords + 17,373 content words and
# Poisson(120)-token docs reproduces both at the reference size:
# 2.45M of 4.40M pairs (56%) share a token, ~16.5k vocabulary.
ZIPF_EXPONENT = 1.05
N_CONTENT_WORDS = 17_373
ER_DOC_TOKENS = 120

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input family)."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def pseudo_words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct alphabetic words of 4..9 letters, none a stopword."""
    taken = set(ENGLISH_STOPWORDS)
    out: list[str] = []
    while len(out) < n:
        lens = rng.integers(4, 10, size=2 * (n - len(out)))
        letters = rng.integers(0, 26, size=int(lens.sum()))
        pos = 0
        for ln in lens:
            w = "".join(_LETTERS[letters[pos:pos + ln]])
            pos += ln
            if w not in taken:
                taken.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


@dataclass
class Vocab:
    words: list[str]
    probs: np.ndarray  # sampling probability per word, rank order

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return rng.choice(len(self.words), size=n, p=self.probs)


def zipf_vocab(rng: np.random.Generator) -> Vocab:
    """Stopwords in the top 127 ranks (shuffled), then content words."""
    stop = list(ENGLISH_STOPWORDS)
    rng.shuffle(stop)
    words = stop + pseudo_words(rng, N_CONTENT_WORDS)
    p = np.arange(1, len(words) + 1, dtype=float) ** -ZIPF_EXPONENT
    return Vocab(words, p / p.sum())


def render(rng: np.random.Generator, vocab: Vocab, toks: np.ndarray) -> str:
    """Token ids -> sentence: some words capitalised, some commas."""
    words = [vocab.words[t] for t in toks]
    for i in np.flatnonzero(rng.random(len(words)) < 0.08):
        words[i] = words[i].capitalize()
    for i in np.flatnonzero(rng.random(len(words)) < 0.05):
        words[i] += ","
    return " ".join(words) + "."


def _lengths(rng: np.random.Generator, n: int, mean: int) -> np.ndarray:
    return np.maximum(5, rng.poisson(mean, n))


def _perturb(rng: np.random.Generator, vocab: Vocab, toks: np.ndarray) -> np.ndarray:
    """A gold match: ~80% of the tokens kept, a few replaced, a few added."""
    keep = toks[rng.random(len(toks)) < 0.8]
    repl = rng.random(len(keep)) < 0.1
    keep = keep.copy()
    keep[repl] = vocab.sample(rng, int(repl.sum()))
    extra = vocab.sample(rng, int(rng.integers(0, max(2, len(toks) // 8))))
    out = np.concatenate([keep, extra])
    return out if len(out) else toks[:1]


# ---------------------------------------------------------------- ER


@dataclass
class ERInputs:
    a_ids: list[str]
    a_text: list[str]
    b_ids: list[str]
    b_text: list[str]
    gold: list[tuple[str, str]]


def er_inputs(seed: int, n_a: int, n_b: int, n_gold: int) -> ERInputs:
    """Catalogs A and B on the Zipfian vocabulary with ``n_gold``
    planted matches. About 5% of the gold A docs match two B docs
    (many-to-one, as in the reference mapping)."""
    rng = _rng(seed, "er-sparse")
    vocab = zipf_vocab(rng)
    a_len = _lengths(rng, n_a, ER_DOC_TOKENS)
    b_len = _lengths(rng, n_b, ER_DOC_TOKENS)
    a_toks = [vocab.sample(rng, int(n)) for n in a_len]
    n_distinct = n_gold - n_gold // 20
    gold_a = rng.choice(n_a, size=n_distinct, replace=False)
    gold_a = np.concatenate([gold_a, rng.choice(gold_a, size=n_gold - n_distinct, replace=False)])
    b_toks = [_perturb(rng, vocab, a_toks[i]) for i in gold_a]
    b_toks += [vocab.sample(rng, int(n)) for n in b_len[n_gold:]]
    b_order = rng.permutation(n_b)  # b position of each generated B doc
    a_ids = [f"a{i:06d}" for i in range(n_a)]
    b_ids = [f"b{i:06d}" for i in range(n_b)]
    b_text = [""] * n_b
    for j, toks in enumerate(b_toks):
        b_text[b_order[j]] = render(rng, vocab, toks)
    return ERInputs(
        a_ids=a_ids,
        a_text=[render(rng, vocab, t) for t in a_toks],
        b_ids=b_ids,
        b_text=b_text,
        gold=[(a_ids[a], b_ids[b_order[j]]) for j, a in enumerate(gold_a)],
    )


def write_er(inp: ERInputs, root: str) -> None:
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.table({"id": inp.a_ids, "text": inp.a_text}), f"{root}/a.parquet")
    pq.write_table(pa.table({"id": inp.b_ids, "text": inp.b_text}), f"{root}/b.parquet")
    a, b = zip(*inp.gold)
    pq.write_table(pa.table({"a_id": list(a), "b_id": list(b)}), f"{root}/gold.parquet")


# ------------------------------------------------------------ ingest


@dataclass
class IngestBatch:
    ids: list[int]
    texts: list[str]
    kinds: list[str]  # fresh | exact | near


def _near_variant(rng: np.random.Generator, vocab: Vocab, text: str) -> str:
    """Same token sequence in other bytes (case, spacing, punctuation);
    docs of 120+ tokens also gain one trailing word. Either way the
    3-shingle Jaccard with the original is >= 120/121, so MinHash-LSH
    (4 bands x 4 rows) misses it with probability < 2e-6."""
    words = text.rstrip(".").replace(",", "").split()
    words = [w.upper() if i % 3 == 0 else w.lower() for i, w in enumerate(words)]
    if len(words) >= 120:
        words.append(vocab.words[int(vocab.sample(rng, 1)[0])])
    return "  ".join(words) + " !"


def ingest_inputs(
    seed: int, n_batches: int, batch_docs: int, reingest_share: float = 0.2
) -> list[IngestBatch]:
    """Micro-batches of new docs. Batch 0 is all fresh; every later
    batch re-ingests ``reingest_share`` of its docs from fresh docs of
    earlier batches, half byte-identical and half near variants."""
    rng = _rng(seed, "ingest")
    vocab = zipf_vocab(rng)
    fresh_pool: list[str] = []
    batches: list[IngestBatch] = []
    next_id = 0
    for k in range(n_batches):
        n_re = 0 if k == 0 else int(round(reingest_share * batch_docs))
        n_exact = n_re // 2
        fresh = [render(rng, vocab, vocab.sample(rng, int(n)))
                 for n in _lengths(rng, batch_docs - n_re, 80)]
        src = rng.choice(len(fresh_pool), size=n_re, replace=False) if n_re else []
        texts = fresh + [fresh_pool[s] for s in src[:n_exact]]
        texts += [_near_variant(rng, vocab, fresh_pool[s]) for s in src[n_exact:]]
        kinds = ["fresh"] * len(fresh) + ["exact"] * n_exact + ["near"] * (n_re - n_exact)
        order = rng.permutation(batch_docs)
        batches.append(IngestBatch(
            ids=list(range(next_id, next_id + batch_docs)),
            texts=[texts[i] for i in order],
            kinds=[kinds[i] for i in order],
        ))
        next_id += batch_docs
        fresh_pool += fresh
    return batches


def write_ingest(batches: list[IngestBatch], root: str) -> list[str]:
    """One parquet file per micro-batch, mtimes strictly increasing so
    the file source replays them in batch order."""
    os.makedirs(root, exist_ok=True)
    paths = []
    for k, b in enumerate(batches):
        path = f"{root}/batch_{k:04d}.parquet"
        pq.write_table(
            pa.table({"doc_id": pa.array(b.ids, pa.int64()), "text": b.texts}), path
        )
        os.utime(path, (1_600_000_000 + k, 1_600_000_000 + k))
        paths.append(path)
    return paths


# ------------------------------------------------------------ search


@dataclass
class SearchInputs:
    doc_text: list[str]  # doc id = position
    vectors: np.ndarray  # (n_vecs, dim) float64, vec id = row
    bm25_queries: list[list[str]]
    ivf_queries: list[int]


def search_inputs(
    seed: int, n_docs: int, n_vecs: int, dim: int, n_clusters: int, n_queries: int
) -> SearchInputs:
    """Zipfian corpus, clustered vectors, and the request stream: BM25
    queries of 2-3 mid-frequency words (content ranks 50..250) and IVF
    query vector ids."""
    rng = _rng(seed, "search")
    vocab = zipf_vocab(rng)
    docs = [render(rng, vocab, vocab.sample(rng, int(n)))
            for n in _lengths(rng, n_docs, 60)]
    n_stop = len(ENGLISH_STOPWORDS)
    queries = [
        [vocab.words[n_stop + r] for r in rng.choice(np.arange(50, 250), size=int(rng.integers(2, 4)), replace=False)]
        for _ in range(n_queries)
    ]
    centers = rng.normal(size=(n_clusters, dim))
    member = rng.integers(0, n_clusters, size=n_vecs)
    vectors = np.round(centers[member] + 0.35 * rng.normal(size=(n_vecs, dim)), 6)
    return SearchInputs(
        doc_text=docs,
        vectors=vectors,
        bm25_queries=queries,
        ivf_queries=[int(i) for i in rng.choice(n_vecs, size=n_queries, replace=False)],
    )


def write_search(inp: SearchInputs, root: str) -> None:
    os.makedirs(root, exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(range(len(inp.doc_text)), pa.int64()), "text": inp.doc_text}),
        f"{root}/docs.parquet",
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(inp.vectors)), pa.int64()),
            "embedding": pa.array(list(inp.vectors), pa.list_(pa.float64())),
        }),
        f"{root}/emb.parquet",
    )
