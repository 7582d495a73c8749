"""Workload drivers. Each calls the engine's public functions, times
operations from outside, and hands back the outputs for checking.

An operation is one unit of work a user waits for: an ER job (catalogs
on disk -> 101-row threshold sweep) or one search step (a BM25 request
then an IVF request). ``run_op`` returns ``Op`` records; their checks
run after the timed phase.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

import gen
import reference
from sparkbigdatatextanalysis_spark.functions import lineage
from sparkbigdatatextanalysis_spark.operators import ann, dedup, evaluation, retrieval, similarity, tfidf
from sparkbigdatatextanalysis_spark.streaming.ingest import ingest_stream_writer

# Reference catalog sizes (Amazon 1,363 x Google 3,226, 1,300 gold
# pairs), scaled down: at 0.3 of them one warm ER job already takes
# 6-8 s on a 4-core box, too long for several jobs inside one run. The
# candidate share (~56%) does not depend on the scale.
ER_SCALE = 0.15
ER_SIZES = (round(1363 * ER_SCALE), round(3226 * ER_SCALE), round(1300 * ER_SCALE))

SEARCH_DOCS = 3000
SEARCH_VECS = 4000
SEARCH_DIM = 64
SEARCH_CLUSTERS = 64
SEARCH_QUERIES = 400
TOP_K = 10
# IVF (16 centroids, 2 probes) against the brute force on 64 planted
# clusters: a run whose mean recall@10 falls below this fails a check.
# One request may legitimately score lower (its neighbours sit in an
# unprobed cluster); each request is checked exactly against the
# probed clusters instead.
RECALL_FLOOR = 0.8

INGEST_BATCHES = 5
INGEST_BATCH_DOCS = 300


@dataclass
class Op:
    seconds: float
    check: Callable[[], bool]
    layer: dict[str, float] = field(default_factory=dict)
    # set by the timed loop: CPU seconds (driver + JVM), traced or not
    cpu: float = math.nan
    traced: bool = False


def _count_tokens(df) -> int:
    return df.select(F.sum(F.size("tokens"))).first()[0] or 0


class ERSparse:
    """Reference-shaped catalogs on a Zipfian vocabulary: the engine's
    sparse token-join path does the similarity work."""

    name = "er-sparse"

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, root: str) -> None:
        self.inp = gen.er_inputs(self.seed, *ER_SIZES)
        gen.write_er(self.inp, root)
        self.root = root

    def build(self, spark) -> dict:
        return {}

    def expect(self) -> None:
        i = self.inp
        self.exp = reference.er_expectation(i.a_text, i.b_text, i.a_ids, i.b_ids, i.gold)

    def _read(self, spark):
        return (
            spark.read.parquet(f"{self.root}/a.parquet"),
            spark.read.parquet(f"{self.root}/b.parquet"),
            spark.read.parquet(f"{self.root}/gold.parquet"),
        )

    def _sims(self, spark):
        a, b, g = self._read(spark)
        ta, tb = tfidf.tokenized(a), tfidf.tokenized(b)
        idf = tfidf.idf_table(tfidf.corpus_union(ta, tb))
        wa, wb = tfidf.tfidf_weights(ta, idf), tfidf.tfidf_weights(tb, idf)
        return similarity.cosine_similarity_join(wa, wb), g

    def run_op(self, spark, i: int, tracer=None) -> list[Op]:
        t0 = time.perf_counter()
        if tracer is None:
            sims, g = self._sims(spark)
            rows = evaluation.threshold_sweep(sims, g).collect()
        else:
            rows = self._traced_job(spark, tracer)
        dt = time.perf_counter() - t0
        # release what the program persisted (threshold_sweep's bins,
        # the dense flats) so the next job cannot reuse it
        spark.catalog.clearCache()
        rows = [r.asDict() for r in rows]
        return [Op(dt, lambda: reference.sweep_matches(rows, self.exp))]

    def _traced_job(self, spark, tr):
        with tr.span("er.job"):
            with tr.span("tfidf.tokenize") as s:
                a, b, g = self._read(spark)
                ta, tb = tfidf.tokenized(a).persist(), tfidf.tokenized(b).persist()
                s["counts"]["tokens_out"] = _count_tokens(ta) + _count_tokens(tb)
            with tr.span("tfidf.idf") as s:
                idf = tfidf.idf_table(tfidf.corpus_union(ta, tb)).persist()
                s["counts"]["vocab_n"] = idf.count()
            with tr.span("tfidf.weights") as s:
                wa = tfidf.tfidf_weights(ta, idf).persist()
                wb = tfidf.tfidf_weights(tb, idf).persist()
                s["counts"]["weights"] = wa.count() + wb.count()
            with tr.span("similarity.join") as s:
                sims = similarity.cosine_similarity_join(wa, wb).persist()
                n = sims.count()
                s["counts"]["candidate_pairs"] = n
                s["counts"]["blocking_ratio"] = n / self.exp.n_pairs
                s["counts"]["dense_path"] = int(is_dense_plan(sims))
            with tr.span("evaluation.sweep") as s:
                rows = evaluation.threshold_sweep(sims, g).collect()
                s["counts"]["pairs_tagged"] = next(
                    r["tp"] + r["fp"] for r in rows if r["threshold"] == 0.0
                )
        return rows

    def verify(self, spark) -> list[bool]:
        """Cosines of a sample of candidate pairs to 1e-9, and a sample
        of pairs sharing no token absent from the join."""
        rng = random.Random(self.seed)
        cand = rng.sample(sorted(self.exp.sims), min(200, len(self.exp.sims)))
        none = []
        while len(none) < 50:
            p = (rng.choice(self.inp.a_ids), rng.choice(self.inp.b_ids))
            if p not in self.exp.sims:
                none.append(p)
        probe = spark.createDataFrame(cand + none, "a_id string, b_id string")
        sims, _ = self._sims(spark)
        got = {(r["a_id"], r["b_id"]): r["sim"] for r in sims.join(probe, ["a_id", "b_id"]).collect()}
        spark.catalog.clearCache()
        return [
            set(got) == set(cand)
            and all(abs(got[p] - self.exp.sims[p]) <= 1e-9 for p in cand)
        ]

    def traced_probe(self, spark, root: str, tracer) -> tuple[dict, list[bool]]:
        return {}, []


def is_dense_plan(sims) -> bool:
    """True when the analyzed plan of the cosine join is one of the
    dense strategies (their pair products run over pivoted per-doc
    columns or arrays, not over the token equi-join's ``w_a`` x
    ``w_b``)."""
    plan = sims._jdf.queryExecution().analyzed().toString()
    return "w_a#" not in plan


def _request(mod: str, plan, tracer, layer: dict) -> list[dict]:
    """Build the request's DataFrame, then collect it. The two halves'
    times land in ``layer`` as ``<mod>.plan_ms`` / ``<mod>.exec_ms``;
    traced, each half is also a span."""
    if tracer is None:
        t0 = time.perf_counter()
        df = plan()
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    else:
        with tracer.span(f"{mod}.plan") as sp:
            df = plan()
        with tracer.span(f"{mod}.exec") as se:
            rows = df.collect()
        t0, t1, t2 = sp["start"], se["start"], se["end"]
    layer[f"{mod}.plan_ms"] = 1000 * (t1 - t0)
    layer[f"{mod}.exec_ms"] = 1000 * (t2 - t1)
    return [r.asDict() for r in rows]


class SearchClosedLoop:
    """One client in a closed loop; each step is a BM25 keyword request
    followed by an IVF vector request, against a prebuilt tokenized
    corpus and centroid table."""

    name = "search-closed-loop"

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, root: str) -> None:
        self.inp = gen.search_inputs(
            self.seed, SEARCH_DOCS, SEARCH_VECS, SEARCH_DIM, SEARCH_CLUSTERS, SEARCH_QUERIES
        )
        gen.write_search(self.inp, root)
        self.root = root

    def build(self, spark) -> dict:
        """The serving state: tokenized corpus and vectors cached in
        memory, IVF centroids refined by Lloyd passes."""
        t0 = time.perf_counter()
        docs = spark.read.parquet(f"{self.root}/docs.parquet")
        self.tok = tfidf.tokenized(docs).persist()
        self.tok.count()
        t1 = time.perf_counter()
        self.emb = spark.read.parquet(f"{self.root}/emb.parquet").persist()
        self.emb.count()
        self.cents = ann.kmeans_centroids(self.emb)
        return {"retrieval.index_build_s": t1 - t0, "ann.index_build_s": time.perf_counter() - t1}

    def expect(self) -> None:
        self.bm25 = reference.BM25(self.inp.doc_text)
        self.cos = reference.Cosine(self.inp.vectors)
        cents = [(r["c_id"], r["cv"], r["cn"]) for r in self.cents.orderBy("c_id").collect()]
        self.ivf = reference.IVF(self.cos, cents, ann.N_PROBE)
        self.recalls: list[float] = []

    def run_op(self, spark, i: int, tracer=None) -> list[Op]:
        """One step of the client: a BM25 request, then an IVF request."""
        q_text = self.inp.bm25_queries[i % SEARCH_QUERIES]
        q_vec = self.inp.ivf_queries[i % SEARCH_QUERIES]
        layer: dict[str, float] = {}
        t0 = time.perf_counter()
        bm25_rows = _request(
            "retrieval", lambda: retrieval.bm25_topk(self.tok, q_text, k=TOP_K), tracer, layer
        )
        ivf_rows = _request(
            "ann",
            lambda: ann.cosine_topk_ivf(self.emb, spark.range(q_vec, q_vec + 1), k=TOP_K, cents=self.cents),
            tracer,
            layer,
        )
        dt = time.perf_counter() - t0

        def check() -> bool:
            rec = reference.recall_at_k(ivf_rows, self.cos, q_vec, TOP_K)
            layer["ann.recall_at_k"] = rec
            self.recalls.append(rec)
            return reference.bm25_matches(
                bm25_rows, self.bm25.topk(q_text, TOP_K)
            ) and reference.ivf_matches(ivf_rows, self.ivf, q_vec, TOP_K)

        return [Op(dt, check, layer)]

    def verify(self, spark) -> list[bool]:
        """Mean recall@10 of the run's IVF requests at or above the floor
        (the requests' own checks have run)."""
        return [statistics.mean(self.recalls) >= RECALL_FLOOR]

    def traced_probe(self, spark, root: str, tracer) -> tuple[dict, list[bool]]:
        """The ingest layers, which no workload loads end to end."""
        return ingest_round(spark, self.seed, root, tracer)


# ------------------------------------------------------------ ingest


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def ingest_round(spark, seed: int, root: str, tracer) -> tuple[dict, list[bool]]:
    """One traced ``availableNow`` stream over fresh state: micro-batches
    of new docs (about 20% exact or near re-ingests) through
    ``ingest_stream_writer``. Returns the dedup/streaming/sources layer
    metrics and one check result per micro-batch."""
    batches = gen.ingest_inputs(seed, INGEST_BATCHES, INGEST_BATCH_DOCS)
    paths = gen.write_ingest(batches, f"{root}/incoming")
    in_bytes = sum(os.path.getsize(p) for p in paths)
    state, flags = f"{root}/state", f"{root}/flags"
    counts = dict.fromkeys(
        ("docs_in", "kept", "exact_dup_history", "near_dup_history", "near_dup_batch"), 0
    )
    open_sources: list = []

    def close_sources():
        for cm, result in open_sources:
            result.unpersist()
            cm.__exit__(None, None, None)
        open_sources.clear()

    def traced_dedup(new_docs, *args, **kwargs):
        close_sources()  # a replayed batch never reached release()
        with tracer.span("dedup.batch"):
            res = orig_dedup(new_docs, *args, **kwargs)
            res.result.persist()
            row = res.result.agg(
                F.count(F.lit(1)).alias("docs_in"),
                *[F.sum(F.col(c).cast("int")).alias(n) for n, c in (
                    ("kept", "keep"),
                    ("exact_dup_history", "exact_dup_history"),
                    ("near_dup_history", "near_dup_history"),
                    ("near_dup_batch", "near_dup_batch"),
                )],
            ).first()
            for k in counts:
                counts[k] += row[k] or 0
        cm = tracer.span("sources.write")
        cm.__enter__()
        open_sources.append((cm, res.result))
        return res

    def traced_release(df):
        orig_release(df)
        close_sources()

    orig_dedup, orig_release = dedup.incremental_dedup, lineage.release
    src = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/incoming")
    )
    with tracer.span("streaming.round"):
        # ingest_stream_writer imports both functions when it is called
        dedup.incremental_dedup, lineage.release = traced_dedup, traced_release
        try:
            writer = ingest_stream_writer(src, state, flags)
        finally:
            dedup.incremental_dedup, lineage.release = orig_dedup, orig_release
        q = (
            writer.trigger(availableNow=True)
            .option("checkpointLocation", f"{root}/checkpoint")
            .start()
        )
        q.awaitTermination()
    progress = [p for p in q.recentProgress if p["numInputRows"]]
    flag_rows = spark.read.parquet(flags).collect()
    by_doc = {r["doc_id"]: r.asDict() for r in flag_rows}
    n, failed = reference.ingest_flags_match(batches, by_doc)
    checks = [True] * (n - failed) + [False] * failed

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in progress) / 1000

    state_b, state_f = _tree_bytes(state)
    flags_b, flags_f = _tree_bytes(flags)
    out = {
        "dedup.batch_s": statistics.median(tracer.durations("dedup.batch")),
        **{f"dedup.{k}": v for k, v in counts.items()},
        "streaming.trigger_s": med("triggerExecution"),
        "streaming.add_batch_s": med("addBatch"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.wal_commit_s": med("walCommit"),
        "sources.state_bytes_written": state_b,
        "sources.flags_bytes_written": flags_b,
        "sources.files_written": state_f + flags_f,
        "sources.state_bytes_per_input_byte": (state_b + flags_b) / in_bytes,
    }
    return out, checks


WORKLOADS = {w.name: w for w in (ERSparse, SearchClosedLoop)}
