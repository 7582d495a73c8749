"""Unit tests for the training-data-pipeline operators (dedup / ANN /
text stats) -- semantics checks on small controlled inputs; cross-engine
oracle parity is covered by the driver contract in __spark_entry__.py."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from sparkbigdatatextanalysis_spark.functions.hashing import (
    HASH_BASE,
    MERSENNE31,
    char_fold_hash_sql,
    word_shingles,
)
from sparkbigdatatextanalysis_spark.operators import ann, dedup, textstats

from conftest import sf_dir


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


# --- hashing ---------------------------------------------------------------


def test_char_fold_hash_golden(spark):
    """The char fold's two kept forms: the payload-byte fold of the
    multimodal operators and its DuckDB twin used by their oracles."""
    import duckdb

    from sparkbigdatatextanalysis_spark.operators.multimodal import _byte_fold

    expected = 0
    for ch in "hello":
        expected = (expected * HASH_BASE + ord(ch)) % MERSENNE31
    got = _byte_fold(b"hello")
    duck = duckdb.sql(f"SELECT {char_fold_hash_sql(repr('hello'))}").fetchone()[0]
    assert got == duck == expected == 792145564


def test_word_shingles_and_short_doc_fallback(spark):
    row = (
        spark.createDataFrame([Row(toks=["a", "b", "c", "d"])])
        .select(word_shingles("toks", 3).alias("sh"))
        .first()
    )
    assert sorted(row["sh"]) == ["a b c", "b c d"]
    short = (
        spark.createDataFrame([Row(toks=["a", "b"])])
        .select(word_shingles("toks", 3).alias("sh"))
        .first()
    )
    assert short["sh"] == ["a b"]


# --- dedup -----------------------------------------------------------------


def test_exact_dedup_marks_min_id_representative(spark):
    d = _docs(spark, ["same text", "other text", "same text"])
    rows = {r["doc_id"]: r["keep"] for r in dedup.exact_dedup(d).collect()}
    assert rows == {0: True, 1: True, 2: False}


def test_minhash_identical_docs_share_all_bands(spark):
    d = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta", "zzz yyy xxx www"])
    pairs = {(r["a_id"], r["b_id"]) for r in dedup.minhash_lsh_pairs(d).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_identical_docs_equal_and_in_range(spark):
    d = _docs(spark, ["alpha beta gamma", "alpha beta gamma", "completely different words here"])
    sigs = {
        r["id"]: (r["sim_hi"], r["sim_lo"])
        for r in dedup.simhash_signatures(d).collect()
    }
    assert sigs[0] == sigs[1]
    # each half is an unsigned 32-bit value (64 signature bits total)
    assert all(
        0 <= hi < (1 << 32) and 0 <= lo < (1 << 32) for hi, lo in sigs.values()
    )
    pairs = dedup.simhash_near_pairs(dedup.simhash_signatures(d)).collect()
    ham = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs}
    assert ham.get((0, 1)) == 0


def test_simhash_chunk_keys_are_16bit(spark):
    """Candidate buckets must be 16-bit (65,536 values per chunk) -- the
    scale guarantee that bucket size, and hence the per-bucket quadratic
    join, stays bounded."""
    d = _docs(spark, ["alpha beta gamma", "different words entirely"])
    sigs = dedup.simhash_signatures(d)
    # reproduce the chunking used by simhash_near_pairs and check ranges
    row = sigs.where(F.col("id") == 0).first()
    chunks = [
        (row["sim_lo"] >> 0) & 0xFFFF,
        (row["sim_lo"] >> 16) & 0xFFFF,
        (row["sim_hi"] >> 0) & 0xFFFF,
        (row["sim_hi"] >> 16) & 0xFFFF,
    ]
    assert all(0 <= c < (1 << 16) for c in chunks)
    # the four 16-bit chunks reassemble the full 64-bit signature
    assert chunks[0] | (chunks[1] << 16) == row["sim_lo"]
    assert chunks[2] | (chunks[3] << 16) == row["sim_hi"]


def test_ngram_jaccard_values(spark):
    # doc0 shingles: {a b c, b c d}; doc1: {a b c, b c x}; jaccard = 1/3
    d = _docs(spark, ["a b c d", "a b c x"])
    r = dedup.ngram_jaccard_pairs(d).collect()
    assert len(r) == 1
    assert r[0]["a_id"] == 0 and r[0]["b_id"] == 1
    assert abs(r[0]["jaccard"] - 1.0 / 3.0) < 1e-12


def _ref_near_dup_pairs(emb, threshold):
    """(a_id, b_id, cos) for every vector pair with cosine >= threshold:
    the quadratic crossJoin (a < b) spec that the blocked-GEMM and LSH
    forms are checked against. A zero norm gives a NULL cosine, which
    never passes the threshold."""
    from sparkbigdatatextanalysis_spark.functions.vector import vec_dot

    nv = dedup.embedding_norms(emb)
    a = nv.select(F.col("id").alias("a_id"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = nv.select(F.col("id").alias("b_id"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.try_divide(vec_dot("va", "vb"), F.col("na") * F.col("nb")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def test_embedding_blocked_equals_crossjoin_baseline(spark):
    """The blocked-GEMM exact path must return exactly the crossJoin
    spec baseline's pairs (ids AND cosines) on real embeddings."""
    emb = spark.read.parquet(f"{sf_dir('0.001')}/embeddings.parquet")
    base = {
        (r["a_id"], r["b_id"]): r["cos"]
        for r in _ref_near_dup_pairs(emb, threshold=0.35).collect()
    }
    blocked = {
        (r["a_id"], r["b_id"]): r["cos"]
        for r in dedup.embedding_near_dup_pairs_blocked(
            emb, threshold=0.35, n_blocks=4
        ).collect()
    }
    assert set(blocked) == set(base)
    for k in base:
        assert abs(blocked[k] - base[k]) < 1e-9, k


def test_embedding_lsh_pairs_subset_of_exact(spark):
    """LSH-bucketed near-dup pairs: every returned pair must be a true
    above-threshold pair (exact rerank => no false positives); recall
    may be < 1 by design but must be non-trivial."""
    emb = spark.read.parquet(f"{sf_dir('0.001')}/embeddings.parquet")
    exact = {
        (r["a_id"], r["b_id"])
        for r in _ref_near_dup_pairs(emb, threshold=0.35).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in dedup.embedding_near_dup_pairs_lsh(emb, threshold=0.35).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.3, (len(lsh), len(exact))


def test_embedding_near_dup_finds_parallel_vectors(spark):
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[2.0, 0.0, 0.0]),  # cos=1 with 0
            Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),  # cos=0 with both
        ]
    )
    for fn in (_ref_near_dup_pairs, dedup.embedding_near_dup_pairs_blocked):
        pairs = {(r["a_id"], r["b_id"]): r["cos"] for r in fn(emb, 0.9).collect()}
        assert set(pairs) == {(0, 1)}, fn.__name__
        assert abs(pairs[(0, 1)] - 1.0) < 1e-12


def test_zero_vector_has_no_cosine_and_never_pairs(spark):
    """An all-zero embedding has norm 0. Every embedding near-dup
    operator gives its cosines NULL instead of failing the query with
    DIVIDE_BY_ZERO under ANSI division, so it never pairs and is kept,
    while the identical nonzero vectors still pair."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])], schema)
    cents = spark.createDataFrame([(0, [1.0, 0.0], 1.0)], "c_id BIGINT, cv ARRAY<DOUBLE>, cn DOUBLE")

    for fn in (
        _ref_near_dup_pairs,
        dedup.embedding_near_dup_pairs_blocked,
        dedup.embedding_near_dup_pairs_lsh,
    ):
        got = {(r["a_id"], r["b_id"], r["cos"]) for r in fn(emb, 0.9).collect()}
        assert got == {(1, 3, 1.0)}, fn.__name__

    keep = {r["vec_id"]: r["keep"] for r in dedup.semantic_dedup(emb, 0.9, cents=cents).collect()}
    assert keep == {1: 1, 2: 1, 3: 0}

    day1 = dedup.incremental_semantic_dedup(
        spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 0.0])], schema), None, 0.9, cents
    )
    day2 = dedup.incremental_semantic_dedup(
        spark.createDataFrame([(3, [1.0, 0.0]), (4, [0.0, 0.0]), (5, [0.0, 0.0])], schema),
        day1.delta_reps,
        0.9,
        cents,
    )
    got = {
        r["vec_id"]: (r["near_dup_history"], r["near_dup_batch"])
        for r in day2.result.collect()
    }
    assert got == {3: (True, False), 4: (False, False), 5: (False, False)}

    protected = spark.createDataFrame([(100, [2.0, 0.0]), (101, [0.0, 0.0])], schema)
    out = {
        r["vec_id"]: (r["n_probe_hits"], r["contaminated"])
        for r in pl.embedding_decontamination(emb, protected, 0.9, cents).collect()
    }
    assert out == {1: (1, True), 2: (0, False), 3: (1, True)}


# --- ANN -------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_emb(spark):
    return spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[-1.0, 0.0]),
        ]
    )


def test_bruteforce_topk_order(spark, small_emb):
    q = small_emb.select("vec_id").where(F.col("vec_id") == 0)
    rows = ann.cosine_topk_bruteforce(small_emb, q, k=3).collect()
    got = [(r["rank"], r["n_id"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_lsh_topk_subset_of_bruteforce_universe(spark, small_emb):
    q = small_emb.select("vec_id").where(F.col("vec_id") == 0)
    rows = ann.cosine_topk_lsh(small_emb, q, k=3).collect()
    # approximate: every returned neighbor must be a real vector and ranks
    # must be contiguous from 1
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    assert all(r["n_id"] in {1, 2, 3} for r in rows)


def test_lsh_signatures_deterministic(spark, small_emb):
    a = {(r["id"], r["band"]): r["bucket"] for r in ann.lsh_signatures(small_emb).collect()}
    b = {(r["id"], r["band"]): r["bucket"] for r in ann.lsh_signatures(small_emb).collect()}
    assert a == b
    assert len(a) == 4 * ann.LSH_BANDS


def test_lsh_signatures_ragged_vectors_zero_pad(spark):
    """Vectors shorter than the plane dimension are zero-padded (the
    oracle's length-bounded fold semantics): a short vector must produce
    the same buckets as its explicitly zero-padded twin."""
    dim = len(ann.HYPERPLANES[0])
    short = [0.5, -1.25, 2.0]
    padded = short + [0.0] * (dim - len(short))
    df = spark.createDataFrame(
        [(0, short), (1, padded)], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    sigs = {
        (r["id"], r["band"]): r["bucket"]
        for r in ann.lsh_signatures(df, rows_per_band=4).collect()
    }
    for b in range(ann.LSH_BANDS):
        assert sigs[(0, b)] == sigs[(1, b)]


# --- text stats ------------------------------------------------------------


def test_language_id_markers(spark):
    d = _docs(
        spark,
        [
            "the cat and the dog sat in the house",
            "der hund und die katze ist nicht hier",
            "xyzzy plugh qwerty",
        ],
    )
    out = {r["id"]: r["lang_pred"] for r in textstats.language_id(d).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "und"


def test_text_quality_ranges_and_empty(spark):
    d = _docs(spark, ["", "a good long sentence with many plain words in it"])
    rows = {r["id"]: r for r in textstats.text_quality(d).collect()}
    assert rows[0]["n_tokens"] == 0 and rows[0]["quality_score"] >= 0.0
    r1 = rows[1]
    assert 0.0 <= r1["quality_score"] <= 1.0
    assert r1["punct_ratio"] == 0.0
    assert r1["n_tokens"] == 10


def test_token_counts(spark):
    d = _docs(spark, ["Hello, world! x2"])
    r = textstats.token_counts(d).first()
    assert r["n_ws_tokens"] == 3
    # Hello , world ! x2 -> 5 BPE-ish pre-tokens ("x2" is one \w+ run)
    assert r["n_bpe_tokens"] == 5


def test_doc_fingerprint_equal_for_equal_docs(spark):
    d = _docs(spark, ["one two three four", "one two three four", "five six seven eight"])
    rows = {r["id"]: r["fingerprint"] for r in textstats.doc_fingerprints(d).collect()}
    assert rows[0] == rows[1] != rows[2]


def test_ivf_topk_matches_bruteforce_within_probed_clusters(spark, small_emb):
    qids = small_emb.select("vec_id").where(F.col("vec_id") < 2)
    bf = ann.cosine_topk_bruteforce(small_emb, qids, k=3)
    cents = ann.kmeans_centroids(small_emb, n_centroids=2)
    ivf = ann.cosine_topk_ivf(small_emb, qids, k=3, n_probe=2, cents=cents)
    got = {(r["q_id"], r["n_id"], r["rank"]) for r in ivf.collect()}
    # n_probe == centroid count probes everything -> IVF must equal brute force
    expected = {(r["q_id"], r["n_id"], r["rank"]) for r in bf.collect()}
    assert got == expected


def test_ivf_assignments_cover_all_vectors_once(spark, small_emb):
    # the unrefined first-2-by-id seed set: cluster ids are vec ids 0, 1
    cents = ann.kmeans_centroids(small_emb, n_centroids=2, n_iter=0)
    a = ann._assign_from_lit(
        ann._norm_vecs(small_emb, "vec_id", "embedding"),
        ann._cents_lit(ann._collect_cents(cents, "test")),
    )
    rows = a.collect()
    assert len(rows) == small_emb.count()
    assert len({r["id"] for r in rows}) == len(rows)
    assert all(r["cluster"] in (0, 1) for r in rows)


def test_chunk_tokens_matches_reference(spark):
    """Windows vs a straight-line Python reference across sizes/strides
    and lengths (shorter than size, exact multiple, off-by-one)."""
    from sparkbigdatatextanalysis_spark.operators.pipeline import chunk_tokens

    docs = {
        0: [f"t{i}" for i in range(10)],
        1: [f"t{i}" for i in range(3)],
        2: [f"t{i}" for i in range(8)],   # exact multiple of size 4
        3: [f"t{i}" for i in range(9)],   # one past a multiple
        4: ["only"],
    }
    df = spark.createDataFrame(list(docs.items()), "id LONG, tokens ARRAY<STRING>")
    for size, stride in [(4, 4), (4, 2), (5, 1), (3, 3)]:
        got = {
            (r["id"], r["chunk_idx"]): (list(r["chunk"]), r["n_chunk_tokens"])
            for r in chunk_tokens(df, size, stride).collect()
        }
        exp = {}
        for did, toks in docs.items():
            n = len(toks)
            n_chunks = 1 + max(0, -(-(n - size) // stride)) if n > size else 1
            for k in range(n_chunks):
                w = toks[k * stride : k * stride + size]
                exp[(did, k)] = (w, len(w))
        assert got == exp, (size, stride)


def test_chunk_tokens_edge_cases(spark):
    from sparkbigdatatextanalysis_spark.operators.pipeline import chunk_tokens

    df = spark.createDataFrame(
        [(0, []), (1, None), (2, ["a", "b"])], "id LONG, tokens ARRAY<STRING>"
    )
    rows = chunk_tokens(df, size=5).collect()
    assert [(r["id"], list(r["chunk"])) for r in rows] == [(2, ["a", "b"])]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="size must be"):
        chunk_tokens(df, size=0)
    with _pytest.raises(ValueError, match="stride must be"):
        chunk_tokens(df, size=4, stride=5)


class TestCurationRules:
    def _ref(self, text: str) -> dict:
        import re

        toks = [t for t in re.split(r"\W+", text.lower()) if t]
        alpha = [t for t in toks if re.search(r"[a-z]", t)]
        mean_len = sum(len(t) for t in alpha) / len(alpha) if alpha else None
        n_symbols = text.count("#") + text.count("...")
        lines = [ln for ln in text.split("\n") if ln.strip()]
        bullets = [ln for ln in lines if re.match(r"^[\-\*•]", ln.strip())]
        from sparkbigdatatextanalysis_spark.functions.text import (
            ENGLISH_STOPWORDS,
        )

        stop_hits = len(set(toks) & set(ENGLISH_STOPWORDS))
        rules = {
            "r_n_tokens": 5 <= len(toks) <= 100_000,
            "r_mean_word_len": (
                mean_len is not None and 2.0 <= mean_len <= 12.0
            ),
            "r_symbol_ratio": (
                len(toks) > 0 and n_symbols / len(toks) <= 0.1
            ),
            "r_bullet_ratio": (
                len(bullets) / len(lines) <= 0.9 if lines else True
            ),
            "r_alpha_ratio": (
                len(toks) > 0 and len(alpha) / len(toks) >= 0.7
            ),
            "r_stopword_hits": stop_hits >= 2,
        }
        rules["keep"] = all(rules.values())
        return rules

    CASES = [
        (0, "the quick brown fox jumps over the lazy dog and runs away"),
        (1, "short"),
        (2, "### ### ### the and of to in is that it ### ### ###"),
        (3, "- the first point is here\n- and the second\n- and a third"),
        (4, "1 2 3 4 5 6 7 8 9 10 11 12 13 14"),
        (5, "the " + "supercalifragilisticexpialidocious " * 20 + "and it is"),
        (6, ""),
        (7, "a list that keeps prose\nplain line with the and of it\n- one bullet"),
    ]

    def test_matches_python_reference(self, spark):
        from sparkbigdatatextanalysis_spark.operators.textstats import (
            curation_rules,
        )

        df = spark.createDataFrame(self.CASES, "doc_id LONG, text STRING")
        got = {r["doc_id"]: r.asDict() for r in curation_rules(df).collect()}
        for doc_id, text in self.CASES:
            want = self._ref(text)
            have = {k: got[doc_id][k] for k in want}
            assert have == want, (doc_id, have, want)

    def test_runs_on_corpus_and_is_mostly_permissive(self, spark):
        """The synthetic word-soup corpus is clean prose-like text; the
        rule filter must not mass-reject it (sanity that thresholds are
        calibrated, not degenerate)."""
        from sparkbigdatatextanalysis_spark.operators.textstats import (
            curation_rules,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = curation_rules(docs)
        n = out.count()
        kept = out.where("keep").count()
        assert n == 500
        assert kept >= n * 0.5, kept


# ---------------------------------------------------------------------------
# Line-level dedup (pipeline.dedup_lines)
# ---------------------------------------------------------------------------


def _line_map(df):
    return {
        r["doc_id"]: (r["text_dedup"], r["n_lines"], r["n_removed"])
        for r in df.collect()
    }


def test_dedup_lines_removes_corpus_boilerplate(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    docs = _docs(
        spark,
        [
            "a\nboiler\nb",
            "boiler\nc",
            "unique only",
            "x\n\nboiler",
        ],
    )
    got = _line_map(pl.dedup_lines(docs))
    assert got == {
        0: ("a\nb", 3, 1),
        1: ("c", 2, 1),
        2: ("unique only", 1, 0),
        # blank line survives verbatim; trailing boilerplate removed
        3: ("x\n", 3, 1),
    }


def test_dedup_lines_counts_within_doc_repeats(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    # the same line twice in ONE doc is already over max_occurrences=1:
    # both copies go (total count, not distinct-doc count)
    docs = _docs(spark, ["dup\nmid\ndup"])
    got = _line_map(pl.dedup_lines(docs))
    assert got == {0: ("mid", 3, 2)}
    # raising the ceiling keeps them
    got2 = _line_map(pl.dedup_lines(docs, max_occurrences=2))
    assert got2 == {0: ("dup\nmid\ndup", 3, 0)}


def test_dedup_lines_edge_docs(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    # empty text = one blank line, kept; all-blank docs never count as
    # duplicates of each other
    docs = _docs(spark, ["", "", "\n\n"])
    got = _line_map(pl.dedup_lines(docs))
    assert got == {0: ("", 1, 0), 1: ("", 1, 0), 2: ("\n\n", 3, 0)}


def test_dedup_lines_rejects_bad_ceiling(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    with pytest.raises(ValueError, match="max_occurrences"):
        pl.dedup_lines(_docs(spark, ["a"]), max_occurrences=0)


def test_ivf_empty_corpus_degrades_to_empty_not_error(spark):
    """Review regression (r4): the literal-centroid rewrite must keep
    the r3 behavior on an empty corpus -- empty outputs, not an
    AnalysisException from an untyped empty literal array."""
    emb = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert ann.kmeans_centroids(emb).count() == 0
    assign = ann._assign_from_lit(
        ann._norm_vecs(emb, "vec_id", "embedding"),
        ann._cents_lit(ann._collect_cents(ann.kmeans_centroids(emb), "test")),
    )
    assert assign.count() == 0
    q = spark.createDataFrame([], "vec_id LONG")
    assert ann.cosine_topk_ivf(emb, q).count() == 0


def test_dedup_lines_paragraph_separator(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    # sep="\n\n": units are paragraphs; the repeated footer paragraph
    # goes, single newlines inside a paragraph survive untouched
    docs = _docs(
        spark,
        [
            "intro one\nstill intro\n\nshared footer",
            "other doc\n\nshared footer",
        ],
    )
    got = _line_map(pl.dedup_lines(docs, sep="\n\n"))
    assert got == {
        0: ("intro one\nstill intro", 2, 1),
        1: ("other doc", 2, 1),
    }
    with pytest.raises(ValueError, match="sep"):
        pl.dedup_lines(docs, sep="")


# ---------------------------------------------------------------------------
# Quality-aware cluster representatives (dedup.cluster_representatives)
# ---------------------------------------------------------------------------


def test_cluster_representatives_pick_best_quality(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9), (10, 9)],
        "doc_id LONG, keep_id LONG",
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.5), (10, 0.4)],
        "doc_id LONG, quality_score DOUBLE",
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["rep_id"], r["is_rep"])
        for r in dedup.cluster_representatives(clusters, scores).collect()
    }
    assert got == {
        # cluster 1: 2 and 3 tie at 0.9 -> smaller id wins, min-id 1 loses
        1: (1, 2, 0),
        2: (1, 2, 1),
        3: (1, 2, 0),
        # singleton
        7: (7, 7, 1),
        # doc 9 missing from scores (NULL) -> scored member 10 wins
        9: (9, 10, 0),
        10: (9, 10, 1),
    }


def test_cluster_representatives_all_unscored_falls_back_to_min_id(spark):
    clusters = spark.createDataFrame(
        [(5, 4), (4, 4)], "doc_id LONG, keep_id LONG"
    )
    scores = spark.createDataFrame([], "doc_id LONG, quality_score DOUBLE")
    got = {r["doc_id"]: r["rep_id"]
           for r in dedup.cluster_representatives(clusters, scores).collect()}
    assert got == {4: 4, 5: 4}


def test_entry_cluster_pipeline_point_matches_raw_operator(spark):
    """The entry's checkpointed/cached cluster table must be row-equal
    to a fresh run of the underlying operator -- guards the wrapper
    (eager localCheckpoint + session cache) against ever diverging from
    components.dedup_clusters itself."""
    import __spark_entry__ as em
    from sparkbigdatatextanalysis_spark.operators import components as cc

    sf = sf_dir("0.001")
    # pair the module-cache clear with the SQL cache clear (the
    # plan-audit fixture's pattern): dropping only the Python refs
    # would leak every previously persisted pipeline-point table
    spark.catalog.clearCache()
    em._DF_CACHE.clear()
    cached = {
        (r["doc_id"], r["keep_id"], r["is_kept"])
        for r in em._dedup_clusters(spark, sf).collect()
    }
    raw = {
        (r["doc_id"], r["keep_id"], r["is_kept"])
        for r in cc.dedup_clusters(em._mh_pairs(spark, sf), em._docs(spark, sf)).collect()
    }
    assert cached == raw and len(cached) > 0


def test_cluster_representatives_string_ids_and_neg_inf(spark):
    """Generic-contract regressions (r4 review): ids are never negated
    (string ids must work), and a member genuinely scored -inf still
    beats an unscored member (distinct is-scored rank field, not a
    sentinel)."""
    clusters = spark.createDataFrame(
        [("b", "a"), ("a", "a")], "doc_id STRING, keep_id STRING"
    )
    scores = spark.createDataFrame(
        [("b", 0.3)], "doc_id STRING, quality_score DOUBLE"
    )
    got = {r["doc_id"]: r["rep_id"]
           for r in dedup.cluster_representatives(clusters, scores).collect()}
    assert got == {"a": "b", "b": "b"}

    clusters2 = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id LONG, keep_id LONG"
    )
    scores2 = spark.createDataFrame(
        [(2, float("-inf"))], "doc_id LONG, quality_score DOUBLE"
    )
    got2 = {r["doc_id"]: r["rep_id"]
            for r in dedup.cluster_representatives(clusters2, scores2).collect()}
    assert got2 == {1: 2, 2: 2}


def test_cluster_representatives_nan_loses_to_finite_beats_unscored(spark):
    """The explicit NaN tier (r4 advice): a NaN-scored member loses to
    ANY finite score (even -inf) but still beats an unscored member --
    and the policy no longer rides -NaN ordering accidents, so the
    oracle's coalesce(isnan(..), FALSE) tier matches by construction."""
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5), (8, 8), (9, 8)],
        "doc_id LONG, keep_id LONG",
    )
    scores = spark.createDataFrame(
        [
            (1, float("nan")), (2, float("-inf")),   # finite/-inf beats NaN
            (5, float("nan")),                        # NaN beats unscored 6
            (8, float("nan")), (9, float("nan")),    # all-NaN -> min id
        ],
        "doc_id LONG, quality_score DOUBLE",
    )
    got = {r["doc_id"]: r["rep_id"]
           for r in dedup.cluster_representatives(clusters, scores).collect()}
    assert got == {1: 2, 2: 2, 5: 5, 6: 5, 8: 8, 9: 8}


# ---------------------------------------------------------------------------
# Exact-substring dedup (dedup.duplicate_spans / remove_duplicate_spans)
# ---------------------------------------------------------------------------

_BOILER = (
    "This exact boilerplate sentence crosses\nline boundaries and repeats."
)  # 69 chars >= width + window - 1 = 39 -> guaranteed caught


def _span_docs(spark):
    return spark.createDataFrame(
        [
            (1, "unique prefix one. " + _BOILER + " unique tail one......."),
            (2, "a very different start here!! " + _BOILER + " other end.."),
            (3, "totally unrelated document with no repeated spans at all,"
                " nothing shared here truly."),
            (4, "short"),
            (5, "internal repeat: " + _BOILER + " middle filler words go"
                " here " + _BOILER + " done."),
        ],
        "doc_id LONG, text STRING",
    )


def test_duplicate_spans_alignment_robust_and_in_bounds(spark):
    """The winnowing selection must catch the shared 69-char region in
    docs 1/2/5 although it sits at DIFFERENT offsets in each (19, 30,
    17/119) -- the exact case strided fingerprints miss -- and every
    reported span must slice to the same duplicated text."""
    docs = _span_docs(spark)
    spans = dedup.duplicate_spans(docs).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 5}
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    assert len(by_doc[5]) == 2  # within-doc repeat: both occurrences
    cut = {
        (r["doc_id"], r["span_idx"]):
            texts[r["doc_id"]][r["span_start"] - 1 : r["span_end"]]
        for r in spans
    }
    assert len(set(cut.values())) == 1  # all four spans = same interior
    assert cut[(1, 0)] in _BOILER  # conservative: inside the repeat


def test_duplicate_spans_sorted_disjoint_and_indexed(spark):
    spans = dedup.duplicate_spans(_span_docs(spark)).collect()
    by_doc = {}
    for r in sorted(spans, key=lambda r: (r["doc_id"], r["span_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        assert [r["span_idx"] for r in rs] == list(range(len(rs)))
        for a, b in zip(rs, rs[1:]):
            assert a["span_end"] + 1 < b["span_start"]  # merged => gap > 1
        for r in rs:
            assert r["span_start"] >= 1 and r["n_windows"] >= 1


def test_remove_duplicate_spans_subtracts_exactly(spark):
    docs = _span_docs(spark)
    spans = dedup.duplicate_spans(docs)
    got = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(docs, spans).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    span_rows = spans.collect()
    for did, t in texts.items():
        rs = sorted(
            [r for r in span_rows if r["doc_id"] == did],
            key=lambda r: r["span_start"],
        )
        expect = ""
        pos = 1
        for r in rs:
            expect += t[pos - 1 : r["span_start"] - 1]
            pos = r["span_end"] + 1
        expect += t[pos - 1 :]
        assert got[did]["text_clean"] == expect, did
        assert got[did]["n_removed_chars"] == sum(
            r["span_end"] - r["span_start"] + 1 for r in rs
        )
        assert len(got[did]["text_clean"]) == len(t) - got[did]["n_removed_chars"]


def test_duplicate_spans_guards(spark):
    docs = _span_docs(spark)
    with pytest.raises(ValueError):
        dedup.duplicate_spans(docs, width=0)
    with pytest.raises(ValueError):
        dedup.duplicate_spans(docs, window=0)
    with pytest.raises(ValueError):
        dedup.duplicate_spans(docs, min_count=1)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (dedup.semantic_dedup)
# ---------------------------------------------------------------------------


def test_semantic_dedup_within_cluster_minid_survives(spark):
    """Two near-identical vectors (cos ~ 1) must land in one cluster
    with the smaller id kept; an orthogonal vector survives untouched.
    Two seed centroids (the first-2-by-id exemplars), so the near-dups
    genuinely share a cluster rather than each seeding their own."""
    from sparkbigdatatextanalysis_spark.operators.ann import _init_centroids, _norm_vecs

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal to 1
            (3, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
            (4, [0.0, 0.998, 0.02, 0.0]),   # near-dup of 2
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = _init_centroids(_norm_vecs(emb, "vec_id", "embedding"), 2)
    got = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in dedup.semantic_dedup(
            emb, threshold=0.95, cents=cents, persist_assignments=False
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1][1] == 1 and got[3][1] == 0   # min-id survives
    assert got[1][0] == got[3][0]              # same cluster
    assert got[2][1] == 1 and got[4][1] == 0
    assert got[2][0] == got[4][0]
    assert got[1][0] != got[2][0]              # orthogonals separate


def test_semantic_dedup_recall_tradeoff_documented(spark):
    """A >= threshold pair split across clusters is missed BY DESIGN --
    pin the behavior so it can never silently change: with k = n
    centroids (every vector its own seed), nothing pairs at all."""
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    from sparkbigdatatextanalysis_spark.operators.ann import _init_centroids, _norm_vecs

    cents = _init_centroids(_norm_vecs(emb, "vec_id", "embedding"), 8)
    out = dedup.semantic_dedup(
        emb, threshold=0.0, cents=cents, persist_assignments=False
    ).collect()
    # orthogonal unit vectors each own their seed cluster: all kept even
    # at threshold 0 (cos 0 pairs exist corpus-wide but never in-cluster)
    assert all(r["keep"] == 1 for r in out)
    assert len({r["cluster"] for r in out}) == 8


def test_semantic_dedup_matches_brute_force_within_clusters(spark):
    """Property: dropped == vectors that pair >= threshold with a
    smaller id IN THE SAME CLUSTER, recomputed brute-force in Python."""
    import math
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r["vec_id"]: (r["cluster"], r["keep"])
           for r in dedup.semantic_dedup(
               emb, threshold=0.8, persist_assignments=False).collect()}
    vecs = dict(rows)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    for i, (ci, keep) in got.items():
        expect_drop = any(
            j < i and cj == ci and cos(vecs[i], vecs[j]) >= 0.8
            for j, (cj, _) in got.items()
        )
        assert keep == (0 if expect_drop else 1), i


# ---------------------------------------------------------------------------
# Per-domain cap (pipeline.cap_per_domain)
# ---------------------------------------------------------------------------


def test_cap_per_domain_caps_and_is_deterministic(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    rows = [(i, f"d{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out1 = sorted(tuple(r) for r in pl.cap_per_domain(df, cap=4).collect())
    out2 = sorted(
        tuple(r)
        for r in pl.cap_per_domain(df.repartition(7), cap=4).collect()
    )
    assert out1 == out2  # partition-invariant survivors
    by_dom = {}
    for did, dom, rk in out1:
        by_dom.setdefault(dom, []).append(rk)
    assert set(by_dom) == {"d0", "d1", "d2"}
    for dom, rks in by_dom.items():
        assert sorted(rks) == [1, 2, 3, 4]


def test_cap_per_domain_stable_prefix_under_growth(spark):
    """Adding new docs must never evict a previously kept doc whose
    hash rank stays within the cap -- survivors are a hash-order prefix,
    so growth only appends competitors, it does not reshuffle."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    old = [(i, "d") for i in range(10)]
    grown = old + [(i, "d") for i in range(100, 110)]
    k_old = {r["doc_id"]: r["domain_rank"] for r in pl.cap_per_domain(
        spark.createDataFrame(old, "doc_id LONG, source STRING"), cap=5).collect()}
    k_new = {r["doc_id"]: r["domain_rank"] for r in pl.cap_per_domain(
        spark.createDataFrame(grown, "doc_id LONG, source STRING"), cap=5).collect()}
    # every survivor of the grown corpus that already existed must have
    # been a survivor before (ranks can only move up as new docs win)
    for did, rk in k_new.items():
        if did < 100:
            assert did in k_old and k_old[did] <= rk


def test_cap_per_domain_guards(spark):
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    df = spark.createDataFrame([(1, "d")], "doc_id LONG, source STRING")
    with pytest.raises(ValueError):
        pl.cap_per_domain(df, cap=0)


# --- Bloom-filter decontamination (pipeline.bloom_bits / bloom_contamination)


def test_bloom_contamination_supersets_exact(spark):
    """Zero false NEGATIVES by construction: every shingle truly present
    in the protected split has all its Bloom bits set, so per-doc bloom
    hit counts dominate the exact join's contaminated counts and every
    truly contaminated doc is flagged. False positives are allowed at
    the documented rate and routed to the exact join -- the API
    contract this pins."""
    from sparkbigdatatextanalysis_spark.operators import dedup
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    train_phrase = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, "alpha " + train_phrase + " beta gamma"),
        (1, "completely different training text about query planners"),
        (2, "another training document with shuffle partitions and joins"),
        (3, train_phrase),
        (4, "cost based optimizer statistics histogram sketch"),
        # test docs: 5 copies a train phrase (contaminated), 6 copies a
        # fragment, 7 and 8 are clean, 9 shares single words only (no
        # 3-gram overlap)
        (5, "intro words then " + train_phrase + " closing words"),
        (6, "quick brown fox jumps somewhere new entirely today folks"),
        (7, "nothing shared here at all zebra xylophone quasar"),
        (8, "fresh unrelated evaluation sentence with novel content"),
        (9, "optimizer quick planners shuffle lazy statistics zebra"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    sh = dedup.shingle_hashes(docs).select("id", "sh").distinct()
    train_pred = F.col("id") < 5
    test_pred = F.col("id") >= 5

    exact = {
        r["doc_id"]: r
        for r in pl.contamination_overlap(sh, train_pred, test_pred).collect()
    }
    bits = pl.bloom_bits(sh.where(train_pred))
    bloom = {
        r["doc_id"]: r
        for r in pl.bloom_contamination(sh.where(test_pred), bits).collect()
    }
    assert set(bloom) == set(exact) == {5, 6, 7, 8, 9}
    for did, ex in exact.items():
        bl = bloom[did]
        assert bl["n_shingles"] == ex["n_shingles"], did
        # superset: every true match hits the bloom
        assert bl["n_bloom_hits"] >= ex["n_contaminated"], did
        if ex["n_contaminated"] > 0:
            assert bl["contaminated"], did
    # the known-contaminated docs are flagged; the known-clean pair may
    # only be flagged by an (unlikely at this fill) false positive,
    # never unflagged when truly contaminated
    assert bloom[5]["contaminated"] and bloom[6]["contaminated"]
    assert exact[7]["n_contaminated"] == 0 and exact[9]["n_contaminated"] == 0


def test_bloom_bits_bounded_and_deterministic(spark):
    """The collected bitmap is model state: exactly BLOOM_N_WORDS longs,
    bit 63 never set (the cross-engine shift guard), and rebuilding from
    the same input is bit-identical."""
    from sparkbigdatatextanalysis_spark.operators import dedup
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl

    docs = spark.createDataFrame(
        [(i, f"some text number {i} with a few shared words") for i in range(6)],
        "doc_id LONG, text STRING",
    )
    sh = dedup.shingle_hashes(docs).select("id", "sh").distinct()
    b1 = pl.bloom_bits(sh)
    b2 = pl.bloom_bits(sh)
    assert len(b1) == pl.BLOOM_N_WORDS
    assert b1 == b2
    assert any(b1)  # something was set
    assert all(w >= 0 for w in b1)  # bit 63 clear in every word


# --- Count-min sketch (stats.cms_build / cms_estimate) ----------------------


def test_cms_overcounts_only_and_exact_without_collisions(spark):
    """CMS estimates never undercount; at width 2048 with a handful of
    keys the (deterministic, seeded-by-hash) cells do not collide, so
    every estimate equals the true count exactly."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    counts = spark.createDataFrame(
        [("alpha", 5), ("beta", 3), ("gamma", 11), ("delta", 1), ("eps", 7)],
        "token STRING, n_occ LONG",
    )
    table = st.cms_build(counts)
    assert len(table) == len(st.CMS_DEPTH_AB)
    assert all(len(row) == st.CMS_WIDTH for row in table)
    # total mass conservation per depth row
    assert all(sum(row) == 27 for row in table)
    got = {r["token"]: r for r in st.cms_estimate(counts, table).collect()}
    for tok, r in got.items():
        assert r["cms_est"] >= r["n_occ"], tok
        assert r["cms_est"] == r["n_occ"], tok  # no collisions at this width


def test_cms_width_one_degenerates_to_total(spark):
    """The collision worst case, forced: at width 1 every key maps to
    the single cell in every depth row, so every estimate equals the
    total corpus mass -- the documented additive overestimate at its
    maximum, still never an undercount."""
    from sparkbigdatatextanalysis_spark.operators import stats as st

    counts = spark.createDataFrame(
        [("a", 2), ("b", 3), ("c", 5)], "token STRING, n_occ LONG"
    )
    table = st.cms_build(counts, width=1)
    got = st.cms_estimate(counts, table).collect()
    assert all(r["cms_est"] == 10 for r in got)


# --- embedding-space decontamination ----------------------------------------


def test_embedding_decontamination_catches_paraphrase_ngram_misses(spark):
    """The composition the operator exists for: a word-REORDERED copy of
    a protected doc shares no 3-gram with it (exact/Bloom n-gram
    decontamination both pass it) but its hashed embedding is identical
    (the hashing trick is order-invariant), so the embedding path flags
    it. An unrelated doc stays clean on both paths."""
    from sparkbigdatatextanalysis_spark.functions import text as tf
    from sparkbigdatatextanalysis_spark.operators import (
        ann,
        dedup as dd,
        pipeline as pl,
        vectors as vec,
    )

    protected_texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "completely different benchmark item about orbital mechanics",
    ]
    train_texts = [
        # paraphrase leak: same bag of words (reversed order), so no
        # forward 3-gram survives but the order-invariant hashed
        # embedding is identical
        "tonight dog lazy the over jumps fox brown quick the",
        "unrelated training document covering medieval agriculture yields",
    ]
    prot = spark.createDataFrame(
        [Row(doc_id=100 + i, text=t) for i, t in enumerate(protected_texts)]
    )
    train = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(train_texts)]
    )

    def embed(df):
        toks = df.select(
            F.col("doc_id").alias("id"), tf.tokenize("text").alias("tokens")
        )
        comp = vec.hashed_doc_components(toks, dim=16)
        return (
            comp.groupBy(F.col("id").alias("vec_id"))
            .agg(F.sort_array(F.collect_list(F.struct("pos", "component"))).alias("c"))
            .select("vec_id", F.col("c.component").alias("embedding"))
        )

    tr_emb, pr_emb = embed(train), embed(prot)
    cents = ann.kmeans_centroids(tr_emb.unionByName(pr_emb), n_centroids=2)
    out = {
        r["vec_id"]: r
        for r in pl.embedding_decontamination(
            tr_emb, pr_emb, 0.95, cents
        ).collect()
    }
    assert len(out) == 2
    assert out[0]["contaminated"] and out[0]["n_probe_hits"] == 1
    assert out[0]["max_cos"] == pytest.approx(1.0)
    assert not out[1]["contaminated"] and out[1]["n_probe_hits"] == 0

    # the verbatim-only paths MISS the same leak: zero shared 3-grams
    sh = dd.shingle_hashes(train.unionByName(prot))
    ngram = {
        r["doc_id"]: r
        for r in pl.contamination_overlap(
            sh, F.col("id") >= 100, F.col("id") < 100
        ).collect()
    }
    assert ngram[0]["n_contaminated"] == 0
    bits = pl.bloom_bits(sh.where(F.col("id") >= 100).select("id", "sh").distinct())
    bloom = {
        r["doc_id"]: r
        for r in pl.bloom_contamination(
            sh.where(F.col("id") < 100).select("id", "sh").distinct(), bits
        ).collect()
    }
    assert not bloom[0]["contaminated"]


def test_embedding_decontamination_empty_cluster_and_left_join(spark):
    """Train vectors whose cluster holds no protected probes come out
    with n_probe_hits 0, NULL max_cos, contaminated False -- never
    dropped."""
    from sparkbigdatatextanalysis_spark.operators import ann, pipeline as pl

    train = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.05])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    prot = spark.createDataFrame(
        [(100, [0.99, 0.01])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    cents = ann.kmeans_centroids(train.unionByName(prot), n_centroids=2)
    out = {
        r["vec_id"]: r
        for r in pl.embedding_decontamination(train, prot, 0.9, cents).collect()
    }
    assert len(out) == 2
    assert out[0]["contaminated"] and out[0]["max_cos"] is not None
    assert not out[1]["contaminated"]
    assert out[1]["n_probe_hits"] == 0 and out[1]["max_cos"] is None
