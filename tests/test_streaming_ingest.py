"""Streaming ingest loop (streaming/ingest.py): the foreachBatch
deployment of the incremental dedup contract -- read state, dedup the
micro-batch, append flags + deltas -- driven end-to-end through a real
streaming query with a checkpointed restart between days."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import dedup as dd
from sparkbigdatatextanalysis_spark.streaming.ingest import ingest_stream_writer

LONG2 = (
    "machine learning systems process large text corpora with distributed "
    "engines across many executor nodes while tracking lineage metadata "
    "for every transformation stage in the daily ingestion pipeline"
)

DAY1 = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, LONG2),
    (3, "a completely different document about cooking pasta with fresh tomatoes"),
]

DAY2 = [
    (10, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (11, LONG2 + " every morning"),
    (12, "brand new content that appears twice in the same daily batch exactly"),
    (13, "brand new content that appears twice in the same daily batch exactly"),
    (14, "completely novel subject matter involving astronomy telescopes and comets"),
]

SCHEMA = "doc_id LONG, text STRING"


def _run_once(spark, src, state, flags, ckpt):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        ingest_stream_writer(stream, state, flags)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_ingest_stream_two_days_with_restart(spark, tmp_path):
    """Day 1 seeds the state; day 2 (a NEW run against the same
    checkpoint) must flag exact/near history dups against day 1's
    committed state and within-batch dups inside day 2 -- byte-equal to
    the batch contract run over the same split."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    flags = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    d1 = spark.createDataFrame(DAY1, SCHEMA)
    d2 = spark.createDataFrame(DAY2, SCHEMA)
    d1.coalesce(1).write.mode("overwrite").parquet(src)
    _run_once(spark, src, state, flags, ckpt)

    # day 1: empty state -> everything kept, deltas committed
    out1 = {r["doc_id"]: r for r in spark.read.parquet(flags).collect()}
    assert set(out1) == {1, 2, 3} and all(r["keep"] for r in out1.values())
    assert spark.read.parquet(f"{state}/hashes").count() == 3

    d2.coalesce(1).write.mode("append").parquet(src)
    _run_once(spark, src, state, flags, ckpt)

    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(flags).collect()
        if r["doc_id"] >= 10
    }
    # batch-contract expectation over the identical split
    hh = d1.select(F.sha2(F.col("text"), 256).alias("content_hash")).distinct()
    hb = dd.lsh_band_keys_flat(
        dd.minhash_signatures_flat(dd.shingle_hashes(d1))
    ).select("band", "key")
    want = {
        r["doc_id"]: r
        for r in dd.incremental_dedup(
            d2, hh, hb, persist_bands=False
        ).result.collect()
    }
    assert set(got) == set(want)
    for i in want:
        for c in (
            "content_hash",
            "exact_dup_history",
            "exact_dup_batch",
            "near_dup_history",
            "near_dup_batch",
            "keep",
        ):
            assert got[i][c] == want[i][c], (i, c)
    assert got[10]["exact_dup_history"] and got[11]["near_dup_history"]
    assert got[13]["exact_dup_batch"] and got[14]["keep"]
    # state grew by the KEPT docs only (12's twin 13 dropped)
    kept_day2 = sum(1 for r in want.values() if r["keep"])
    assert spark.read.parquet(f"{state}/hashes").count() == 3 + kept_day2
    # both days' flags carry distinct micro-batch stamps
    stamps = {r["ingest_batch"] for r in spark.read.parquet(flags).collect()}
    assert len(stamps) == 2


# --- continuous composed verdict (all four families per micro-batch) --------

FOOTER = "shared boilerplate footer line used by many documents daily"

VDAY1 = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today\n" + FOOTER),
    (2, LONG2 + "\n" + FOOTER),
    (3, "a completely different document about cooking pasta with fresh tomatoes"),
]

VDAY2 = [
    (10, "the quick brown fox jumps over the lazy dog near the river bank today\n" + FOOTER),
    (11, LONG2 + " every morning"),
    (12, "brand new content that appears twice in the same daily batch exactly"),
    (13, "brand new content that appears twice in the same daily batch exactly"),
    (14, "completely novel subject matter involving astronomy telescopes\n" + FOOTER),
]


def _run_verdict_once(spark, src, state, flags, ckpt):
    from sparkbigdatatextanalysis_spark.streaming.ingest import (
        verdict_batch_processor,
    )

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(verdict_batch_processor(state, flags))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_verdict_stream_two_days_equals_batch_composition(spark, tmp_path):
    """The continuous composed-verdict loop: day 2's streamed verdict
    must equal the batch incremental_ingest_verdict run over the same
    day1-history/day2-batch split (VERDICT r8 next-step 6), and a
    replayed micro-batch must leave the COUNT families' probe views
    unchanged (the X122 keyed-merge guarantee, by construction)."""
    from sparkbigdatatextanalysis_spark.operators import pipeline as pl
    from sparkbigdatatextanalysis_spark.streaming.ingest import (
        verdict_batch_processor,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    flags = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    d1 = spark.createDataFrame(VDAY1, SCHEMA)
    d2 = spark.createDataFrame(VDAY2, SCHEMA)
    d1.coalesce(1).write.mode("overwrite").parquet(src)
    _run_verdict_once(spark, src, state, flags, ckpt)
    day1 = {r["doc_id"]: r for r in spark.read.parquet(flags).collect()}
    assert set(day1) == {1, 2, 3} and all(r["keep"] for r in day1.values())

    d2.coalesce(1).write.mode("append").parquet(src)
    _run_verdict_once(spark, src, state, flags, ckpt)
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(flags).collect()
        if r["doc_id"] >= 10
    }

    # batch twin over the identical split: day1's own deltas are the
    # history state (family-local kept, exactly what the loop appended)
    base1 = pl.incremental_ingest_verdict(
        d1, None, None, None, None, persist_intermediates=False
    )
    want = {
        r["doc_id"]: r
        for r in pl.incremental_ingest_verdict(
            d2,
            base1.delta_hashes,
            base1.delta_bands,
            base1.delta_span_counts,
            base1.delta_line_counts,
            persist_intermediates=False,
        ).result.collect()
    }
    assert set(got) == set(want)
    cols = [
        "content_hash",
        "exact_dup_history",
        "exact_dup_batch",
        "near_dup_history",
        "near_dup_batch",
        "n_dup_spans",
        "dup_span_chars",
        "n_lines",
        "n_lines_removed",
        "keep",
    ]
    for i in want:
        for c in cols:
            assert got[i][c] == want[i][c], (i, c, got[i][c], want[i][c])
    # the shared footer line: present twice in day-1 history, so day-2
    # docs carrying it must have it stripped (count family actually fired)
    assert got[10]["n_lines_removed"] >= 1 and got[14]["n_lines_removed"] >= 1

    # --- at-least-once replay: re-drive the SAME batch id directly ---
    def probe_views():
        sp = (
            spark.read.parquet(f"{state}/span_counts")
            .groupBy("h").agg(F.sum("cnt").alias("cnt"))
        )
        ln = (
            spark.read.parquet(f"{state}/line_counts")
            .groupBy("line").agg(F.sum("cnt").alias("cnt"))
        )
        return (
            {(r["h"], r["cnt"]) for r in sp.collect()},
            {(r["line"], r["cnt"]) for r in ln.collect()},
        )

    before = probe_views()
    proc = verdict_batch_processor(state, flags)
    proc(d2, 1)  # the replay: same micro-batch id as the day-2 trigger
    after = probe_views()
    assert before == after  # count-family probe views: structural no-op
    # the replay guard is the keyed history itself (no manifest file):
    # each batch id appears exactly once per family even after the replay
    for fam in ("span_counts", "line_counts"):
        tags = sorted(
            r["batch_id"]
            for r in spark.read.parquet(f"{state}/{fam}")
            .select("batch_id")
            .distinct()
            .collect()
        )
        assert tags == [0, 1]
    # replayed flags carry the same stamp and identical values for
    # EVERY day-2 doc -- including unique doc 14, which would flip to
    # exact_dup_history=True if the replay probed the failed attempt's
    # own committed hashes (the r9 review's partial-commit scenario;
    # the stamp filter in _read_state is what keeps this true)
    all_flags = spark.read.parquet(flags).collect()
    for doc in (10, 12, 13, 14):
        rep = [
            r
            for r in all_flags
            if r["doc_id"] == doc and r["ingest_batch"] == 1
        ]
        assert len(rep) == 2, doc
        for c in cols:
            assert rep[0][c] == rep[1][c], (doc, c)
    assert [r for r in all_flags if r["doc_id"] == 14][0]["keep"]


def test_verdict_replay_after_partial_state_commit(spark, tmp_path):
    """The crash window the r9 review flagged: an attempt that committed
    its STATE appends (hashes/bands/counts) but failed before the
    streaming checkpoint advanced. The replayed batch id must (a) emit
    flags identical to a clean first run -- its own half-committed
    hashes must not reclassify its unique docs as history dups -- and
    (b) leave the count-family probe views with single-counted totals."""
    from sparkbigdatatextanalysis_spark.streaming.ingest import (
        verdict_batch_processor,
    )

    state = str(tmp_path / "state")
    flags = str(tmp_path / "flags")
    d1 = spark.createDataFrame(VDAY1, SCHEMA)
    d2 = spark.createDataFrame(VDAY2, SCHEMA)
    proc = verdict_batch_processor(state, flags)
    proc(d1, 0)

    # attempt 1 of batch 1: full state commit (flags too -- the worst
    # case is indistinguishable: ALL writes landed, only the checkpoint
    # didn't), then the replay
    proc(d2, 1)
    proc(d2, 1)

    by_attempt: dict = {}
    for r in spark.read.parquet(flags).collect():
        if r["ingest_batch"] == 1:
            by_attempt.setdefault(r["doc_id"], []).append(r)
    for doc, rows in by_attempt.items():
        assert len(rows) == 2, doc
        assert rows[0]["exact_dup_history"] == rows[1]["exact_dup_history"], doc
        assert rows[0]["keep"] == rows[1]["keep"], doc
    # unique day-2 doc kept on BOTH attempts
    assert all(r["keep"] for r in by_attempt[14])
    # count family single-counted: the shared footer line was seen in
    # 2 day-1 docs + 2 day-2 docs = total 4, not inflated by the replay
    ln = {
        r["line"]: r["cnt"]
        for r in spark.read.parquet(f"{state}/line_counts")
        .groupBy("line")
        .sum("cnt")
        .withColumnRenamed("sum(cnt)", "cnt")
        .collect()
    }
    assert ln[FOOTER] == 4


def test_verdict_replay_heals_partial_count_commit(spark, tmp_path):
    """The r9-advice crash window merge_counts_keyed now closes, driven
    through the streaming loop: a failed attempt of batch 1 committed
    only PART of a count family's keyed delta (one parquet file of a
    multi-file append). The replay must append exactly the lost rows --
    the probe totals afterwards equal a clean two-day run's, with no
    key double-counted and none lost."""
    from sparkbigdatatextanalysis_spark.streaming.ingest import (
        verdict_batch_processor,
    )

    d1 = spark.createDataFrame(VDAY1, SCHEMA)
    d2 = spark.createDataFrame(VDAY2, SCHEMA)

    # clean twin run: the expected end state
    clean_state = str(tmp_path / "clean_state")
    clean_flags = str(tmp_path / "clean_flags")
    clean = verdict_batch_processor(clean_state, clean_flags)
    clean(d1, 0)
    clean(d2, 1)
    want = {
        (r["line"], r["cnt"])
        for r in spark.read.parquet(f"{clean_state}/line_counts")
        .groupBy("line")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }

    # crash run: day 1 commits, then batch 1's line_counts append dies
    # mid-commit -- simulate by appending a strict SUBSET of the keyed
    # delta the clean run recorded for batch 1
    state = str(tmp_path / "state")
    flags = str(tmp_path / "flags")
    proc = verdict_batch_processor(state, flags)
    proc(d1, 0)
    batch1_rows = (
        spark.read.parquet(f"{clean_state}/line_counts")
        .where("batch_id = 1")
        .collect()
    )
    assert len(batch1_rows) >= 2, "fixture must give batch 1 several keys"
    partial = spark.createDataFrame(
        batch1_rows[: len(batch1_rows) // 2],
        spark.read.parquet(f"{clean_state}/line_counts").schema,
    )
    partial.write.mode("append").parquet(f"{state}/line_counts")

    proc(d2, 1)  # the replay over the half-committed batch
    got = {
        (r["line"], r["cnt"])
        for r in spark.read.parquet(f"{state}/line_counts")
        .groupBy("line")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert got == want
    # and no (batch_id, key) appears twice
    dupes = (
        spark.read.parquet(f"{state}/line_counts")
        .groupBy("batch_id", "line")
        .count()
        .where("count > 1")
        .count()
    )
    assert dupes == 0


def test_read_state_null_stamp_and_missing_stamp(spark, tmp_path):
    """_read_state's stamp handling (r9 advice): NULL-stamped seed rows
    (state migrated from un-stamped batch-contract tables) must stay
    visible to every probe, and a table entirely LACKING the stamp
    column must fail loudly instead of silently probing wrong."""
    import pytest

    from sparkbigdatatextanalysis_spark.streaming import ingest as ing

    p = str(tmp_path / "hashes")
    spark.createDataFrame(
        [(11, None), (12, 0)],
        "content_hash LONG, ingest_batch LONG",
    ).write.parquet(p)
    got = {r["content_hash"] for r in ing._read_state(spark, p, 1).collect()}
    assert got == {11, 12}  # NULL-stamped row visible, batch-0 row visible
    got0 = {r["content_hash"] for r in ing._read_state(spark, p, 0).collect()}
    assert got0 == {11}  # own-batch rows excluded, NULL seed still kept

    bad = str(tmp_path / "unstamped")
    spark.createDataFrame([(7,)], "content_hash LONG").write.parquet(bad)
    with pytest.raises(ValueError, match="ingest_batch"):
        ing._read_state(spark, bad, 1)


def test_count_probe_keeps_null_stamped_rows(spark, tmp_path):
    from sparkbigdatatextanalysis_spark.streaming import ingest as ing

    p = str(tmp_path / "line_counts")
    spark.createDataFrame(
        [(None, "seed", 5), (0, "seed", 2), (1, "fresh", 1)],
        "batch_id LONG, line STRING, cnt LONG",
    ).write.parquet(p)
    view = {
        r["line"]: r["cnt"]
        for r in ing._count_probe(spark, p, "line", 1).collect()
    }
    # batch 1's own rows excluded; NULL-stamped seed counts included
    assert view == {"seed": 7}
