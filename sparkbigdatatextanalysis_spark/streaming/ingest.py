"""Streaming ingest loop: the CONTINUOUS form of the daily incremental
dedup contract (operators/dedup.py::incremental_dedup).

A micro-batch is "today's batch": ``foreachBatch`` probes it against the
accumulated state tables, appends the per-doc audit flags to the flags
sink, and appends the KEPT docs' hash/band deltas back to the state
tables -- the read-state -> dedup -> append loop of the batch contract,
driven by the streaming engine's trigger instead of a nightly cron.

Semantics under retries: ``foreachBatch`` is AT-LEAST-ONCE (a failed
micro-batch replays with the same batch_id). The hash/band state merge
tolerates that by construction -- both are SET-probed by existence, so
re-appended rows change nothing a probe can see; flags re-emitted for a
replayed batch carry the same ``ingest_batch`` id for the reader to
last-writer-wins on. The COUNT-merged families (winnowing spans X112,
lines X118) must NOT be merged this way -- route their deltas through
``operators.pipeline.merge_counts_keyed`` (X122) keyed by the batch id,
which makes the replayed merge a no-op.

Scale notes: state lives in plain parquet tables here; at 100 TB store
them BUCKETED on their probe keys (content_hash / (band, key),
``sources/bucketed.py``) so the per-trigger probe elides the history
exchange, and compact small appended files on the usual maintenance
cadence. The probe itself is the batch operator's: equi-joins only,
history never scanned twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def _try_read(spark, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None  # first batch: no state committed yet


def ingest_stream_writer(
    doc_stream: DataFrame,
    state_dir: str,
    flags_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Wire a document stream into the ingest loop; returns the
    ``DataStreamWriter`` (caller sets trigger/checkpoint and starts --
    use ``trigger(availableNow=True)`` for catch-up runs, a processing-
    time trigger for continuous ingestion).

    Per micro-batch: read state (``{state_dir}/hashes``,
    ``{state_dir}/bands``), run :func:`..operators.dedup.
    incremental_dedup`, append the flags (stamped with the micro-batch
    id) to ``flags_dir``, append the kept docs' deltas to the state
    tables, release the batch's persisted band handle.

    Replay hygiene (at-least-once): every state append is stamped with
    its micro-batch id and every probe FILTERS the current batch's own
    stamp out -- so a replayed batch sees exactly the pre-batch state
    even when the failed attempt's appends partially committed, and the
    re-emitted flags are value-identical to the first attempt's (a
    last-writer-wins reader on ``ingest_batch`` then cannot observe a
    contradiction). Without the filter, a crash after the hash append
    made the replay classify the batch's own unique docs as history
    duplicates under the SAME stamp.
    """
    from ..functions.lineage import release
    from ..operators.dedup import incremental_dedup

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hh = _read_state(spark, f"{state_dir}/hashes", batch_id)
        hb = _read_state(spark, f"{state_dir}/bands", batch_id)
        res = incremental_dedup(batch_df, hh, hb, id_col, text_col)
        (
            res.result.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(flags_dir)
        )
        _append_stamped(res.delta_hashes, f"{state_dir}/hashes", batch_id)
        _append_stamped(res.delta_bands, f"{state_dir}/bands", batch_id)
        release(res.bands)

    return doc_stream.writeStream.foreachBatch(_process)


_STAMP = "ingest_batch"


def _append_stamped(delta: DataFrame, path: str, batch_id: int) -> None:
    delta.withColumn(_STAMP, F.lit(batch_id).cast("long")).write.mode(
        "append"
    ).parquet(path)


def _read_state(spark, path: str, batch_id: int) -> DataFrame | None:
    """Read a stamped state table as the PRE-batch view: rows the
    current batch id itself appended (a partially-committed failed
    attempt) are excluded, and the stamp is dropped so downstream
    operators see the plain probe schema.

    State tables MUST carry the ``ingest_batch`` stamp column -- every
    append in this module writes it, and a table written without it
    fails here on read (by design: an un-stamped table cannot honor
    the replay contract). Rows whose stamp is NULL (state seeded from
    un-stamped batch-contract tables, stamped later) are kept: the
    exclusion is null-safe (``!=`` would silently drop them from every
    probe -- r9 advice)."""
    df = _try_read(spark, path)
    if df is None:
        return None
    if _STAMP not in df.columns:
        raise ValueError(
            f"ingest state table at {path} lacks the {_STAMP!r} stamp "
            "column; seed state through this module's appends (or add "
            "a NULL stamp column to pre-existing state)"
        )
    return df.where(~F.col(_STAMP).eqNullSafe(batch_id)).drop(_STAMP)


def _count_probe(spark, path: str, key: str, batch_id: int):
    """Pre-batch probe view of a keyed count family: rows the current
    batch id contributed (a partial failed attempt) are excluded
    (null-safely -- NULL-stamped seed rows must stay visible to every
    probe), then batch tags group-sum away."""
    hist = _try_read(spark, path)
    if hist is None:
        return None
    return (
        hist.where(~F.col("batch_id").eqNullSafe(batch_id))
        .groupBy(key)
        .agg(F.sum("cnt").alias("cnt"))
    )


def verdict_batch_processor(
    state_dir: str,
    flags_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_lookup: DataFrame | None = None,
    cents: DataFrame | None = None,
    sem_threshold: float = 0.0,
    emb_id_col: str = "vec_id",
):
    """The foreachBatch body of the CONTINUOUS composed-verdict loop
    (the streaming form of ``operators.pipeline.
    incremental_ingest_verdict``): pass it to
    ``doc_stream.writeStream.foreachBatch``, or drive it directly with
    (batch_df, batch_id), including replaying a batch id to prove the
    at-least-once contract.

    Per micro-batch, against the parquet state under ``state_dir``:

    - probe ALL FOUR families exactly as the nightly batch contract
      does -- the count-family histories are stored KEYED
      ``(batch_id, key, cnt)`` and group-summed to the probe view, so
      the probe sees the same totals the un-keyed batch tables hold;
    - append the per-doc verdict (stamped ``ingest_batch``) to
      ``flags_dir``;
    - merge the deltas back: hash/band/rep SET families append
      directly (probed by existence -- a replayed append changes
      nothing a probe can see); span/line COUNT families route through
      :func:`..operators.pipeline.merge_counts_keyed` and append only
      its ``appended`` frame -- EMPTY on a fully-replayed batch id, so
      the at-least-once replay that double-counts a naive sum-merge is
      a structural no-op here. The replay guard is the per-
      ``(batch_id, key)`` anti-join against the keyed history TABLE
      itself, never a separate manifest file: the guard is atomic with
      the data BY ROW, so even a multi-file parquet commit that dies
      mid-append (partial rows for the batch) heals -- the replay
      appends exactly the rows the crash lost and nothing twice (at
      100 TB store the keyed tables partitioned by ``batch_id`` so the
      guard probe is a one-partition metadata-pruned read).

    Replay hygiene (at-least-once): every state append -- set AND
    count families -- carries its micro-batch id, and every probe
    filters the current batch's own stamp out, so a replayed batch
    probes exactly the pre-batch state even when the failed attempt's
    appends partially committed. Re-emitted flags are therefore
    value-identical under the same ``ingest_batch`` stamp (without the
    filter, a crash after the hash append would flip the batch's own
    unique docs to exact_dup_history=True on replay -- a contradiction
    no last-writer-wins reader could resolve).

    Semantic family: pass ``emb_lookup`` (a static (vec_id, embedding)
    table joined per batch on the doc ids) + pinned ``cents`` to
    enable; reps accumulate under ``{state_dir}/reps``. Omit both to
    run the three text families only.

    Scale notes: identical to :func:`ingest_stream_writer` -- bucket
    the state tables on their probe keys at 100 TB so the per-trigger
    probe elides the history exchange; the keyed count tables
    additionally benefit from partitioning by ``batch_id`` (manifest
    derivation and compaction become metadata listings).
    """
    from ..functions.lineage import release
    from ..operators.pipeline import (
        incremental_ingest_verdict,
        merge_counts_keyed,
    )

    if (emb_lookup is None) != (cents is None):
        raise ValueError(
            "verdict_batch_processor: emb_lookup and cents come together"
        )

    def _merge_count_family(spark, name: str, delta: DataFrame, batch_id: int):
        hist = _try_read(spark, f"{state_dir}/{name}")
        if hist is None:
            hist = delta.withColumn(
                "batch_id", F.lit(None).cast("long")
            ).limit(0)
        # replay guard IS the keyed history itself, reconciled per
        # (batch_id, key): atomic with the data append row-by-row, so a
        # partially-committed batch heals on replay instead of being
        # treated as merged (r9 advice)
        mr = merge_counts_keyed(hist, delta, batch_id)
        mr.appended.write.mode("append").parquet(f"{state_dir}/{name}")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hh = _read_state(spark, f"{state_dir}/hashes", batch_id)
        hb = _read_state(spark, f"{state_dir}/bands", batch_id)
        sp_hist = _count_probe(spark, f"{state_dir}/span_counts", "h", batch_id)
        ln_hist = _count_probe(
            spark, f"{state_dir}/line_counts", "line", batch_id
        )
        if emb_lookup is not None:
            batch_emb = emb_lookup.join(
                batch_df.select(F.col(id_col).alias(emb_id_col)).distinct(),
                emb_id_col,
            )
            reps = _read_state(spark, f"{state_dir}/reps", batch_id)
        else:
            batch_emb = None
            reps = None
        res = incremental_ingest_verdict(
            batch_df,
            hh,
            hb,
            sp_hist,
            ln_hist,
            batch_emb,
            reps,
            cents,
            sem_threshold,
            id_col,
            text_col,
        )
        (
            res.result.withColumn("ingest_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(flags_dir)
        )
        _append_stamped(res.delta_hashes, f"{state_dir}/hashes", batch_id)
        _append_stamped(res.delta_bands, f"{state_dir}/bands", batch_id)
        _merge_count_family(spark, "span_counts", res.delta_span_counts, batch_id)
        _merge_count_family(spark, "line_counts", res.delta_line_counts, batch_id)
        if res.delta_reps is not None:
            _append_stamped(res.delta_reps, f"{state_dir}/reps", batch_id)
        release(res.bands)
        release(res.fingerprints)
        if res.assignments is not None:
            release(res.assignments)

    return _process
