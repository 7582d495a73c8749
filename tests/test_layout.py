"""Z-order clustering key (operators/layout.py): bit-interleave
correctness vs a Python reference, and the clustering property itself --
z-sorted chunks have narrow min/max spans on BOTH dimensions, which is
exactly what makes row-group skipping work on more than one predicate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkbigdatatextanalysis_spark.operators import layout


def _write_zordered(df, path, cols, n_files, bits):
    """Write ``df`` as parquet clustered by the Z-order of ``cols``:
    range-partition on the key so files own contiguous z-ranges, sort
    within partitions so row groups do too, drop the key."""
    (
        layout.zorder_key(df, cols, bits=bits)
        .repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _ref_interleave(vals: list[int], bits: int) -> int:
    z = 0
    for b in range(bits):
        for i, v in enumerate(vals):
            z |= ((v >> b) & 1) << (b * len(vals) + i)
    return z


def test_interleave_bits_matches_reference(spark):
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x LONG, y LONG")
    out = df.select(
        "x", "y", layout.interleave_bits([F.col("x"), F.col("y")], bits=3).alias("z")
    )
    for r in out.collect():
        assert r["z"] == _ref_interleave([r["x"], r["y"]], 3)


def test_interleave_bits_validates(spark):
    with pytest.raises(ValueError, match="need >= 2"):
        layout.interleave_bits([F.col("x")], bits=4)
    with pytest.raises(ValueError, match="64-bit"):
        layout.interleave_bits([F.col("x"), F.col("y")], bits=32)


def test_zorder_key_clusters_both_dimensions(spark):
    """On a uniform 64x64 grid, chunks of the z-sorted order must span a
    small fraction of BOTH dimensions, while a linear (x, y) sort leaves
    the second dimension's span at full width -- the measurable form of
    'min/max skipping works on every z-ordered column'."""
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x LONG, y LONG")
    keyed = layout.zorder_key(df, ["x", "y"], bits=6)

    def chunk_spans(ordered, chunk=256):
        spans_x, spans_y = [], []
        for i in range(0, len(ordered), chunk):
            part = ordered[i : i + chunk]
            xs = [r["x"] for r in part]
            ys = [r["y"] for r in part]
            spans_x.append(max(xs) - min(xs))
            spans_y.append(max(ys) - min(ys))
        return sum(spans_x) / len(spans_x), sum(spans_y) / len(spans_y)

    z_sorted = keyed.orderBy("zkey").collect()
    lin_sorted = keyed.orderBy("x", "y").collect()
    zx, zy = chunk_spans(z_sorted)
    lx, ly = chunk_spans(lin_sorted)
    # linear sort: x-chunks are razor thin but y spans the full domain
    assert lx < 8 and ly == 63
    # z-order: BOTH dimensions stay narrow (16x16 tiles for 256-row chunks)
    assert zx <= 16 and zy <= 16


def test_zorder_key_nulls_and_constant_columns(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 5.0)], "x LONG, v DOUBLE"
    )
    out = layout.zorder_key(df, ["x", "v"], bits=4)
    rows = {r["x"]: r["zkey"] for r in out.collect()}
    assert len(rows) == 3
    assert all(z is not None for z in rows.values())
    # constant column contributes grid 0 everywhere -> key reduces to x's bits
    const = layout.zorder_key(
        spark.createDataFrame([(0, 7.0), (15, 7.0)], "x LONG, c DOUBLE"),
        ["x", "c"],
        bits=4,
    ).collect()
    got = {r["x"]: r["zkey"] for r in const}
    assert got[0] == 0
    assert got[15] == _ref_interleave([15, 0], 4)


def test_write_zordered_row_group_stats_narrow(spark, tmp_path):
    """End-to-end: the WRITTEN parquet's per-file min/max statistics are
    narrow on both z-ordered columns (the metadata the reader's
    skipping actually uses), while a linear-sorted write leaves the
    trailing column at full width in every file."""
    import glob

    import pyarrow.parquet as pq

    rows = [(x, y, float(x * y)) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x LONG, y LONG, payload DOUBLE")

    zpath = str(tmp_path / "zordered")
    _write_zordered(df, zpath, ["x", "y"], n_files=16, bits=6)

    lpath = str(tmp_path / "linear")
    df.repartitionByRange(16, "x", "y").sortWithinPartitions(
        "x", "y"
    ).write.parquet(lpath)

    def file_spans(path):
        spans = {"x": [], "y": []}
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for col in ("x", "y"):
                lo = min(
                    md.row_group(g).column(idx[col]).statistics.min
                    for g in range(md.num_row_groups)
                )
                hi = max(
                    md.row_group(g).column(idx[col]).statistics.max
                    for g in range(md.num_row_groups)
                )
                spans[col].append(hi - lo)
        return {c: sum(v) / len(v) for c, v in spans.items()}

    z = file_spans(zpath)
    lin = file_spans(lpath)
    # linear: x files are thin, y files span the whole domain
    assert lin["y"] > 55
    # z-order: both columns stay far below full width in every file
    assert z["x"] < 40 and z["y"] < 40
    assert z["y"] < lin["y"] / 2
    # and the data round-trips
    assert spark.read.parquet(zpath).count() == len(rows)


def test_write_zordered_reader_skips_files_on_second_column(spark, tmp_path):
    """Reader-side: a range predicate on the SECOND z-key column must
    let a min/max-pruning reader skip most FILES of the z-ordered
    layout, while the linear (x, y) layout forces it to open every file
    (y spans the full domain everywhere). Pruning is evaluated the way
    real readers do it -- pyarrow dataset row-group statistics filtering
    -- and cross-checked against Spark's pushed-down filtered read for
    result correctness."""
    import glob

    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    rows = [(x, y, float(x * y)) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x LONG, y LONG, payload DOUBLE")
    zpath = str(tmp_path / "zordered")
    _write_zordered(df, zpath, ["x", "y"], n_files=16, bits=6)
    lpath = str(tmp_path / "linear")
    df.repartitionByRange(16, "x", "y").sortWithinPartitions(
        "x", "y"
    ).write.parquet(lpath)

    pred = (pads.field("y") >= 10) & (pads.field("y") <= 13)

    def files_read(path):
        total, kept = 0, 0
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            if pq.ParquetFile(f).metadata.num_rows == 0:
                continue
            total += 1
            frag = next(iter(pads.dataset(f, format="parquet").get_fragments()))
            if list(frag.split_by_row_group(pred)):
                kept += 1
        return kept, total

    z_kept, z_total = files_read(zpath)
    l_kept, l_total = files_read(lpath)
    # linear layout: y = 10..13 rows exist in EVERY file -> nothing skips
    assert l_kept == l_total, (l_kept, l_total)
    # z-order: the predicate's y-stripe lives in a minority of files
    assert z_kept <= z_total // 2, (z_kept, z_total)
    # the skipping is lossless: Spark's pushed-down read over the pruned
    # layout returns exactly the predicate's rows
    got = (
        spark.read.parquet(zpath)
        .where((F.col("y") >= 10) & (F.col("y") <= 13))
        .count()
    )
    assert got == 64 * 4
