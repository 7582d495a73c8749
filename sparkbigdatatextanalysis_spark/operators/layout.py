"""Data-layout optimization: Z-order (Morton) clustering keys.

Partition pruning skips files on ONE dimension (the partition column);
min/max row-group statistics skip on the SORT column. Sorting by a
Z-order key interleaves the bits of several columns so file- and
row-group-level min/max ranges stay narrow on EVERY participating
column -- the multi-dimensional clustering lakehouses (Delta OPTIMIZE
ZORDER, Iceberg sort orders) use to make selective scans skip data on
more than one predicate.

Everything here is map-only expressions: per-column normalization to a
fixed-width integer grid (broadcast min/max -- one tiny agg), then bit
interleaving as a chain of shift/mask terms that whole-stage codegen
compiles. Write with ``df.repartitionByRange(n, zkey).sortWithinPartitions
(zkey)`` so the parquet writer sees z-contiguous rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interleave_bits(cols: list[Column], bits: int) -> Column:
    """Morton interleave of non-negative integer columns already bounded
    by ``2^bits``: bit b of column i lands at position b*len(cols)+i.
    ``bits * len(cols)`` must fit a signed 64-bit long (<= 62)."""
    n = len(cols)
    if n < 2:
        raise ValueError("interleave_bits: need >= 2 columns")
    if bits < 1:
        raise ValueError(f"interleave_bits: bits must be >= 1, got {bits}")
    if bits * n > 62:
        raise ValueError(
            f"interleave_bits: {bits} bits x {n} cols exceeds a 64-bit key"
        )
    terms = [
        F.shiftleft(
            F.shiftrightunsigned(c.cast("long"), b).bitwiseAND(F.lit(1)),
            b * n + i,
        )
        for i, c in enumerate(cols)
        for b in range(bits)
    ]
    return reduce(lambda a, t: a.bitwiseOR(t), terms)


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, out: str = "zkey"
) -> DataFrame:
    """Append a Z-order clustering key over numeric ``cols``.

    Each column is normalized to the integer grid [0, 2^bits) by its own
    min/max (one broadcast single-row agg over the input -- NULLs map to
    grid 0 and a constant column maps to 0), then the grids are
    bit-interleaved. Sorting/range-partitioning by ``out`` afterwards
    gives the multi-dimensional clustering; the key itself is map-only.
    """
    if out in df.columns:
        raise ValueError(f"zorder_key: column {out!r} already exists")
    stats = df.agg(
        *[
            s
            for c in cols
            for s in (
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            )
        ]
    )
    top = (1 << bits) - 1
    grids = []
    for c in cols:
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        frac = F.when(
            hi > lo, (F.col(c).cast("double") - lo) / (hi - lo)
        ).otherwise(F.lit(0.0))
        grids.append(
            F.coalesce(F.floor(frac * top), F.lit(0)).cast("long")
        )
    return df.join(F.broadcast(stats)).select(
        *df.columns, interleave_bits(grids, bits).alias(out)
    )
