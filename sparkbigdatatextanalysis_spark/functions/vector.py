"""Dense-vector expressions over ARRAY<FLOAT|DOUBLE> columns.

All math stays JVM-side via higher-order array functions (zip_with /
aggregate / transform) -- one row in, one scalar out, no explode, no
shuffle, no Python. This is the hot path for embedding similarity at
scale: a brute-force top-k over N vectors is a (pruned) join producing
N*Q rows, each evaluating these expressions in codegen.

Each kernel is defined once, as SQL text over SQL array expressions (a
column name is one), so a caller can splice it into a larger expression
and build the whole thing with one ``F.expr`` -- one py4j call, where
the same tree assembled Column by Column costs dozens.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: str) -> str:
    return f"transform({v}, x -> CAST(x AS DOUBLE))"


def dot_sql(a: str, b: str) -> str:
    """SQL text of sum(a[i]*b[i]), folded left to right from 0.0 (the
    fold order the DuckDB oracles replay bit for bit)."""
    return (
        f"aggregate(zip_with({_as_double(a)}, {_as_double(b)}, (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x)"
    )


def vec_dot(a: str, b: str) -> Column:
    """Sparse-free dot product: sum(a[i]*b[i]) (reference semantics of
    calculateDotProduct, EntityResolution.scala:368-384, for the dense case).
    """
    return F.expr(dot_sql(a, b))
