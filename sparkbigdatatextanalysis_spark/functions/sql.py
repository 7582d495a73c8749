"""Literals spliced into SQL text built on the driver.

A kernel built as one SQL expression costs one py4j call where the same
tree assembled Column by Column costs one or more per node. Values
computed on the driver or supplied by a caller enter that text only
through these two functions, never raw.
"""

from __future__ import annotations

import math


def sql_str(s: str) -> str:
    """``s`` as a SQL STRING literal that no quote, backslash or keyword
    in it can break: its UTF-8 bytes hex-encoded, cast back to STRING
    (the cast folds to a plain literal at optimization)."""
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def sql_double(x: float | None) -> str:
    """Shortest-round-trip DOUBLE literal (repr is exact for IEEE
    doubles; Spark's parser is correctly rounded, so the value survives
    bit for bit; a bare ``0.5`` would parse as DECIMAL). None -> NULL,
    so a degenerate component poisons only the score it enters."""
    if x is None:
        return "CAST(NULL AS DOUBLE)"
    if not math.isfinite(x):
        raise ValueError(f"non-finite double literal: {x}")
    return f"CAST('{x!r}' AS DOUBLE)"
