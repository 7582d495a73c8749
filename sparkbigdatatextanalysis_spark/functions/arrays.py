"""Shared array-expression helpers.

``adjacent_pairs`` is the in-row pair former used by bigram mining: zip
the array against its shift-by-one slice -- no positional self-join, no
window over an exploded stream. One implementation so the slice-bound
edge cases (empty/1-element arrays) are handled once."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def adjacent_pairs(
    arr: Column, combine: Callable[[Column, Column], Column]
) -> Column:
    """Array of adjacent-element pairs of ``arr`` (empty for arrays with
    fewer than two elements); ``combine(left, right)`` builds each pair
    element."""
    n = F.greatest(F.size(arr) - 1, F.lit(0))
    return F.zip_with(F.slice(arr, 1, n), F.slice(arr, 2, n), combine)
