""""N unit" interval parsing for operators that take a time span
(gap_fill buckets): one grammar, one validator."""

from __future__ import annotations

SECONDS_PER_UNIT = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def parse_interval_seconds(
    spec: str, allowed_units: tuple[str, ...] | None = None
) -> int:
    """Parse ``"N unit"`` (unit optionally plural) to whole seconds.
    Raises ValueError on malformed specs, unknown/disallowed units, or
    non-positive counts."""
    parts = spec.split()
    if len(parts) != 2:
        raise ValueError(
            f"interval must be 'N unit' (e.g. '15 minutes'), got {spec!r}"
        )
    try:
        count = int(parts[0])
    except ValueError:
        raise ValueError(f"interval count must be an integer, got {spec!r}")
    unit = parts[1].rstrip("s")
    units = allowed_units or tuple(SECONDS_PER_UNIT)
    if unit not in SECONDS_PER_UNIT or unit not in units:
        raise ValueError(
            f"unsupported interval unit in {spec!r} (allowed: {sorted(units)})"
        )
    if count < 1:
        raise ValueError(f"interval count must be >= 1, got {spec!r}")
    return count * SECONDS_PER_UNIT[unit]
