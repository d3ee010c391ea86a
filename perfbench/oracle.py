"""Order-insensitive comparison of a Spark result with its DuckDB twin,
both as pandas frames (the normalization the catalog's parity tests use:
columns by name, floats to 9 significant digits, rows sorted)."""

from __future__ import annotations

import math


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False))


def compare(got, want) -> list[str]:
    """Differences between two result frames, empty when they match."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != oracle {len(want)}"]
    diff = [(a, b) for a, b in zip(_rows(got), _rows(want)) if a != b]
    return [f"{len(diff)} rows differ from the oracle, first {diff[0]}"] if diff else []
