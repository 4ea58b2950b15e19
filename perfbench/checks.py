"""Output checks: query results against DuckDB oracles, packets against
the generator's ground truth.

Each check returns ``None`` when the output is right, else a one-line
reason. The value compare is order-insensitive and rounds floats to nine
significant digits, the same rule ``tools/check_oracle.py`` applies.
"""

from __future__ import annotations

import math

import pyarrow as pa


def _norm_value(v):  # noqa: ANN001, ANN202
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm_value(x) for x in v)
    return v


def normalize_rows(rows: list[dict], cols: list[str]) -> list[tuple]:
    """Rows as sortable tuples of normalized values, in a fixed order."""
    out = [tuple((row[c] is None, _norm_value(row[c])) for c in cols) for row in rows]
    out.sort(key=str)
    return out


def compare_rows(
    got_cols: list[str], got: list[dict], want_cols: list[str], want: list[dict]
) -> str | None:
    """Row count, column names and order-insensitive values must agree."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    cols = sorted(got_cols)
    a, b = normalize_rows(got, cols), normalize_rows(want, cols)
    if a != b:
        bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"value mismatch at sorted row {bad}: {a[bad]} != {b[bad]}"
    return None


def compare_tables(got: pa.Table, want: pa.Table) -> str | None:
    """Two Arrow tables hold the same multiset of rows (column order and
    row order ignored, types cast to ``want``'s)."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {sorted(got.column_names)} != {sorted(want.column_names)}"
    if got.num_rows != want.num_rows:
        return f"row count {got.num_rows} != {want.num_rows}"
    keys = [(c, "ascending") for c in want.column_names]
    got = got.select(want.column_names).cast(want.schema).sort_by(keys)
    want = want.sort_by(keys)
    if not got.equals(want):
        for c in want.column_names:
            if not got[c].equals(want[c]):
                return f"column {c} differs"
        return "tables differ"
    return None
