"""Result comparison for the query oracle check.

Same rules as the repository's oracle-parity gate: the column sets must be
equal, rows compare order-insensitively with columns sorted by name, floats
compare to a relative and absolute tolerance of 1e-12 (NaN equals NaN), and
everything else compares by its string form.
"""

from __future__ import annotations

import math

import pandas as pd


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if not math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12):
                    return f"{c}[{i}]: {x!r} != {y!r}"
            elif str(x) != str(y):
                return f"{c}[{i}]: {x!r} != {y!r}"
    return None
