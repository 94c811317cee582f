"""Output checks. Each returns a list of problems; empty means correct."""

from __future__ import annotations

import numpy as np
import pandas as pd


def compare_frames(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """The project's DuckDB-oracle rules (``tools/oracle_check.py``): same
    row count and column names; after sorting both frames by every column,
    floats agree within atol 1e-9 *and* bit for bit, other columns agree
    as strings, and no column is integer on one side and float on the
    other."""
    if len(actual) != len(expected):
        return [f"rows {len(actual)} vs {len(expected)}"]
    if sorted(actual.columns) != sorted(expected.columns):
        return [f"cols {sorted(actual.columns)} vs {sorted(expected.columns)}"]
    cols = sorted(actual.columns)
    a = actual[cols].sort_values(cols).reset_index(drop=True)
    e = expected[cols].sort_values(cols).reset_index(drop=True)
    problems = []
    for c in cols:
        ak, ek = a[c].dtype.kind, e[c].dtype.kind
        if ak != ek and "f" in (ak, ek) and {ak, ek} <= set("iuf"):
            problems.append(f"dtype {c}: {a[c].dtype} vs {e[c].dtype}")
        elif "f" in (ak, ek):
            x = a[c].astype(float).to_numpy()
            y = e[c].astype(float).to_numpy()
            same = (x == y) | (np.isnan(x) & np.isnan(y))
            if not same.all():
                close = np.allclose(x, y, atol=1e-9, equal_nan=True)
                i = int(np.argmin(same))
                problems.append(f"float col {c}{'' if close else ' beyond atol'}"
                                f" (e.g. {x[i]!r} vs {y[i]!r})")
        else:
            x, y = a[c].astype(str), e[c].astype(str)
            if not (x == y).all():
                i = int((x != y).idxmax())
                problems.append(f"col {c} (e.g. {x[i]!r} vs {y[i]!r})")
    return problems


def compare_series(name: str, ts: np.ndarray, vals: np.ndarray,
                   exp_ts: np.ndarray, exp_vals: np.ndarray,
                   atol: float = 1e-9) -> list[str]:
    """Time series equality: identical timestamps, values within *atol*
    (the engine and numpy sum in different orders)."""
    if len(ts) != len(exp_ts):
        return [f"{name}: {len(ts)} points vs {len(exp_ts)}"]
    if not np.array_equal(ts, exp_ts):
        i = int(np.argmax(ts != exp_ts))
        return [f"{name}: timestamp {ts[i]} vs {exp_ts[i]}"]
    if not np.allclose(vals, exp_vals, atol=atol, rtol=0):
        i = int(np.argmax(np.abs(vals - exp_vals)))
        return [f"{name}: value {vals[i]!r} vs {exp_vals[i]!r} at {ts[i]}"]
    return []
