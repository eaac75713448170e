"""Output checks, run outside the timed region.

Batch: each query's last result is compared with its DuckDB oracle after
the same normalization ``tools/check_queries.py`` applies (column names,
row count, and an order-insensitive multiset of ``_norm``-ed rows).

Stream: each emitted window is recomputed in closed form from the
generator's ids (``value = id % 3 + 1``, ``key = "key-" + id % keyCount``,
``rpu`` ids and one second of event time per micro-batch).
"""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np

from tools.check_queries import _multiset

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _py(v):
    """One pandas/numpy cell as the Python value Spark's collect() gives."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_py(x) for x in v]
    if isinstance(v, np.generic):
        return _py(v.item())
    if isinstance(v, datetime):  # pandas Timestamp and NaT included
        if v != v:
            return None
        return v.to_pydatetime() if hasattr(v, "to_pydatetime") else v
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def spark_rows(pdf, schema) -> list[tuple]:
    """Rows of a ``toPandas()`` frame, converted back to collect()-style
    Python values using the Spark schema: integral columns that pandas
    widened to float (because of nulls) return to int, NaN/NaT to None."""
    cols = []
    for i, f in enumerate(schema.fields):
        t = f.dataType.typeName()
        vals = [_py(x) for x in pdf.iloc[:, i].tolist()]
        if t in ("long", "integer", "short", "byte"):
            vals = [None if v is None else int(v) for v in vals]
        elif t == "boolean":
            vals = [None if v is None else bool(v) for v in vals]
        cols.append(vals)
    return list(zip(*cols)) if cols else []


def duck_rows(rows: list[tuple]) -> list[tuple]:
    """DuckDB fetchall() rows with the same null folding as spark_rows
    (a float NaN and a null both read as NaN in pandas)."""
    return [tuple(None if isinstance(v, float) and math.isnan(v) else v
                  for v in r) for r in rows]


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(spark_cols: list[str], srows: list[tuple],
            duck_cols: list[str], drows: list[tuple]) -> str | None:
    """None when the results match, else a one-line reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns differ: {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(srows) != len(drows):
        return f"row count {len(srows)} vs oracle {len(drows)}"
    s_order = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_order = [duck_cols.index(c) for c in sorted(duck_cols)]
    ms, md = _multiset(srows, s_order), _multiset(drows, d_order)
    if ms != md:
        return f"values differ, e.g. {list((ms - md).items())[:1]} vs {list((md - ms).items())[:1]}"
    return None


def expected_window(window_start: int, length_s: int, rpu: int,
                    key_count: int) -> np.ndarray:
    """Per-key sums of the window [window_start, window_start + length_s)
    in seconds: batch b carries ids [b*rpu, (b+1)*rpu) at event second b."""
    ids = np.arange(window_start * rpu, (window_start + length_s) * rpu, dtype=np.int64)
    return np.bincount(ids % key_count, weights=ids % 3 + 1,
                       minlength=key_count).astype(np.int64)


def check_windows(rows: list[tuple[int, int, str, int]], length_s: int,
                  rpu: int, key_count: int) -> tuple[int, list[str]]:
    """Check emitted (window_start, window_end, key, sum) rows. Returns the
    number of windows seen and one message per wrong window: a window with a
    wrong sum, a missing or duplicate key, a wrong end, or a gap in the
    sequence of emitted windows."""
    by_window: dict[int, list[tuple[int, str, int]]] = {}
    for ws, we, key, s in rows:
        by_window.setdefault(ws, []).append((we, key, s))
    errors = []
    starts = sorted(by_window)
    if starts and starts != list(range(0, starts[-1] + 1, length_s)):
        errors.append(f"emitted windows not contiguous from 0: {starts}")
    for ws in starts:
        want = expected_window(ws, length_s, rpu, key_count)
        got = np.zeros(key_count, dtype=np.int64)
        seen = np.zeros(key_count, dtype=np.int64)
        bad_end = False
        for we, key, s in by_window[ws]:
            k = int(key.rsplit("-", 1)[1])
            got[k] += s
            seen[k] += 1
            bad_end |= we != ws + length_s
        if bad_end or (seen != 1).any() or (got != want).any():
            errors.append(
                f"window {ws}: {int((seen != 1).sum())} keys missing or "
                f"repeated, {int((got != want).sum())} sums wrong"
            )
    return len(starts), errors

