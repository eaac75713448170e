"""Windowed reduce operators — the heart of the engine (SURVEY.md §2.4).

Reference semantics:
  * fixed (tumbling) windows — epoch-aligned ``[t - t%len, +len)``, each event
    in exactly one window (``aligned/windower/fixed.rs:44-91``).
  * sliding windows — ``length`` + ``slide``, epoch-aligned, each event in
    ``length/slide`` windows (``aligned/windower/sliding.rs:1-47``).
  * session windows — per-key gap timeout with merge of bridged sessions
    (``unaligned/windower/session.rs:46-70``).
  * keyed vs non-keyed — non-keyed collapses all messages onto one synthetic
    key (``aligned/reducer.rs:26``).

Spark realization: ``window()`` / ``session_window()`` grouping expressions.
These run identically in batch (the correctness harness) and in Structured
Streaming (with ``withWatermark`` supplying the close signal numaflow gets
from its propagated watermark).

Scale notes: a windowed groupBy is ONE shuffle on (key, window). Spark plans
a partial (map-side) aggregation before the exchange, so the shuffle carries
one row per (key, window) per input partition, not per event — at 100 TB the
shuffle volume is bounded by key-cardinality × window-count, independent of
row count. Sliding windows multiply input by length/slide at the *logical*
level only; the expansion happens inside the aggregation operator, and the
partial-agg still compresses before the exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def _window_bounds_epoch(prefix: str = "window") -> list[Column]:
    """Expose window bounds as epoch seconds (BIGINT) for engine-agnostic
    comparison — timestamps hash differently across engines, epochs don't."""
    return [
        F.unix_timestamp(F.col(f"{prefix}.start")).alias("window_start"),
        F.unix_timestamp(F.col(f"{prefix}.end")).alias("window_end"),
    ]


def tumbling(
    df: DataFrame,
    ts_col: str,
    length: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Fixed/tumbling window aggregation (fixed.rs:44-91).

    ``length`` is a Spark interval string, e.g. ``"10 minutes"``. Epoch
    alignment matches the reference (both floor event time to the window
    length). Non-keyed reduce = ``keys=()`` (reducer.rs:26).
    """
    grouped = df.groupBy(F.window(ts_col, length), *keys)
    out = grouped.agg(*aggs)
    return out.select(*_window_bounds_epoch(), *keys, *[c for c in out.columns if c not in ("window", *keys)])


def sliding(
    df: DataFrame,
    ts_col: str,
    length: str,
    slide: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Sliding window aggregation (sliding.rs:1-47): each event lands in
    ``length/slide`` epoch-aligned windows."""
    grouped = df.groupBy(F.window(ts_col, length, slide), *keys)
    out = grouped.agg(*aggs)
    return out.select(*_window_bounds_epoch(), *keys, *[c for c in out.columns if c not in ("window", *keys)])


def session(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Session window aggregation (session.rs:46-70).

    Spark's ``session_window`` performs the OPEN/APPEND/EXPAND/MERGE dance the
    reference implements by hand: out-of-order events that bridge two
    sessions merge them. Window end = last event + gap, as in the reference
    (session close at gap timeout).
    """
    grouped = df.groupBy(F.session_window(ts_col, gap), *keys)
    out = grouped.agg(*aggs)
    return out.select(
        F.unix_timestamp(F.col("session_window.start")).alias("window_start"),
        F.unix_timestamp(F.col("session_window.end")).alias("window_end"),
        *keys,
        *[c for c in out.columns if c not in ("session_window", *keys)],
    )

