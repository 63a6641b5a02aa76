"""Dense-grid generation, reindexing and completeness (hole detection).

The reference reindexes every stored series onto a regular grid at
STORE_FREQ spanning whole calendar chunks (chunk_timeserie_store.py:731-742)
and detects holes by scanning null runs on that grid
(``check_ts_completeness``, hostore/utils/timeseries.py:11-65, driven by
``Store.find_holes`` hostore.py:162-216).

Spark realization: for REINDEXING (the write path needs the dense rows)
the grid is ``sequence(start, end, interval)`` + ``explode`` — generated
*per key from that key's own bounds*, so grid size is O(span/freq) per key
and never materialized globally; values land on it via a single left join
shuffled on ``(keys…, ts)``. HOLE DETECTION never materializes the grid
at all: one scan and one window per key, ordered by the row's grid point
(NULL when the row is not a present grid point), turns the lag/lead gaps
between present points and the requested bounds into holes. Its single
shuffle is bounded by the input rows, not the span. No driver loops —
scales to millions of keys.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F



def _interval(seconds: int) -> str:
    return f"INTERVAL {int(seconds)} SECOND"


def time_grid(
    bounds: DataFrame,
    freq_seconds: int,
    start: str = "grid_start",
    end: str = "grid_end",
    ts: str = "ts",
) -> DataFrame:
    """Explode one row per grid point between per-row bounds (inclusive).

    ``bounds`` carries key columns plus ``grid_start``/``grid_end``.
    """
    seq = F.sequence(F.col(start), F.col(end), F.expr(_interval(freq_seconds)))
    return bounds.withColumn(ts, F.explode(seq)).drop(start, end)


def reindex_to_grid(
    df: DataFrame,
    keys: tuple[str, ...],
    freq_seconds: int,
    start=None,
    end=None,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Left-join values onto each key's dense grid.

    Bounds default to each key's own [min(ts), max(ts)]; explicit ``start`` /
    ``end`` (UTC instants) override per-key bounds for all keys — the
    requested-range form of ``check_ts_completeness``.
    Off-grid input timestamps simply don't align (the reference never
    resamples either, README.md:196).
    """
    agg_start = F.lit(start).cast("timestamp") if start is not None else F.min(ts)
    agg_end = F.lit(end).cast("timestamp") if end is not None else F.max(ts)
    bounds = df.groupBy(*keys).agg(
        agg_start.alias("grid_start"), agg_end.alias("grid_end")
    )
    grid = time_grid(bounds, freq_seconds, ts=ts)
    # merge hint: Catalyst's size estimate of the exploded grid is the tiny
    # pre-explode bounds frame, so it would happily "broadcast" a grid of
    # billions of rows; sort-merge on (keys, ts) is the plan that scales
    return grid.hint("merge").join(
        df.select(*keys, ts, value), on=[*keys, ts], how="left"
    )


def completeness_holes(
    df: DataFrame,
    keys: tuple[str, ...],
    freq_seconds: int,
    start,
    end,
    margin_seconds: int = 0,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Missing ranges of each key vs the requested [start, end] grid.

    Output: keys…, hole_start, hole_end (inclusive grid-point bounds, each
    widened by ``margin_seconds`` — reference ``freq_margin``,
    hostore/utils/timeseries.py:42-64). A key whose rows hold no present
    grid point (all null, off-grid or out of range) yields one hole
    spanning the whole range; keys with no row at all yield nothing and
    are handled by the store wrapper (left-anti join against the
    requested key list, hostore.py:120-124).
    The output is hash-partitioned on ``keys``, so a per-key operator
    chained on it (``merge_intervals``) adds no shuffle.
    """
    # Gaps and islands in one ordered sweep per key. Each row becomes
    # (keys…, __ts), __ts being its ts when the row is a present grid point
    # (non-null value, inside [start, end], aligned to freq) and NULL
    # otherwise. One window ordered by __ts sees a key's NULL rows first
    # (NULLS FIRST), so they never fall between two present points, and
    # every maximal gap between consecutive present points — plus the
    # leading/trailing gaps against the requested bounds, plus one
    # full-range hole on the last row of a key with no present point — is
    # exactly a null run of the dense grid. A duplicated (keys…, ts) is a
    # zero-width gap and makes no hole. The source is read once and the
    # single shuffle carries one narrow row per input row, never one per
    # grid point.
    from holcstore_spark.functions.scalar import epoch_us

    if pd.Timestamp(start) > pd.Timestamp(end):
        # the grid formulation raised from sequence() at runtime; keep an
        # explicit refusal rather than emitting inverted holes
        raise ValueError(
            f"completeness_holes: start {start!r} is after end {end!r}"
        )
    start_l = F.lit(start).cast("timestamp")
    end_l = F.lit(end).cast("timestamp")
    freq_us = int(freq_seconds) * 1_000_000
    # last grid point ≤ end (the dense grid stops there, so trailing and
    # full-range holes must too)
    span_us = epoch_us(end_l) - epoch_us(start_l)
    g_end = F.timestamp_micros(
        epoch_us(start_l) + (span_us - span_us % freq_us)
    )
    f = F.expr(_interval(freq_seconds))
    t = F.col(ts)
    present = (
        F.col(value).isNotNull()
        & (t >= start_l)
        & (t <= end_l)
        & ((epoch_us(t) - epoch_us(start_l)) % freq_us == 0)
    )
    w = Window.partitionBy(*keys).orderBy("__ts")
    swept = df.select(*keys, F.when(present, t).alias("__ts")).select(
        *keys,
        "__ts",
        F.lag("__ts").over(w).alias("__prev"),
        F.lead("__ts").over(w).alias("__next"),
        # lead(__ts) is NULL on every NULL row another NULL row follows, so
        # it cannot mark a key's last row; lead of a constant can
        F.lead(F.lit(True)).over(w).isNull().alias("__last"),
    )
    cur, prev, nxt = F.col("__ts"), F.col("__prev"), F.col("__next")

    def hole(s: Column, e: Column) -> Column:
        return F.struct(s.alias("run_start"), e.alias("run_end"))

    head_or_gap = F.when(
        prev.isNull() & (cur > start_l), hole(start_l, cur - f)
    ).when(
        epoch_us(cur) - epoch_us(prev) > freq_us, hole(prev + f, cur - f)
    )
    tail = F.when(nxt.isNull() & (cur < g_end), hole(cur + f, g_end))
    full = F.when(F.col("__last") & cur.isNull(), hole(start_l, g_end))
    m = F.expr(_interval(margin_seconds))
    return (
        swept.select(*keys, F.explode(F.array(head_or_gap, tail, full)).alias("__h"))
        .filter(F.col("__h").isNotNull())
        .select(
            *keys,
            (F.col("__h.run_start") - m).alias("hole_start"),
            (F.col("__h.run_end") + m).alias("hole_end"),
        )
    )


def chunk_aligned_bounds(
    df: DataFrame,
    keys: tuple[str, ...],
    chunk_axis: tuple[str, ...],
    tz: str,
    freq_seconds: int,
    ts: str = "ts",
) -> DataFrame:
    """Per-key grid bounds snapped to whole calendar chunks in store-local
    time (reference: chunk_timeserie_store.py:731-742 — year chunks snap to
    Jan-1 → Dec-31, month chunks to month boundaries), returned as UTC
    instants: [chunk_start(min ts), next_chunk_start(max ts) - freq]."""
    unit = "year" if chunk_axis == ("year",) else "month"
    lmin = F.from_utc_timestamp(F.min(ts), tz)
    lmax = F.from_utc_timestamp(F.max(ts), tz)
    lo = F.to_utc_timestamp(F.date_trunc(unit, lmin), tz)
    nxt = F.date_trunc(unit, F.add_months(lmax, 12 if unit == "year" else 1))
    hi = F.to_utc_timestamp(nxt, tz) - F.expr(_interval(freq_seconds))
    return df.groupBy(*keys).agg(lo.alias("grid_start"), hi.alias("grid_end"))


def reindex_to_chunk_grid(
    df: DataFrame,
    keys: tuple[str, ...],
    chunk_axis: tuple[str, ...],
    tz: str,
    freq_seconds: int,
    ts: str = "ts",
    value: str = "value",
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Distributed form of the reference's write-path normalization: dense
    chunk-aligned grid per key, values left-joined, holes as NULL rows.

    ``bounds``: optionally a precomputed (ideally materialized)
    ``chunk_aligned_bounds`` frame — callers that also need the key set
    (``ingest_long``) pass it so the source is scanned once, not per use."""
    if bounds is None:
        bounds = chunk_aligned_bounds(df, keys, chunk_axis, tz, freq_seconds, ts=ts)
    grid = time_grid(bounds, freq_seconds, ts=ts)
    # merge hint: see reindex_to_grid — the exploded grid's size estimate is
    # wrong by orders of magnitude, which can turn into a giant broadcast
    return grid.hint("merge").join(
        df.select(*keys, ts, value), on=[*keys, ts], how="left"
    )
