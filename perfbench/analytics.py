"""Operator queries over a prebuilt versioned store; no writes.

The store is keyed by ``(site, version)``: version 0 covers the whole
span with holes, higher versions revise parts of it. One cycle is one pass
over a 30-day window (three windows, used in turn). Each query reads the
window with ``alive_data``, folds the versions with ``overlay_merge`` and
collects one operator's result:

- the overlay itself;
- ``completeness_holes`` of the overlay on the hourly grid;
- ``constant_runs`` of the overlay;
- ``merge_intervals`` of the holes widened by three hours;
- ``time_bucket_rollup`` of the overlay into days.

Each result is compared with a pandas computation over the generated rows,
made once per window at build time. Values are multiples of 0.5, so sums
are exact.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from harness import Bench, expect

TZ = "Europe/Paris"
SIZES = {
    "full": {"sites": 8, "months": 3, "versions": 3},
    "tiny": {"sites": 3, "months": 2, "versions": 2},
}
WINDOW_DAYS = 30
N_WINDOWS = 3
HOUR = 3600
MARGIN_S = 3 * HOUR
DAY = 86400
NS = 10**9


def make_rows(rng, sites: int, months: int, versions: int) -> pd.DataFrame:
    """Long rows ``(site, version, ts, value)``: step-like levels (so
    constant runs exist) with missing hours (so holes exist)."""
    start = pd.Timestamp(2024, 1, 1, tz=TZ)
    idx = pd.date_range(start, start + pd.DateOffset(months=months), freq="h",
                        inclusive="left").tz_convert("UTC")
    parts = []
    for i in range(sites):
        for v in range(versions):
            level = np.cumsum(rng.random(len(idx)) < 0.08) % 7
            vals = (level * 2 + v).astype("float64") / 2
            keep = np.ones(len(idx), dtype=bool)
            if v == 0:
                for _ in range(int(rng.integers(3, 8))):
                    a = int(rng.integers(0, len(idx) - 30))
                    keep[a:a + int(rng.integers(1, 30))] = False
            else:
                # a revision covers a few multi-day stretches
                keep[:] = False
                for _ in range(int(rng.integers(1, 4))):
                    a = int(rng.integers(0, len(idx) - 24 * 6))
                    keep[a:a + int(rng.integers(24, 24 * 6))] = True
            parts.append(pd.DataFrame({
                "site": f"site{i:03d}", "version": v,
                "ts": idx[keep], "value": vals[keep]}))
    return pd.concat(parts, ignore_index=True)


# -- pandas oracles ------------------------------------------------------------
def oracle_overlay(rows: pd.DataFrame, s, e) -> pd.DataFrame:
    w = rows[(rows.ts >= s) & (rows.ts <= e)]
    w = w.sort_values(["site", "ts", "version"], ascending=[True, True, False])
    return w.drop_duplicates(["site", "ts"])[["site", "ts", "value"]]


def oracle_holes(ov: pd.DataFrame, s, e) -> list[tuple]:
    n = int((e - s).total_seconds()) // HOUR + 1
    out = []
    for site, g in ov.groupby("site"):
        present = np.zeros(n, dtype=bool)
        present[((g.ts - s).dt.total_seconds() // HOUR).astype(int)] = True
        i = 0
        while i < n:
            if present[i]:
                i += 1
                continue
            j = i
            while j + 1 < n and not present[j + 1]:
                j += 1
            out.append((site, s + pd.Timedelta(hours=i), s + pd.Timedelta(hours=j)))
            i = j + 1
    return out


def oracle_runs(ov: pd.DataFrame) -> list[tuple]:
    out = []
    for site, g in ov.sort_values("ts").groupby("site"):
        run_id = (g.value != g.value.shift()).cumsum()
        for _, r in g.groupby(run_id):
            out.append((site, r.ts.iloc[0], r.ts.iloc[-1], r.value.iloc[0], len(r)))
    return out


def oracle_merged(holes: list[tuple]) -> list[tuple]:
    m = pd.Timedelta(seconds=MARGIN_S)
    out = []
    for site in sorted({h[0] for h in holes}):
        cur = None
        for _, a, b in sorted(h for h in holes if h[0] == site):
            a, b = a - m, b + m
            if cur is not None and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur is not None:
                    out.append((site, cur[0], cur[1]))
                cur = [a, b]
        if cur is not None:
            out.append((site, cur[0], cur[1]))
    return out


def oracle_rollup(ov: pd.DataFrame) -> list[tuple]:
    epoch = ov.ts.astype("int64") // NS
    d = ov.assign(bucket=pd.to_datetime(epoch - epoch % DAY, unit="s", utc=True))
    out = []
    for (site, b), g in d.sort_values("ts").groupby(["site", "bucket"]):
        out.append((site, b, len(g), g.value.sum(), g.value.min(), g.value.max(),
                    g.value.iloc[0], g.value.iloc[-1]))
    return out


def norm(rows) -> list[tuple]:
    """Sortable tuples with every timestamp as UTC nanoseconds."""
    def cell(x):
        if isinstance(x, pd.Timestamp):
            return x.value
        if hasattr(x, "timestamp"):  # naive datetime from collect(): UTC
            return pd.Timestamp(x, tz="UTC").value
        return x
    return sorted(tuple(cell(x) for x in r) for r in rows)


class Analytics:
    #: nominal seconds of one warm cycle on a 4-core host
    cycle_s = 10.0

    def __init__(self, spark, bench: Bench, work_dir: str, rng, size: str):
        self.spark = spark
        self.bench = bench
        self.work_dir = work_dir
        self.rng = rng
        self.size = SIZES[size]
        self.store = None
        self.n_passes = 0

    def build(self, rep: int) -> None:
        from holcstore_spark import ChunkStoreConfig
        from holcstore_spark.sources.chunk_store import ChunkStore

        if self.store is not None:
            shutil.rmtree(self.store.path, ignore_errors=True)
        sz = self.size
        self.rows = make_rows(self.rng, sz["sites"], sz["months"], sz["versions"])
        self.bench.note_input(self.rows)
        cfg = ChunkStoreConfig(keys=("site", "version"), freq="1h", tz=TZ,
                               chunk_axis=("year", "month"),
                               key_types={"site": "str", "version": "int"})
        self.store = ChunkStore(self.spark, os.path.join(self.work_dir, f"analytics-{rep}"), cfg)
        sdf = self.spark.createDataFrame(self.rows)
        self.bench.call("chunk_store.ingest_long",
                        lambda: self.store.ingest_long(sdf, mode="insert"))
        self.windows = [self._oracles(*self._window()) for _ in range(N_WINDOWS)]

    def _window(self):
        lo, hi = self.rows.ts.min(), self.rows.ts.max()
        hours = int((hi - lo).total_seconds()) // HOUR - WINDOW_DAYS * 24
        s = lo + pd.Timedelta(hours=int(self.rng.integers(0, hours)))
        return s, s + pd.Timedelta(days=WINDOW_DAYS)

    def _oracles(self, s, e) -> dict:
        ov = oracle_overlay(self.rows, s, e)
        holes = oracle_holes(ov, s, e)
        return {
            "s": s, "e": e,
            "overlay": norm(ov.itertuples(index=False)),
            "holes": norm(holes),
            "runs": norm(oracle_runs(ov)),
            "merged": norm(oracle_merged(holes)),
            "rollup": norm(oracle_rollup(ov)),
        }

    # -- one pass ------------------------------------------------------------
    def cycle(self):
        from pyspark.sql import functions as F

        from holcstore_spark.operators.grid import completeness_holes
        from holcstore_spark.operators.intervals import merge_intervals
        from holcstore_spark.operators.islands import constant_runs
        from holcstore_spark.operators.overlay import overlay_merge
        from holcstore_spark.operators.resample import time_bucket_rollup

        w = self.windows[self.n_passes % len(self.windows)]
        self.n_passes += 1
        s, e = w["s"], w["e"]
        bound = {"start": s.strftime("%Y-%m-%d %H:%M:%S"),
                 "end": e.strftime("%Y-%m-%d %H:%M:%S")}

        def overlay():
            with self.bench.span("chunk_store.alive_data"):
                d = self.store.alive_data(None, s, e)
            d = d.filter(F.col("value").isNotNull())
            return overlay_merge(d, combined_by=("site",), order_by=("-version",))

        def holes(margin=0):
            return completeness_holes(overlay(), ("site",), HOUR,
                                      margin_seconds=margin, **bound)

        queries = [
            ("overlay.overlay_merge", "overlay",
             lambda: overlay().select("site", "ts", "value")),
            ("grid.completeness_holes", "holes",
             lambda: holes().select("site", "hole_start", "hole_end")),
            ("islands.constant_runs", "runs",
             lambda: constant_runs(overlay(), ("site",)).select(
                 "site", "run_start", "run_end", "value", "run_len")),
            ("intervals.merge_intervals", "merged",
             lambda: merge_intervals(
                 holes(MARGIN_S).select("site", F.col("hole_start").alias("start"),
                                        F.col("hole_end").alias("end")),
                 keys=("site",)).select("site", "start", "end")),
            ("resample.time_bucket_rollup", "rollup",
             lambda: time_bucket_rollup(overlay(), ("site",), DAY).select(
                 "site", "bucket_ts", "n", "v_sum", "v_min", "v_max",
                 "v_first", "v_last")),
        ]
        for verb, key, build in queries:
            want = w[key]
            self.bench.call(
                verb, lambda build=build: build().collect(),
                lambda got, want=want, verb=verb: expect(
                    norm(got) == want, f"{verb}: {len(got)} rows differ from oracle"))
            yield
