"""``serve``: keyed reads and small writes on a prebuilt ChunkStore.

Single closed-loop client. One cycle is nine calls in a fixed order:
three ``get_ts``, three ``get_ts_local`` and one ``get_batch_ts`` of 16
keys, each over a 30-day window, one ``set_ts(update=True)`` of a one-week
patch and one ``delete`` of a key. Keys and windows are seeded and drawn
Zipf-skewed, so a few keys are hot. The order is fixed because what a read
costs depends on what ran before it (a write invalidates the store's
cached metadata), and a seeded order would make that mix depend on the
seed.

Every read is compared with a model of what the benchmark wrote: a dict of
hourly ``pd.Series``, patched with ``combine_first`` as ``update`` does.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from harness import Bench, dir_bytes, expect

TZ = "Europe/Paris"
START = pd.Timestamp(2024, 1, 1, tz=TZ)
FREQ = pd.Timedelta(hours=1)
SIZES = {
    "full": {"keys": 24, "months": 6, "deleted": 1, "batch": 16},
    "tiny": {"keys": 6, "months": 2, "deleted": 1, "batch": 3},
}
READ_DAYS = 30
PATCH_HOURS = 7 * 24
CYCLE = ["get_ts", "get_ts_local", "get_ts", "get_batch_ts", "get_ts_local",
         "set_ts", "get_ts", "get_ts_local", "delete"]


def make_series(rng, n_keys: int, months: int) -> dict[str, pd.Series]:
    """Hourly series per key over ``months`` whole local months, with
    missing runs (holes) the store must keep as NaN."""
    start = START
    end = start + pd.DateOffset(months=months)
    idx = pd.date_range(start, end, freq="h", inclusive="left").tz_convert("UTC")
    out = {}
    for i in range(n_keys):
        v = np.round(np.cumsum(rng.normal(size=len(idx))), 3)
        for _ in range(int(rng.integers(2, 6))):
            a = int(rng.integers(1, len(idx) - 60))
            v[a:a + int(rng.integers(1, 48))] = np.nan
        out[f"site{i:03d}"] = pd.Series(v, index=idx)
    return out


def long_frame(series: dict[str, pd.Series]) -> pd.DataFrame:
    parts = []
    for k, s in series.items():
        s = s.dropna()
        parts.append(pd.DataFrame({"site": k, "ts": s.index, "value": s.to_numpy()}))
    return pd.concat(parts, ignore_index=True)


def expected_read(model: pd.Series | None, start, end) -> pd.Series | None:
    """What ``get_ts`` must return: the inclusive window, trimmed of NaN at
    both ends; None when no value is left."""
    if model is None:
        return None
    s = model.loc[start.tz_convert("UTC"):end.tz_convert("UTC")]
    valid = s.notna()
    if not valid.any():
        return None
    return s.loc[valid.idxmax(): valid[::-1].idxmax()]


def same_series(got: pd.Series | None, want: pd.Series | None, what: str) -> None:
    if want is None:
        expect(got is None, f"{what}: expected no data, got {0 if got is None else len(got)} rows")
        return
    expect(got is not None, f"{what}: expected {len(want)} rows, got None")
    expect(len(got) == len(want), f"{what}: {len(got)} rows, expected {len(want)}")
    expect(str(got.index.tz) == TZ, f"{what}: index tz {got.index.tz}")
    expect(bool((got.index.tz_convert("UTC") == want.index).all()), f"{what}: index differs")
    expect(np.array_equal(got.to_numpy(), want.to_numpy(), equal_nan=True),
           f"{what}: values differ")


class Serve:
    #: nominal seconds of one warm cycle on a 4-core host
    cycle_s = 3.5

    def __init__(self, spark, bench: Bench, work_dir: str, rng, size: str):
        self.spark = spark
        self.bench = bench
        self.work_dir = work_dir
        self.rng = rng
        self.size = SIZES[size]
        self.store = None
        self.model: dict[str, pd.Series] = {}

    # -- set-up ------------------------------------------------------------
    def build(self, rep: int) -> None:
        from holcstore_spark import ChunkStoreConfig
        from holcstore_spark.sources.chunk_store import ChunkStore

        if self.store is not None:
            shutil.rmtree(self.store.path, ignore_errors=True)
        path = os.path.join(self.work_dir, f"serve-{rep}")
        sz = self.size
        self.model = make_series(self.rng, sz["keys"], sz["months"])
        self.n_chunks = sz["months"]
        self.span = (min(s.index[0] for s in self.model.values()),
                     max(s.index[-1] for s in self.model.values()))
        rows = long_frame(self.model)
        self.bench.note_input(rows)
        sdf = self.spark.createDataFrame(rows)
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz=TZ,
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        self.store = ChunkStore(self.spark, path, cfg)
        self.bench.call("chunk_store.ingest_long",
                        lambda: self.store.ingest_long(sdf, mode="insert"))
        for _ in range(sz["deleted"]):
            self.delete()

    def cycle(self):
        for op in CYCLE:
            getattr(self, op)()
            yield

    def stored_bytes(self) -> int:
        return dir_bytes(self.store.path)

    def live_rows(self) -> int:
        return int(sum(s.notna().sum() for s in self.model.values()))

    # -- operations --------------------------------------------------------
    def _zipf_key(self) -> str:
        keys = sorted(self.model)
        w = 1.0 / np.arange(1, len(keys) + 1) ** 1.1
        return keys[int(self.rng.choice(len(keys), p=w / w.sum()))]

    def _window(self):
        lo, hi = self.span
        hours = int((hi - lo) / FREQ) - READ_DAYS * 24
        start = (lo + FREQ * int(self.rng.integers(0, hours))).tz_convert(TZ)
        return start, start + pd.Timedelta(days=READ_DAYS)

    def get_ts(self) -> None:
        k = self._zipf_key()
        s, e = self._window()
        want = expected_read(self.model[k], s, e)
        self.bench.call(
            "chunk_store.get_ts",
            lambda: self.store.get_ts({"site": k}, s, e),
            lambda got: same_series(got, want, f"get_ts {k}"))

    def get_ts_local(self) -> None:
        k = self._zipf_key()
        s, e = self._window()
        want = expected_read(self.model[k], s, e)
        self.bench.call(
            "chunk_store.get_ts_local",
            lambda: self.store.get_ts_local({"site": k}, s, e),
            lambda got: same_series(got, want, f"get_ts_local {k}"))

    def get_batch_ts(self) -> None:
        keys = sorted({self._zipf_key() for _ in range(self.size["batch"])})
        s, e = self._window()
        want = {(k,): expected_read(self.model[k], s, e) for k in keys}
        want = {k: v for k, v in want.items() if v is not None}

        def check(got):
            expect(set(got) == set(want), f"get_batch_ts keys {sorted(got)}")
            for k, w in want.items():
                same_series(got[k], w, f"get_batch_ts {k}")

        self.bench.call(
            "chunk_store.get_batch_ts",
            lambda: self.store.get_batch_ts([{"site": k} for k in keys], s, e),
            check)

    def set_ts(self) -> None:
        k = self._zipf_key()
        # inside one month: a patch then always rewrites one chunk, and the
        # bytes on disk do not depend on where the seed put it
        month = (START + pd.DateOffset(months=int(self.rng.integers(0, self.n_chunks))))
        hours = int((month + pd.DateOffset(months=1) - month) / FREQ) - PATCH_HOURS
        start = month.tz_convert("UTC") + FREQ * int(self.rng.integers(0, hours + 1))
        idx = pd.date_range(start, periods=PATCH_HOURS, freq="h")
        patch = pd.Series(np.round(self.rng.normal(size=PATCH_HOURS) + 100, 3),
                          index=idx.tz_convert(TZ))
        self.bench.call(
            "chunk_store.set_ts",
            lambda: self.store.set_ts({"site": k}, patch, update=True),
            logs=[self.store.path])
        # update semantics: the patch wins, existing values fill its holes
        self.model[k] = patch.tz_convert("UTC").combine_first(self.model[k])

    def delete(self) -> None:
        keys = sorted(self.model)
        k = keys[int(self.rng.integers(0, len(keys)))]
        if len(keys) <= self.size["batch"]:
            return  # keep enough live keys for a full batch read
        del self.model[k]
        n = self.n_chunks
        self.bench.call(
            "chunk_store.delete",
            lambda: self.store.delete({"site": k}),
            lambda got: expect(got == n, f"delete {k} tombstoned {got} chunks, expected {n}"),
            logs=[self.store.path])
