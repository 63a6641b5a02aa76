"""The bulk write path and change-feed sync, on a server store and a replica.

One cycle is one month on the server, with ``SyncClient.pull``
into the replica after the writes of each step:

1. ``ingest_long(update)`` of the next month, in two writes of half the
   keys each, as if from two sources, and one pull after both (the bulk
   path: only new chunks arrive);
2. ``ingest_long(update)`` of a one-week patch for 20 % of the keys, all
   from the first source (the pull takes the paged path: the chunks exist
   on the replica);
3. ``ingest_long(replace)`` of a ten-day span for 10 % of the keys (one
   key of the first source), which tombstones the rest of its chunks
   (paged pull with tombstones);
4. ``delete`` of one key of the second source (a tombstone-only pull);
5. ``optimize`` packs the month's chunks, which the two appends left in
   two files each (a compaction the change feed skips).

After every pull the replica's per-key row count and value sum must equal
the model of what was written, which is what the server must hold.
Which keys a step touches is drawn from a fixed source, and no key is
replaced twice, so the files each step rewrites and the live row count
do not depend on the seed.
Values are multiples of 0.5, so the sums are exact.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from harness import Bench, dir_bytes, expect

TZ = "Europe/Paris"
SIZES = {"full": {"keys": 10}, "tiny": {"keys": 4}}
START = pd.Timestamp(2024, 1, 1, tz=TZ)


def month_index(m: int) -> pd.DatetimeIndex:
    a = START + pd.DateOffset(months=m)
    return pd.date_range(a, a + pd.DateOffset(months=1), freq="h",
                         inclusive="left").tz_convert("UTC")


def frame(parts: dict[str, pd.Series]) -> pd.DataFrame:
    return pd.concat(
        [pd.DataFrame({"site": k, "ts": s.index, "value": s.to_numpy()})
         for k, s in parts.items()], ignore_index=True)


class IngestSync:
    #: nominal seconds of one warm cycle on a 4-core host
    cycle_s = 20.0

    def __init__(self, spark, bench: Bench, work_dir: str, rng, size: str):
        self.spark = spark
        self.bench = bench
        self.work_dir = work_dir
        self.rng = rng
        self.n_keys = SIZES[size]["keys"]
        self.server = self.replica = None

    def build(self, rep: int) -> None:
        from holcstore_spark import ChunkStoreConfig
        from holcstore_spark.sources.chunk_store import ChunkStore
        from holcstore_spark.streaming.sync import SyncClient

        if self.server is not None:
            shutil.rmtree(os.path.dirname(self.server.path), ignore_errors=True)
        root = os.path.join(self.work_dir, f"sync-{rep}")
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz=TZ,
                               chunk_axis=("year", "month"), allow_sync=True,
                               key_types={"site": "str"})
        self.server = ChunkStore(self.spark, os.path.join(root, "server"), cfg)
        self.replica = ChunkStore(self.spark, os.path.join(root, "replica"), cfg)
        self.sync = SyncClient(self.server, self.replica)
        keys = [f"site{i:03d}" for i in range(self.n_keys)]
        self.model = {k: pd.Series(dtype="float64") for k in keys}
        #: the two sources' keys (see the module docstring)
        self.first, self.second = keys[:len(keys) // 2], keys[len(keys) // 2:]
        self.replaced: set[str] = set()
        self.month = 0

    def stored_bytes(self) -> int:
        return dir_bytes(self.server.path)

    def live_rows(self) -> int:
        return int(sum(s.notna().sum() for s in self.model.values()))

    # -- the cycle ---------------------------------------------------------
    def cycle(self):
        """One month of writes and pulls; yields after every call."""
        idx = month_index(self.month)
        self.month += 1
        first, second = self.first, self.second
        # the month arrives from two sources; the replica then catches up
        self.ingest({k: self._values(idx) for k in first}, "update")
        yield
        yield from self.write({k: self._values(idx) for k in second}, "update")

        # patch and replace touch only the first source's keys, so their
        # copy-on-write rewrites leave the second source's file in place
        # and optimize has two files per chunk to pack
        week = self._span(idx, 7 * 24)
        n = max(1, len(self.model) // 5)
        chosen = sorted(self.rng.choice(first, size=n, replace=False))
        yield from self.write({k: self._values(week) for k in chosen}, "update")

        span = self._span(idx, 10 * 24)
        replaced = self._pick([k for k in first if k not in self.replaced])
        self.replaced.add(replaced)
        yield from self.write({replaced: self._values(span)}, "replace")

        victim = self._pick(second)
        second.remove(victim)
        self.bench.call("chunk_store.delete",
                        lambda: self.server.delete({"site": victim}),
                        logs=[self.server.path])
        del self.model[victim]
        yield
        yield from self.pull()

        self.bench.call("chunk_store.optimize",
                        lambda: self.server.optimize(min_files=2),
                        logs=[self.server.path])
        yield
        yield from self.pull()

    def _pick(self, group: list[str]) -> str:
        return group[int(self.rng.integers(0, len(group)))]

    def _values(self, idx) -> pd.Series:
        v = np.round(self.rng.normal(size=len(idx)) * 20) / 2
        return pd.Series(v, index=idx)

    def _span(self, idx, hours: int) -> pd.DatetimeIndex:
        a = int(self.rng.integers(0, len(idx) - hours))
        return idx[a:a + hours]

    def ingest(self, parts: dict[str, pd.Series], mode: str) -> None:
        sdf = self.spark.createDataFrame(frame(parts))
        self.bench.call("chunk_store.ingest_long",
                        lambda: self.server.ingest_long(sdf, mode=mode),
                        logs=[self.server.path])
        for k, s in parts.items():
            if mode == "replace":
                # replace: the key's data becomes exactly the new span; its
                # chunks outside the span are tombstoned
                self.model[k] = s
            else:
                self.model[k] = s.combine_first(self.model[k])

    def write(self, parts: dict[str, pd.Series], mode: str):
        """Ingest ``parts``, then pull; yields after each call."""
        self.ingest(parts, mode)
        yield
        yield from self.pull()

    def pull(self):
        self.bench.call("sync.pull", self.sync.pull, self.check_replica,
                        logs=[self.replica.path])
        yield

    def check_replica(self, _applied) -> None:
        from pyspark.sql import functions as F

        rows = (self.replica.alive_data().groupBy("site")
                .agg(F.count("value").alias("n"), F.sum("value").alias("s"))
                .collect())
        got = {r["site"]: (r["n"], r["s"]) for r in rows if r["n"]}
        want = {k: (int(s.notna().sum()), float(s.sum()))
                for k, s in self.model.items() if s.notna().any()}
        expect(got == want, f"replica per-key (count, sum) {got} != {want}")
