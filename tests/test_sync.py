"""Store-to-store sync protocol (reference
tests/test_chunk_timeserie_sync.py): full/filtered pull, update overlay,
tombstone propagation, crash-resume idempotency, per-filter watermark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from holcstore_spark import ChunkStoreConfig
from holcstore_spark.sources.chunk_store import ChunkStore
from holcstore_spark.streaming.sync import SyncClient, SyncCrash


def hourly(start, periods, value=1.0):
    idx = pd.date_range(start, periods=periods, freq="1h", tz="UTC")
    return pd.Series(float(value), index=idx)


@pytest.fixture()
def pair(spark, tmp_store_path):
    cfg = ChunkStoreConfig(
        keys=("site",), freq="1h", tz="UTC", chunk_axis=("year", "month"),
        allow_sync=True, key_types={"site": "str"},
    )
    server = ChunkStore(spark, os.path.join(tmp_store_path, "server"), cfg)
    client = ChunkStore(spark, os.path.join(tmp_store_path, "client"), cfg)
    return server, client


class TestSync:
    def test_full_pull(self, pair):
        server, client = pair
        server.set_ts({"site": "a"}, hourly("2024-01-01", 48, 1.0), update=True)
        server.set_ts({"site": "b"}, hourly("2024-02-01", 48, 2.0), update=True)
        n = SyncClient(server, client).pull()
        assert n > 0
        pd.testing.assert_series_equal(
            client.get_ts({"site": "a"}), server.get_ts({"site": "a"}),
            check_freq=False,
        )
        # idempotent: a re-pull re-fetches only the >= boundary row(s) and
        # re-applying them changes nothing (reference resumes via __gte)
        assert SyncClient(server, client).pull() <= 2
        pd.testing.assert_series_equal(
            client.get_ts({"site": "b"}), server.get_ts({"site": "b"}),
            check_freq=False,
        )

    def test_filtered_pull_and_per_filter_watermark(self, pair):
        # reference test_chunk_timeserie_sync.py:263-282
        server, client = pair
        server.set_ts({"site": "a"}, hourly("2024-01-01", 24, 1.0), update=True)
        server.set_ts({"site": "b"}, hourly("2024-01-01", 24, 2.0), update=True)
        sc = SyncClient(server, client)
        assert sc.pull(filters={"site": "a"}) > 0
        assert client.get_ts({"site": "a"}) is not None
        assert client.get_ts({"site": "b"}) is None
        # the a-pull must not advance b's watermark: pulling b still works
        assert sc.pull(filters={"site": "b"}) > 0
        assert client.get_ts({"site": "b"}) is not None

    def test_update_overlay_propagates(self, pair):
        server, client = pair
        base = hourly("2024-01-01", 48, 1.0)
        server.set_ts({"site": "a"}, base, update=True)
        SyncClient(server, client).pull()
        patch = hourly("2024-01-02", 24, 9.0)
        server.set_ts({"site": "a"}, patch, update=True)
        SyncClient(server, client).pull()
        got = client.get_ts({"site": "a"})
        expected = patch.combine_first(base)
        pd.testing.assert_series_equal(
            got.dropna(), expected.dropna(), check_freq=False, check_names=False
        )

    def test_tombstone_propagation(self, pair):
        # reference :133-158 — deletes replicate
        server, client = pair
        server.set_ts({"site": "a"}, hourly("2024-01-01", 24), update=True)
        SyncClient(server, client).pull()
        assert client.get_ts({"site": "a"}) is not None
        server.delete({"site": "a"})
        SyncClient(server, client).pull()
        assert client.get_ts({"site": "a"}) is None

    def test_replace_propagates_chunk_tombstones(self, pair):
        server, client = pair
        jan = hourly("2024-01-01", 24 * 10, 1.0)
        feb = hourly("2024-02-01", 24 * 5, 2.0)
        server.set_ts({"site": "a"}, pd.concat([jan, feb]), update=True)
        SyncClient(server, client).pull()
        server.set_ts({"site": "a"}, feb * 2, replace=True)
        SyncClient(server, client).pull()
        got = client.get_ts({"site": "a"})
        assert got.index.min() >= pd.Timestamp("2024-02-01", tz="UTC")
        assert (got.dropna() == 4.0).all()

    def test_crash_resume_idempotent(self, pair):
        # reference :223-261 — crash mid-pull, resume completes, result
        # identical to an uninterrupted sync
        server, client = pair
        for i in range(6):
            server.set_ts({"site": f"s{i}"}, hourly("2024-01-01", 24, i + 1.0),
                          update=True)
        sc = SyncClient(server, client)
        with pytest.raises(SyncCrash):
            sc.pull(page_size=2, crash_after_pages=1)
        applied_before = client.count_keys()
        assert applied_before < 6
        # resume: watermark advanced only through imported rows
        sc.pull(page_size=2)
        assert client.count_keys() == 6
        for i in range(6):
            pd.testing.assert_series_equal(
                client.get_ts({"site": f"s{i}"}), server.get_ts({"site": f"s{i}"}),
                check_freq=False,
            )

    def test_bulk_bootstrap_crash_between_data_and_meta(self, pair, monkeypatch):
        # the bulk bootstrap path stages data first, meta last, in one
        # commit. A crash in between must leave nothing visible and the
        # resume pull must converge to the uninterrupted result.
        server, client = pair
        for i in range(4):
            server.set_ts({"site": f"s{i}"}, hourly("2024-01-01", 24, i + 1.0),
                          update=True)
        orig = ChunkStore._stage_into_txn

        def boom(self_store, frame, table, npart=None):
            if table == "meta":
                raise SyncCrash("injected crash after data, before meta")
            return orig(self_store, frame, table, npart)

        monkeypatch.setattr(ChunkStore, "_stage_into_txn", boom)
        with pytest.raises(SyncCrash):
            SyncClient(server, client).pull()
        monkeypatch.setattr(ChunkStore, "_stage_into_txn", orig)
        # the staged data never became visible
        assert client.count_keys() == 0
        assert client.get_ts({"site": "s0"}) is None
        # resume completes and dedupes the orphaned physical rows
        SyncClient(server, client).pull()
        assert client.count_keys() == 4
        for i in range(4):
            pd.testing.assert_series_equal(
                client.get_ts({"site": f"s{i}"}), server.get_ts({"site": f"s{i}"}),
                check_freq=False,
            )
        # and the physical table holds no duplicate (site, ts) rows
        dup = (
            client.alive_data()
            .groupBy("site", "ts").count().filter("count > 1").count()
        )
        assert dup == 0

    def test_bulk_bootstrap_tombstones_and_counts(self, pair):
        # a backlog containing tombstoned chunks bootstraps correctly in
        # the single-shot path: deletes stay deleted, count includes them
        server, client = pair
        server.set_ts({"site": "a"}, hourly("2024-01-01", 24, 1.0), update=True)
        server.set_ts({"site": "b"}, hourly("2024-01-01", 24, 2.0), update=True)
        server.delete({"site": "a"})
        n = SyncClient(server, client).pull()
        assert n >= 2
        assert client.get_ts({"site": "a"}) is None
        pd.testing.assert_series_equal(
            client.get_ts({"site": "b"}), server.get_ts({"site": "b"}),
            check_freq=False,
        )

    def test_incremental_new_chunks_take_bulk_path(self, pair, monkeypatch):
        # daily-append replication: after a bootstrap, a pull whose backlog
        # touches only brand-new chunks must append-import (no partition
        # rewrite), while an overlapping pull must still rewrite
        server, client = pair
        server.set_ts({"site": "a"}, hourly("2024-01-01", 24, 1.0), update=True)
        SyncClient(server, client).pull()
        rewrites = []
        orig = ChunkStore._rewrite_spark
        monkeypatch.setattr(
            ChunkStore, "_rewrite_spark",
            lambda self_store, *a, **k: (rewrites.append(1), orig(self_store, *a, **k))[1],
        )
        # new month + new key → no physical overlap → bulk append
        server.set_ts({"site": "b"}, hourly("2024-02-01", 24, 2.0), update=True)
        SyncClient(server, client).pull()
        assert rewrites == []
        pd.testing.assert_series_equal(
            client.get_ts({"site": "b"}), server.get_ts({"site": "b"}),
            check_freq=False,
        )
        # overlapping update to an existing chunk → rewrite path
        server.set_ts({"site": "a"}, hourly("2024-01-01", 12, 9.0), update=True)
        SyncClient(server, client).pull()
        assert len(rewrites) >= 1
        pd.testing.assert_series_equal(
            client.get_ts({"site": "a"}), server.get_ts({"site": "a"}),
            check_freq=False,
        )

    def test_requires_sync_flag(self, spark, tmp_store_path):
        cfg_off = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                                   chunk_axis=("year",), key_types={"site": "str"})
        a = ChunkStore(spark, os.path.join(tmp_store_path, "x"), cfg_off)
        b = ChunkStore(spark, os.path.join(tmp_store_path, "y"), cfg_off)
        with pytest.raises(ValueError):
            SyncClient(a, b)


class TestPagePrefixInvariant:
    def test_mixed_tombstone_alive_page_crash_resumes_complete(self, pair):
        # a page mixing an EARLIER-stamped alive state with LATER-stamped
        # tombstones must apply in feed order: the old all-tombstones-first
        # split advanced the watermark past the unapplied alive row, and a
        # crash there lost it permanently
        server, client = pair
        for i in range(4):
            server.set_ts({"site": f"p{i}"}, hourly("2024-01-01", 24, i + 1.0),
                          update=True)
        # later-stamped deletes of two of them -> feed mixes kinds
        server.delete({"site": "p1"})
        server.delete({"site": "p3"})
        sc = SyncClient(server, client)
        with pytest.raises(SyncCrash):
            sc.pull(page_size=3, crash_after_pages=1)
        sc.pull(page_size=3)
        # converged: alive states present, tombstoned ones absent
        assert client.get_ts({"site": "p0"}) is not None
        assert client.get_ts({"site": "p2"}) is not None
        assert client.get_ts({"site": "p1"}) is None
        assert client.get_ts({"site": "p3"}) is None
        # full meta parity including tombstones
        assert client.latest_meta().count() == server.latest_meta().count()


class TestCapParity:
    """Both sides of APPEND_KEYS_CAP give the same store: the metadata
    plan on the driver (at or below the cap) and the Spark metadata steps
    (above it, forced here with a cap of 1 on the twin) must leave equal
    alive data, latest meta, change feeds and watermarks."""

    KEYS = [("a", 1), ("a", 2), ("b", 1), ("c", 7)]

    def cfg(self, allow_sync):
        return ChunkStoreConfig(
            keys=("site", "meter"), freq="1h", tz="Europe/Paris",
            chunk_axis=("year", "month"), allow_sync=allow_sync,
            key_types={"site": "str", "meter": "int"},
        )

    def frame(self, spark, keys, start, hours, value):
        # the window crosses Paris' spring DST switch (2024-03-31)
        idx = pd.date_range(start, periods=hours, freq="1h", tz="UTC")
        return spark.createDataFrame(pd.concat(
            [pd.DataFrame({"site": s, "meter": m, "ts": idx,
                           "value": float(value) + np.arange(hours) % 5})
             for s, m in keys], ignore_index=True))

    @staticmethod
    def rows(sdf, cols):
        return sdf.toPandas()[cols].sort_values(cols).reset_index(drop=True)

    def assert_same(self, x, y, stamps):
        data = ["site", "meter", "ts", "chunk_index", "value"]
        pd.testing.assert_frame_equal(
            self.rows(x.alive_data(), data), self.rows(y.alive_data(), data))
        meta = ["site", "meter", "chunk_index", "start_ts", "n_points", "is_deleted"]
        if stamps:
            meta += ["updated_at", "op_id"]
        pd.testing.assert_frame_equal(
            self.rows(x.latest_meta(), meta), self.rows(y.latest_meta(), meta))

    def test_ingest_long_modes(self, spark, tmp_store_path):
        planned = ChunkStore(spark, os.path.join(tmp_store_path, "p"), self.cfg(False))
        spread = ChunkStore(spark, os.path.join(tmp_store_path, "d"), self.cfg(False))
        spread.APPEND_KEYS_CAP = 1
        steps = [
            ("insert", self.KEYS, "2024-02-20", 24 * 45, 1.0),
            ("update", self.KEYS[:2], "2024-03-28", 24 * 7, 10.0),
            ("replace", self.KEYS[2:3], "2024-04-03", 24 * 10, 20.0),
        ]
        v0 = planned._txlog.snapshot().version
        for version, (mode, keys, start, hours, value) in enumerate(steps, 1):
            for st in (planned, spread):
                sdf = self.frame(spark, keys, start, hours, value)
                st.ingest_long(sdf, mode=mode, txn_app="sink", txn_version=version)
                n = st._txlog.snapshot().version
                # the replayed batch is skipped whole, in every mode
                st.ingest_long(sdf, mode=mode, txn_app="sink", txn_version=version)
                assert st._txlog.snapshot().version == n
            self.assert_same(planned, spread, stamps=False)
        cdf = ["site", "meter", "ts", "chunk_index", "value", "_change_type"]
        for v in range(v0, planned._txlog.snapshot().version):
            pd.testing.assert_frame_equal(
                self.rows(planned.changes_between(v), cdf),
                self.rows(spread.changes_between(v), cdf))
        assert planned.get_ts({"site": "b", "meter": 1}).index.min() >= pd.Timestamp(
            "2024-04-03", tz="UTC")

    def test_pull_paths(self, spark, tmp_store_path):
        server = ChunkStore(spark, os.path.join(tmp_store_path, "s"), self.cfg(True))
        planned = ChunkStore(spark, os.path.join(tmp_store_path, "p"), self.cfg(True))
        spread = ChunkStore(spark, os.path.join(tmp_store_path, "d"), self.cfg(True))
        spread.APPEND_KEYS_CAP = 1

        def pull(**kw):
            got = []
            for replica in (planned, spread):
                # the server's cap picks the feed, the replica's the probe
                server.APPEND_KEYS_CAP = replica.APPEND_KEYS_CAP
                sync = SyncClient(server, replica)
                try:
                    got.append(sync.pull(**kw))
                except SyncCrash:
                    got.append("crash")
            server.APPEND_KEYS_CAP = ChunkStore.APPEND_KEYS_CAP
            assert got[0] == got[1]
            self.assert_same(planned, spread, stamps=True)
            for f in (None, {"site": "a"}, {"meter__gte": 2}):
                assert planned.last_updated_at(f) == spread.last_updated_at(f)
            return got[0]

        assert pull() == 0
        server.ingest_long(self.frame(spark, self.KEYS, "2024-02-20", 24 * 45, 1.0),
                           mode="update")
        assert pull() == 12                                  # bulk bootstrap
        server.ingest_long(self.frame(spark, self.KEYS[:2], "2024-03-28", 24 * 3, 5.0),
                           mode="update")
        assert pull(page_size=1) == 2                        # paged
        server.ingest_long(self.frame(spark, self.KEYS[1:], "2024-03-30", 24, 6.0),
                           mode="update")
        assert pull(page_size=2, crash_after_pages=1) == "crash"
        assert pull(page_size=2) > 0                         # resumed
        server.ingest_long(self.frame(spark, self.KEYS[2:3], "2024-04-03", 24, 7.0),
                           mode="replace")
        server.ingest_long(self.frame(spark, self.KEYS[:1], "2024-04-05", 24, 8.0),
                           mode="update")
        # a filtered pull advances only its own watermark's horizon: the
        # later unfiltered pull still sees a's newer state
        assert pull(filters={"site": "b"}) == 3              # filtered
        assert pull() == 1
        server.delete({"site": "c", "meter": 7})
        files = planned._txlog.snapshot().files["data"]
        assert pull() == 3                                   # tombstones only
        assert planned._txlog.snapshot().files["data"] == files
        assert pull() == 0
        self.assert_same(server, planned, stamps=True)
        assert planned.last_updated_at() == server.last_updated_at()


class TestWatermarkStat:
    def test_watermark_after_skewed_meta_compaction(self, pair, monkeypatch):
        """The watermark is answered from each meta entry's recorded max
        ``updated_at``. A writer with a fast clock stamps a state that a
        later commit (higher op_id, slower clock) supersedes; once meta
        compaction drops the superseded row, the compacted file's stat must
        come from its own rows, not from its inputs."""
        from datetime import datetime, timezone

        from pyspark.sql import functions as F

        server, _ = pair
        stamps = iter(datetime(y, m, 1, tzinfo=timezone.utc)
                      for y, m in ((2030, 1), (2024, 1), (2024, 6)))
        monkeypatch.setattr(ChunkStore, "_now_stamp",
                            lambda self: (next(stamps), self._active_txn.op_id))
        server.set_ts({"site": "a"}, hourly("2024-01-01", 24, 1.0), update=True)
        server.set_ts({"site": "a"}, hourly("2024-01-01", 24, 2.0), update=True)
        assert server.last_updated_at() == pd.Timestamp("2030-01-01", tz="UTC")
        monkeypatch.setattr(server, "META_COMPACT_THRESHOLD", 1)
        server.set_ts({"site": "b"}, hourly("2024-01-01", 24, 3.0), update=True)
        meta = server._txlog.snapshot().files["meta"]
        assert len(meta) == 1 and meta[0]["updated_at_max"] is not None
        spark_max = server.meta().agg(F.max("updated_at")).first()[0]
        assert server.last_updated_at() == pd.Timestamp(spark_max, tz="UTC")
        assert server.last_updated_at() == pd.Timestamp("2024-06-01", tz="UTC")
        assert server.last_updated_at({"site": "a"}) == pd.Timestamp("2024-01-01", tz="UTC")
        assert server.last_updated_at({"site": "zz"}) == pd.Timestamp("2000-01-01", tz="UTC")
