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
            lambda self_store, sdf: (rewrites.append(1), orig(self_store, sdf))[1],
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
