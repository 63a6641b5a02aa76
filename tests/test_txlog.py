"""ACID mode: the file-manifest transaction log (sources/txlog.py).

The plain store is single-writer with a racy-but-loud op_id fence; ACID
mode replaces checkpoint-then-overwrite with immutable files + an atomic
commit log, closing the documented fence race: concurrent writers to
DISJOINT chunks/files both survive, genuine write-write conflicts raise
``ConcurrentWriteError`` reliably at the commit point, and a crash
between staging and commit leaves nothing visible.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest

from holcstore_spark import ChunkStoreConfig
from holcstore_spark.sources.chunk_store import (
    ChunkStore,
    ConcurrentWriteError,
    KeyExistsError,
)
from holcstore_spark.sources.txlog import TxLog


def acid_store(spark, tmpdir, name="s", tz="UTC", axis=("year", "month")):
    cfg = ChunkStoreConfig(
        keys=("site",), freq="1h", tz=tz, chunk_axis=axis,
        key_types={"site": "str"},
    )
    return ChunkStore(spark, os.path.join(tmpdir, name), cfg)


def hourly(start, periods, value=1.0, tz="UTC"):
    idx = pd.date_range(start, periods=periods, freq="1h", tz=tz)
    return pd.Series(float(value), index=idx)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="holc_tx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestAcidSemantics:
    """The store's public semantics must be identical under ACID mode."""

    def test_roundtrip_update_replace(self, spark, tmpdir):
        st = acid_store(spark, tmpdir)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 48))
        got = st.get_ts({"site": "a"})
        assert len(got) == 48 and (got == 1.0).all()
        with pytest.raises(KeyExistsError):
            st.set_ts({"site": "a"}, hourly("2024-01-01", 24))
        st.set_ts({"site": "a"}, hourly("2024-01-01 10:00", 5, value=9.0),
                  update=True)
        got = st.get_ts({"site": "a"})
        assert (got.iloc[10:15] == 9.0).all() and (got.iloc[:10] == 1.0).all()
        st.set_ts({"site": "a"}, hourly("2024-02-01", 24, value=5.0),
                  replace=True)
        got = st.get_ts({"site": "a"})
        assert len(got) == 24 and (got == 5.0).all()

    def test_tombstone_compact_and_local_read(self, spark, tmpdir):
        st = acid_store(spark, tmpdir)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24))
        st.set_ts({"site": "b"}, hourly("2024-01-01", 24, value=2.0))
        st.delete({"site": "a"})
        assert st.get_ts({"site": "a"}) is None
        assert (st.get_ts_local({"site": "b"}) == 2.0).all()
        st.compact()
        assert st.get_ts({"site": "a"}) is None
        assert (st.get_ts({"site": "b"}) == 2.0).all()

    def test_ingest_long_and_grouped_horodates(self, spark, tmpdir):
        st = acid_store(spark, tmpdir)
        pdf = pd.DataFrame({
            "site": ["x"] * 24 + ["y"] * 24,
            "ts": list(pd.date_range("2024-01-01", periods=24, freq="1h",
                                     tz="UTC")) * 2,
            "value": [1.0] * 48,
        })
        st.ingest_long(spark.createDataFrame(pdf))
        assert len(st.get_ts({"site": "x"})) == 24
        mh = {r["site"] for r in st.get_max_horodates().collect()}
        assert mh == {"x", "y"}

    def test_delete_before_drops_files_without_rewrite(self, spark, tmpdir):
        st = acid_store(spark, tmpdir)
        st.set_ts({"site": "old"}, hourly("2023-03-01", 24))
        st.set_ts({"site": "new"}, hourly("2024-03-01", 24))
        assert st.delete_before("2024-01-01", keep_tracking=False) == 1
        assert st.get_ts({"site": "old"}) is None
        assert st.get_ts({"site": "new"}) is not None
        # the retention commit removed the old chunk's file(s) by log
        # entry alone — no data files were added for them
        log = TxLog(st.path)
        rec = log.read(log.last_version())
        assert rec["removes"]["data"], "expected file-granular removal"


class TestAcidConcurrency:
    def _interleave(self, monkeypatch, victim, during_table, action):
        """Run ``action`` once, mid-transaction of ``victim``, right
        after its first staged write of ``during_table``."""
        import holcstore_spark.sources.chunk_store as cs_mod

        orig = cs_mod.ChunkStore._stage_into_txn
        state = {"fired": False}

        def inject(self_, sdf, table):
            orig(self_, sdf, table)
            if self_ is victim and not state["fired"] and table == during_table:
                state["fired"] = True
                action()

        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", inject)
        return state

    def test_concurrent_inserts_both_survive(self, spark, tmpdir, monkeypatch):
        # the deliverable the fence could never offer: two writers,
        # disjoint keys, same chunk — both commits land, zero data loss
        a = acid_store(spark, tmpdir)
        b = ChunkStore(spark, a.path, a.config)
        state = self._interleave(
            monkeypatch, a, "data",
            lambda: b.set_ts({"site": "bb"}, hourly("2024-01-01", 24, value=2.0)),
        )
        a.set_ts({"site": "aa"}, hourly("2024-01-01", 24))
        assert state["fired"]
        a.refresh()
        assert a.get_ts({"site": "aa"}) is not None
        assert (a.get_ts({"site": "bb"}) == 2.0).all()

    def test_same_chunk_rewrite_conflict_detected(self, spark, tmpdir, monkeypatch):
        a = acid_store(spark, tmpdir)
        b = ChunkStore(spark, a.path, a.config)
        a.set_ts({"site": "s"}, hourly("2024-03-01", 24))
        state = self._interleave(
            monkeypatch, a, "data",
            lambda: b.set_ts({"site": "s"}, hourly("2024-03-01", 24, value=7.0),
                             replace=True),
        )
        with pytest.raises(ConcurrentWriteError):
            a.set_ts({"site": "s"}, hourly("2024-03-01", 24, value=8.0),
                     replace=True)
        assert state["fired"]
        a.refresh()
        # the winner's data is intact; the loser's staged rows never
        # became visible
        assert (a.get_ts({"site": "s"}) == 7.0).all()

    def test_crash_between_stage_and_commit_is_invisible(
        self, spark, tmpdir, monkeypatch
    ):
        import holcstore_spark.sources.chunk_store as cs_mod

        st = acid_store(spark, tmpdir)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24))
        before = len(TxLog(st.path).snapshot().files["data"])
        orig = cs_mod.ChunkStore._stage_into_txn

        def boom(self_, sdf, table):
            orig(self_, sdf, table)
            raise RuntimeError("simulated crash after staging")

        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            st.set_ts({"site": "crash"}, hourly("2024-05-01", 24))
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", orig)
        st.refresh()
        assert st.get_ts({"site": "crash"}) is None
        assert len(TxLog(st.path).snapshot().files["data"]) == before
        # default retention spares fresh files (they could belong to
        # an in-flight writer); retention 0 reclaims the orphans
        assert st.vacuum() == 0
        assert st.vacuum(retention_seconds=0) >= 1
        assert st.get_ts({"site": "a"}) is not None

    def test_vacuum_reclaims_superseded_files_only(self, spark, tmpdir):
        st = acid_store(spark, tmpdir)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24))
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=2.0),
                  replace=True)
        n = st.vacuum(retention_seconds=0)
        assert n >= 1  # the replaced generation's files
        assert (st.get_ts({"site": "a"}) == 2.0).all()
        assert st.vacuum(retention_seconds=0) == 0  # idempotent


class TestManifestSkipping:
    def test_bounded_read_opens_only_overlapping_files(self, spark, tmpdir):
        st = acid_store(spark, tmpdir)
        for month, site_val in (("2024-01-01", 1.0), ("2024-06-01", 2.0)):
            st.set_ts({"site": f"m{month[5:7]}"}, hourly(month, 24, value=site_val))
        snap = st._txlog.snapshot()
        jan = 2024 * 12 + 0
        jun = 2024 * 12 + 5
        jan_files = snap.entries_may_hold("data", chunks=(jan, jan))
        all_files = snap.entries_may_hold("data", chunks=(None, None))
        assert len(jan_files) < len(all_files)
        # and the bounded read is correct
        got = st.get_ts({"site": "m01"}, start="2024-01-01", end="2024-01-02")
        assert got is not None and (got == 1.0).all()
        assert snap.entries_may_hold("data", chunks=(jun, jun))


class TestAcidMatrix:
    @pytest.mark.parametrize("tz", ["UTC", "Europe/Paris"])
    @pytest.mark.parametrize("axis", [("year",), ("year", "month")])
    def test_roundtrip_matrix(self, spark, tmpdir, tz, axis):
        # DST-crossing roundtrip equality under every chunk axis — the
        # plain-mode matrix's core case, on the ACID backend
        st = acid_store(spark, tmpdir, name=f"{tz[:2]}_{len(axis)}",
                        tz=tz, axis=axis)
        idx = pd.date_range("2024-03-25", periods=24 * 20, freq="1h",
                            tz="Europe/Paris")
        rng = np.random.RandomState(7)
        s = pd.Series(rng.rand(len(idx)), index=idx)
        st.set_ts({"site": "a"}, s)
        got = st.get_ts({"site": "a"})
        exp = s.tz_convert(tz)
        pd.testing.assert_series_equal(
            got.reindex(exp.index).dropna(), exp.dropna(),
            check_freq=False, check_names=False,
        )


class TestAcidSync:
    def test_pull_bootstrap_and_incremental_on_acid_replica(self, spark, tmpdir):
        # server and client both on the transaction-log backend: the
        # bootstrap pull's data+meta land in ONE atomic commit
        # (append_import), and the second pull takes the incremental
        # path (has_data / _meta_empty are layout-aware)
        from holcstore_spark.streaming.sync import SyncClient

        cfg = ChunkStoreConfig(
            keys=("site",), freq="1h", tz="UTC", chunk_axis=("year", "month"),
            key_types={"site": "str"}, allow_sync=True,
        )
        server = ChunkStore(spark, os.path.join(tmpdir, "srv"), cfg)
        client = ChunkStore(spark, os.path.join(tmpdir, "cli"), cfg)
        server.set_ts({"site": "a"}, hourly("2024-01-01", 24), update=True)
        server.set_ts({"site": "b"}, hourly("2024-01-01", 24, value=2.0),
                      update=True)
        sc = SyncClient(server, client)
        assert sc.pull() > 0
        assert (client.get_ts({"site": "b"}) == 2.0).all()
        # bootstrap commit is atomic: one log record carries data + meta
        log = TxLog(client.path)
        rec = log.read(log.last_version())
        assert rec["adds"]["data"] and rec["adds"]["meta"]
        # incremental: only the new chunk state moves
        server.set_ts({"site": "c"}, hourly("2024-02-01", 24, value=3.0),
                      update=True)
        assert sc.pull() > 0
        client.refresh()
        assert (client.get_ts({"site": "c"}) == 3.0).all()
        # idempotent re-pull: nothing new
        assert sc.pull() == 0


class TestTxLogUnit:
    """Pure-python log protocol tests — no Spark session needed."""

    def _entry(self, path, cmin=None, cmax=None, rows=1):
        return {"path": path, "rows": rows, "chunk_min": cmin, "chunk_max": cmax}

    def test_checkpoint_bounds_replay_and_matches_full_replay(self, tmpdir):
        log = TxLog(os.path.join(tmpdir, "log"))
        for i in range(1, 70):
            log.commit(
                base_version=i - 1, op="append", op_id=i,
                adds={"data": [self._entry(f"files/f{i}.parquet", i, i)]},
                removes={},
            )
        # checkpoints landed at the interval marks
        assert log._latest_checkpoint() == 64
        snap = log.snapshot()
        assert snap.version == 69
        assert len(snap.files["data"]) == 69
        # a checkpointed snapshot equals full replay (delete checkpoints,
        # re-snapshot)
        for f in os.listdir(log.dir):
            if f.startswith("_checkpoint."):
                os.remove(os.path.join(log.dir, f))
        full = log.snapshot()
        assert {e["path"] for e in full.files["data"]} == {
            e["path"] for e in snap.files["data"]
        }

    def test_rebase_skips_disjoint_and_detects_overlap(self, tmpdir):
        from holcstore_spark.sources.chunk_store import ConcurrentWriteError

        log = TxLog(os.path.join(tmpdir, "log2"))
        log.commit(1 - 1, "seed", 1,
                   adds={"data": [self._entry("files/a.parquet", 10, 10)]},
                   removes={})
        # writer A computed its keep-set at version 1; writer B commits
        # version 2 touching chunk 99 — A's commit rebases to version 3
        log.commit(1, "b", 2,
                   adds={"data": [self._entry("files/b.parquet", 99, 99)]},
                   removes={})
        v = log.commit(1, "a", 3,
                       adds={"data": [self._entry("files/c.parquet", 10, 10)]},
                       removes={"data": [self._entry("files/a.parquet", 10, 10)]},
                       touched={10})
        assert v == 3
        # same race but B touched chunk 10: genuine conflict
        log.commit(3, "b2", 4,
                   adds={"data": [self._entry("files/d.parquet", 10, 10)]},
                   removes={})
        with pytest.raises(ConcurrentWriteError):
            log.commit(3, "a2", 5,
                       adds={"data": [self._entry("files/e.parquet", 10, 10)]},
                       removes={"data": [self._entry("files/c.parquet", 10, 10)]},
                       touched={10})

    def test_statless_entry_is_conservative(self, tmpdir):
        from holcstore_spark.sources.chunk_store import ConcurrentWriteError

        log = TxLog(os.path.join(tmpdir, "log3"))
        # interleaved commit whose file has NO chunk stats must conflict
        # with any rewrite (assume-overlap)
        log.commit(0, "b", 1,
                   adds={"data": [self._entry("files/x.parquet")]}, removes={})
        with pytest.raises(ConcurrentWriteError):
            log.commit(0, "a", 2, adds={}, removes={}, touched={5})

    def test_snapshot_cache_invalidated_by_new_commit(self, tmpdir):
        log = TxLog(os.path.join(tmpdir, "log4"))
        log.commit(0, "a", 1,
                   adds={"data": [self._entry("files/a.parquet", 1, 1)]},
                   removes={})
        s1 = log.snapshot()
        assert log.snapshot() is s1  # cached
        # a DIFFERENT TxLog instance (cross-process writer) commits
        other = TxLog(os.path.join(tmpdir, "log4"))
        other.commit(1, "b", 2,
                     adds={"data": [self._entry("files/b.parquet", 2, 2)]},
                     removes={})
        s2 = log.snapshot()
        assert s2 is not s1 and len(s2.files["data"]) == 2

    def test_prune_log_keeps_snapshot_identical(self, tmpdir):
        log = TxLog(os.path.join(tmpdir, "log5"))
        for i in range(1, 40):
            log.commit(i - 1, "append", i,
                       adds={"data": [self._entry(f"files/f{i}.parquet", i, i)]},
                       removes={})
        before = {e["path"] for e in log.snapshot().files["data"]}
        n = log.prune_log()
        assert n >= 32  # records 1..32 summarized by the checkpoint
        after = {e["path"] for e in log.snapshot().files["data"]}
        assert after == before
        # commits continue from the correct version after pruning
        v = log.commit(log.snapshot().version, "next", 99,
                       adds={"data": [self._entry("files/z.parquet", 99, 99)]},
                       removes={})
        assert v == 40


class TestAcidMetaCompaction:
    def test_meta_file_count_stays_bounded(self, spark, tmpdir, monkeypatch):
        monkeypatch.setattr(ChunkStore, "META_COMPACT_THRESHOLD", 6)
        st = acid_store(spark, tmpdir)
        for i in range(10):
            st.set_ts({"site": f"s{i}"}, hourly("2024-01-01", 3, value=float(i)))
        snap = TxLog(st.path).snapshot()
        assert len(snap.files["meta"]) <= 7  # compacted backlog + tail
        # semantics intact after compaction: counts, feed, watermark, reads
        assert st.count_keys() == 10
        assert (st.get_ts({"site": "s3"}) == 3.0).all()
        st.delete({"site": "s3"})
        assert st.get_ts({"site": "s3"}) is None
        feed = st.updates()
        assert feed.filter(feed.is_deleted).count() == 1


class TestTimeTravel:
    def test_as_of_reads_and_write_refusal(self, spark, tmpdir):
        st = acid_store(spark, tmpdir)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        v1 = TxLog(st.path).last_version()
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=2.0),
                  replace=True)
        # head sees the replacement, the pinned view the original
        assert (st.get_ts({"site": "a"}) == 2.0).all()
        old = st.time_travel(v1)
        assert (old.get_ts({"site": "a"}) == 1.0).all()
        assert (old.get_ts_local({"site": "a"}) == 1.0).all()
        with pytest.raises(ValueError, match="read-only"):
            old.set_ts({"site": "b"}, hourly("2024-01-01", 3))
        with pytest.raises(ValueError, match="not a committed log version"):
            st.time_travel(999)


class TestAcidStreamIngest:
    def test_each_micro_batch_is_one_atomic_commit(self, spark, tmpdir):
        from holcstore_spark.streaming.ingest import stream_ingest

        src = os.path.join(tmpdir, "src")
        ckpt = os.path.join(tmpdir, "ckpt")
        pdf = pd.DataFrame({
            "site": ["a"] * 24 + ["b"] * 24,
            "ts": list(pd.date_range("2024-01-01", periods=24, freq="1h",
                                     tz="UTC")) * 2,
            "value": [float(i) for i in range(48)],
        })
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
        st = acid_store(spark, tmpdir, name="sink")
        stream = spark.readStream.schema(
            "site string, ts timestamp, value double"
        ).parquet(src)
        q = stream_ingest(st, stream, checkpoint=ckpt, mode="update",
                          trigger_once=True)
        q.awaitTermination(300)
        st.refresh()
        assert st.count_keys() == 2
        assert st.get_ts({"site": "a"}).notna().sum() == 24
        # the batch landed as ONE commit carrying data AND meta — the
        # effectively-once property a foreachBatch sink gets from ACID
        log = TxLog(st.path)
        rec = log.read(log.last_version())
        assert rec["adds"]["data"] and rec["adds"]["meta"]
        assert rec["op"] == "ingest_long"


class TestAcidFileSkipping:
    def test_bounded_read_plan_inputs_fewer_files(self, spark, tmpdir):
        # planning-time proof (not just manifest-level): the bounded
        # read's physical scan receives only the overlapping files
        st = acid_store(spark, tmpdir)
        for m in ("01", "03", "06", "09"):
            st.set_ts({"site": f"m{m}"}, hourly(f"2024-{m}-01", 24))
        all_files = set(st.alive_data().inputFiles())
        jan_files = set(
            st.alive_data(start="2024-01-01", end="2024-01-31").inputFiles()
        )
        assert jan_files and len(jan_files) < len(all_files)


class TestAcidThreadedStress:
    def test_eight_real_concurrent_insert_writers_all_land(self, spark, tmpdir):
        # true concurrency (no injection): 8 threads, each its own store
        # instance, inserting disjoint keys into the SAME chunk — the
        # optimistic rebase loop must land all 8 commits with zero loss
        import threading

        first = acid_store(spark, tmpdir)
        errs = []

        def worker(i):
            try:
                st = ChunkStore(spark, first.path, first.config)
                st.set_ts({"site": f"w{i}"},
                          hourly("2024-01-01", 6, value=float(i)))
            except Exception as e:  # noqa: BLE001 - collect for assert
                errs.append((i, e))

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive(), "writer thread deadlocked"
        assert not errs, errs
        first.refresh()
        assert first.count_keys() == 8
        for i in range(8):
            got = first.get_ts({"site": f"w{i}"})
            assert got is not None and (got == float(i)).all(), i


class TestAcidInsertKeyConflict:
    def test_concurrent_same_key_inserts_conflict(self, spark, tmpdir, monkeypatch):
        # both writers insert the SAME brand-new key: the loser's append
        # commit must conflict on the recorded key digests instead of
        # silently duplicating the series
        import holcstore_spark.sources.chunk_store as cs_mod

        a = acid_store(spark, tmpdir)
        b = ChunkStore(spark, a.path, a.config)
        orig = cs_mod.ChunkStore._stage_into_txn
        state = {"fired": False}

        def inject(self_, sdf, table):
            orig(self_, sdf, table)
            if self_ is a and not state["fired"] and table == "data":
                state["fired"] = True
                b.set_ts({"site": "dup"}, hourly("2024-01-01", 6, value=2.0))

        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", inject)
        with pytest.raises(ConcurrentWriteError, match="same key"):
            a.set_ts({"site": "dup"}, hourly("2024-01-01", 6, value=1.0))
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", orig)
        assert state["fired"]
        a.refresh()
        got = a.get_ts({"site": "dup"})
        # exactly ONE generation of the series survived (the winner's)
        assert got is not None and (got == 2.0).all() and len(got) == 6

    def test_vacuum_spares_in_flight_staged_files(self, spark, tmpdir, monkeypatch):
        # a vacuum running mid-transaction must not reclaim the open
        # writer's freshly staged (uncommitted) files — the retention
        # window is what makes concurrent vacuum safe
        import holcstore_spark.sources.chunk_store as cs_mod

        st = acid_store(spark, tmpdir)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 6))
        orig = cs_mod.ChunkStore._stage_into_txn
        state = {"fired": False}

        def inject(self_, sdf, table):
            orig(self_, sdf, table)
            if not state["fired"]:
                state["fired"] = True
                assert st.vacuum() == 0  # default retention: nothing dies
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", inject)
        st.set_ts({"site": "b"}, hourly("2024-01-01", 6, value=2.0))
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", orig)
        assert state["fired"]
        st.refresh()
        assert (st.get_ts({"site": "b"}) == 2.0).all()


class TestReviewHardening:
    def test_commit_below_prune_horizon_refused(self, tmpdir):
        # a writer whose base predates a prune must be refused loudly —
        # linking into a freed slot would create an invisible commit
        e = TestTxLogUnit()
        log = TxLog(os.path.join(tmpdir, "logph"))
        for i in range(1, 40):
            log.commit(i - 1, "append", i,
                       adds={"data": [e._entry(f"files/f{i}.parquet", i, i)]},
                       removes={})
        log.prune_log()
        with pytest.raises(ConcurrentWriteError, match="pruned log horizon"):
            log.commit(5, "stale", 99,
                       adds={"data": [e._entry("files/z.parquet", 1, 1)]},
                       removes={})
        # a fresh-base commit still lands
        v = log.commit(log.snapshot().version, "fresh", 100,
                       adds={"data": [e._entry("files/y.parquet", 1, 1)]},
                       removes={})
        assert v == 40

    def test_append_key_digests_canonicalized(self, spark, tmpdir):
        import numpy as np

        cfg = ChunkStoreConfig(keys=("uid",), freq="1h", tz="UTC",
                               chunk_axis=("year",),
                               key_types={"uid": "int"})
        st = ChunkStore(spark, os.path.join(tmpdir, "ck"), cfg)
        # same key arriving as np.int64, int and str must digest equal
        d1 = st._canon_key_tuple((np.int64(7),))
        d2 = st._canon_key_tuple((7,))
        d3 = st._canon_key_tuple(("7",))
        assert repr(d1) == repr(d2) == repr(d3)

    def test_concurrent_disjoint_chunk_updates_of_same_key_both_land(
        self, spark, tmpdir, monkeypatch
    ):
        # two updates of ONE key in different chunks take the append
        # path; neither records insert digests, so both commits land
        import holcstore_spark.sources.chunk_store as cs_mod

        a = acid_store(spark, tmpdir)
        b = ChunkStore(spark, a.path, a.config)
        a.set_ts({"site": "k"}, hourly("2020-01-01", 6))
        orig = cs_mod.ChunkStore._stage_into_txn
        state = {"fired": False}

        def inject(self_, sdf, table):
            orig(self_, sdf, table)
            if self_ is a and not state["fired"] and table == "data":
                state["fired"] = True
                b.set_ts({"site": "k"}, hourly("2022-06-01", 6, value=2.0),
                         update=True)

        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", inject)
        a.set_ts({"site": "k"}, hourly("2021-06-01", 6, value=3.0), update=True)
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", orig)
        assert state["fired"]
        a.refresh()
        got = a.get_ts({"site": "k"})
        assert got is not None
        assert (got["2021-06-01":"2021-06-02"].dropna() == 3.0).all()
        assert (got["2022-06-01":"2022-06-02"].dropna() == 2.0).all()


class TestAcidChaos:
    def test_mixed_ops_across_threads_converge(self, spark, tmpdir):
        # 6 threads × (insert → update → replace or delete) on disjoint
        # key spaces of ONE acid store, with a concurrent default-
        # retention vacuum thread. Every operation must land exactly as
        # if run serially within its key space; rebases may occur,
        # conflicts must not (all touch-sets are disjoint).
        import threading

        first = acid_store(spark, tmpdir)
        errs = []

        def worker(i):
            try:
                st = ChunkStore(spark, first.path, first.config)
                k = {"site": f"t{i}"}
                st.set_ts(k, hourly("2024-01-01", 6, value=1.0))
                st.set_ts(k, hourly("2024-01-01 02:00", 2, value=9.0),
                          update=True)
                if i % 2 == 0:
                    st.set_ts(k, hourly("2024-02-01", 4, value=5.0),
                              replace=True)
                else:
                    st.delete(k)
            except Exception as e:  # noqa: BLE001
                errs.append((i, e))

        def vac():
            try:
                for _ in range(4):
                    first.vacuum()  # default retention: safe alongside writers
            except Exception as e:  # noqa: BLE001
                errs.append(("vac", e))

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
        threads.append(threading.Thread(target=vac))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
            assert not t.is_alive(), "thread deadlocked"
        assert not errs, errs
        first.refresh()
        for i in range(6):
            got = first.get_ts({"site": f"t{i}"})
            if i % 2 == 0:
                assert got is not None and (got == 5.0).all() and len(got) == 4, i
            else:
                assert got is None, i

    def test_undeclared_key_types_disable_key_level_detection(self, spark, tmpdir):
        # without declared key types, canonicalization can't make
        # digests API-stable — the machinery must stay conservative
        # (chunk-granular) instead of waiving on unsound digests
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year",))
        st = ChunkStore(spark, os.path.join(tmpdir, "nokt"), cfg)
        assert not st._key_level_detection_ok()
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3))
        log = TxLog(st.path)
        rec = log.read(log.last_version())
        assert rec["append_keys"] is None and rec["dropped_keys"] is None


class TestAdviceR6Hardening:
    """Round-7 fixes for the ADVICE-r6 findings: the commit-slot
    recycling TOCTOU and wall-clock-skew op_id ordering."""

    def test_commit_slot_recycled_under_link_is_backed_out(
        self, tmpdir, monkeypatch
    ):
        # Between commit()'s floor check and os.link, another writer can
        # take the slot, checkpoint at it, and prune the record — freeing
        # the slot so our link would land BELOW the pruned horizon and be
        # invisible to every replay. The post-link re-check must back the
        # record out and raise instead of silently losing the write.
        e = TestTxLogUnit()
        log = TxLog(os.path.join(tmpdir, "lograce"))
        other = TxLog(log.root)
        other.CHECKPOINT_INTERVAL = 1  # instance attr: checkpoint per commit
        orig = TxLog._try_write
        state = {"fired": False}

        def race(self_, v, rec):
            if self_ is log and not state["fired"]:
                state["fired"] = True
                other.commit(0, "other", 1,
                             adds={"data": [e._entry("files/o.parquet", 1, 1)]},
                             removes={})
                other.prune_log()  # record 1 summarized into checkpoint 1
            return orig(self_, v, rec)

        monkeypatch.setattr(TxLog, "_try_write", race)
        with pytest.raises(ConcurrentWriteError, match="recycled"):
            log.commit(0, "mine", 2,
                       adds={"data": [e._entry("files/m.parquet", 2, 2)]},
                       removes={})
        monkeypatch.setattr(TxLog, "_try_write", orig)
        # the backed-out record must not exist and must not shadow the
        # other writer's state; a fresh-base retry lands normally
        snap = log.snapshot()
        assert {x["path"] for x in snap.files["data"]} == {"files/o.parquet"}
        v = log.commit(snap.version, "retry", 3,
                       adds={"data": [e._entry("files/m.parquet", 2, 2)]},
                       removes={})
        assert v == snap.version + 1
        assert {x["path"] for x in log.snapshot().files["data"]} == {
            "files/o.parquet", "files/m.parquet"
        }

    def test_snapshot_tracks_max_op_id_across_checkpoint_prune(self, tmpdir):
        e = TestTxLogUnit()
        log = TxLog(os.path.join(tmpdir, "loglam"))
        for i in range(1, 40):
            log.commit(i - 1, "append", 1000 + i,
                       adds={"data": [e._entry(f"files/f{i}.parquet", i, i)]},
                       removes={})
        assert log.snapshot().max_op_id == 1039
        log.prune_log()  # summarized history must preserve the clock
        assert log.snapshot().max_op_id == 1039
        assert TxLog.next_op_id(log.snapshot()) >= 1040  # never regresses

    def test_latest_meta_winner_follows_causality_not_wall_clock(
        self, spark, tmpdir, monkeypatch
    ):
        # A second writer whose host clock runs in the PAST updates a
        # series after the first write committed. Causal order must win:
        # the update's meta rows outrank the insert's even though their
        # wall-clock stamp is smaller.
        import time as _time

        st = acid_store(spark, tmpdir, name="skew")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        real = _time.time_ns
        monkeypatch.setattr(_time, "time_ns", lambda: real() - 10**15)
        st2 = acid_store(spark, tmpdir, name="skew")  # fresh writer, skewed clock
        st2.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=9.0),
                   replace=True)
        monkeypatch.setattr(_time, "time_ns", real)
        got = acid_store(spark, tmpdir, name="skew").get_ts({"site": "a"})
        assert (got == 9.0).all()


class TestCheckpointPointerAndListingCost:
    """VERDICT-r6 #3: a large commit log must open and commit with
    O(CHECKPOINT_INTERVAL) record reads and O(1) directory listings —
    the ``_last_checkpoint`` pointer replaces per-call listdir scans."""

    def _build_log(self, tmpdir, n):
        e = TestTxLogUnit()
        log = TxLog(os.path.join(tmpdir, "biglog"))
        for i in range(1, n + 1):
            log.commit(i - 1, "append", i,
                       adds={"data": [e._entry(f"files/f{i}.parquet", i, i)]},
                       removes={})
        return log

    def test_pointer_written_and_trusted(self, tmpdir):
        log = self._build_log(tmpdir, 100)
        assert log._read_checkpoint_pointer() == 96  # 3 * 32
        assert log._latest_checkpoint() == 96        # pointer fast path
        assert log._latest_checkpoint(fresh=True) == 96

    def test_cold_open_and_commit_listing_cost(self, tmpdir, monkeypatch):
        import os as _os

        n = 2048
        log = self._build_log(tmpdir, n)
        cold = TxLog(log.root)  # fresh instance: no snapshot cache
        counts = {"listdir": 0, "rec_reads": 0}
        real_listdir = _os.listdir
        real_read = TxLog.read

        def count_listdir(p="."):
            counts["listdir"] += 1
            return real_listdir(p)

        def count_read(self_, v):
            counts["rec_reads"] += 1
            return real_read(self_, v)

        monkeypatch.setattr(_os, "listdir", count_listdir)
        monkeypatch.setattr(TxLog, "read", count_read)
        snap = cold.snapshot()
        assert snap.version == n
        assert len(snap.files["data"]) == n
        # one listing (the cache signature, reused by the replay) and
        # only the records past the latest checkpoint are read
        assert counts["listdir"] <= 2
        assert counts["rec_reads"] <= TxLog.CHECKPOINT_INTERVAL
        counts["listdir"] = counts["rec_reads"] = 0
        e = TestTxLogUnit()
        v = cold.commit(snap.version, "one_more", n + 1,
                        adds={"data": [e._entry("files/more.parquet", 1, 1)]},
                        removes={})
        assert v == n + 1
        # pre-link floor via the pointer, one fresh post-link scan,
        # maybe a checkpoint replay listing — never O(slots) listings
        assert counts["listdir"] <= 4

    def test_stale_pointer_self_heals(self, tmpdir):
        log = self._build_log(tmpdir, 64)
        os.remove(log._pointer_path())     # lost pointer → listdir fallback
        assert log._latest_checkpoint() == 64
        e = TestTxLogUnit()
        log.commit(64, "w", 65, adds={"data": [e._entry("files/x.parquet", 1, 1)]},
                   removes={})
        # next checkpoint rewrites the pointer
        for i in range(66, 98):
            log.commit(i - 1, "w", i,
                       adds={"data": [e._entry(f"files/g{i}.parquet", i, i)]},
                       removes={})
        assert log._read_checkpoint_pointer() == 96


class TestCommitterContract:
    """VERDICT-r6 #4: the slot-claim primitive is pluggable; any
    implementation must give exactly-once slot ownership under races
    (the S3/GCS conditional-PUT implementation path documented on
    LocalFSCommitter)."""

    def test_racy_committer_exactly_once(self, tmpdir):
        import threading
        import time as _t

        from holcstore_spark.sources.txlog import LocalFSCommitter

        class RacyCommitter(LocalFSCommitter):
            # widen the race window: every caller stalls mid-claim
            def try_commit(self, path, payload):
                _t.sleep(0.002 + (hash(threading.get_ident()) % 5) / 1000)
                return super().try_commit(path, payload)

        log = TxLog(os.path.join(tmpdir, "race"), committer=RacyCommitter())
        rec = {"adds": {"data": [], "meta": []},
               "removes": {"data": [], "meta": []},
               "touched": None, "append_keys": None, "dropped_keys": None}
        wins, barrier = [], threading.Barrier(8)

        def worker(i):
            barrier.wait()
            if log._try_write(1, {**rec, "version": 1, "op": f"w{i}", "op_id": i}):
                wins.append(i)

        ts = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert len(wins) == 1
        assert log.read(1)["op"] == f"w{wins[0]}"  # complete, readable

    def test_conditional_put_style_committer_runs_full_protocol(self, tmpdir):
        # an object-store-shaped committer (atomic if-absent precondition
        # + whole-object put, no hard links): the entire commit /
        # checkpoint / prune / snapshot protocol runs unchanged on it
        import threading

        class CondPutCommitter:
            def __init__(self):
                self._lock = threading.Lock()

            def try_commit(self, path, payload):
                with self._lock:  # the store's atomic precondition check
                    if os.path.exists(path):
                        return False
                    tmp = path + ".tmp-put"
                    with open(tmp, "wb") as f:
                        f.write(payload)
                    os.replace(tmp, path)
                    return True

        e = TestTxLogUnit()
        log = TxLog(os.path.join(tmpdir, "condput"), committer=CondPutCommitter())
        for i in range(1, 70):  # crosses two checkpoint intervals
            log.commit(i - 1, "append", i,
                       adds={"data": [e._entry(f"files/f{i}.parquet", i, i)]},
                       removes={})
        assert log._try_write(5, {"version": 5, "op": "dup", "op_id": 0,
                                  "adds": {}, "removes": {}}) is False
        snap = log.snapshot()
        assert snap.version == 69 and len(snap.files["data"]) == 69
        log.prune_log()
        snap2 = log.snapshot()
        assert snap2.version == snap.version
        assert {x["path"] for x in snap2.files["data"]} == {
            x["path"] for x in snap.files["data"]
        }


class TestAcidDefaultAndHistory:
    """Every store is a transaction-log store; history() is the DESCRIBE
    HISTORY surface."""

    def test_new_store_defaults_to_acid(self, spark, tmpdir):
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year",), key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmpdir, "fresh"), cfg)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3))
        assert os.path.isdir(os.path.join(st.path, "_txlog"))
        assert len(st.history().collect()) == 1

    def test_history_surface(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="hist")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24))
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=2.0),
                  replace=True)
        st.delete({"site": "a"})
        h = st.history().collect()
        assert [r["version"] for r in h] == [3, 2, 1]  # newest first
        assert h[2]["op"].startswith("set_ts")
        assert h[2]["data_files_added"] >= 1 and h[2]["data_rows_added"] == 744  # full dense month chunk
        assert h[1]["data_files_removed"] >= 1  # the replace rewrote files
        assert all(r["committed_at"] is not None for r in h)
        # op_ids strictly increase in commit order (Lamport stamps)
        ops = [r["op_id"] for r in reversed(h)]
        assert ops == sorted(ops) and len(set(ops)) == len(ops)
        # pairs with time_travel: the version column IS the as-of axis
        assert (st.time_travel(h[1]["version"]).get_ts({"site": "a"}) == 2.0).all()

    def test_blind_append_warns_above_cap(self, spark, tmpdir, monkeypatch):
        st = acid_store(spark, tmpdir, name="blind")
        monkeypatch.setattr(ChunkStore, "APPEND_KEYS_CAP", 3)
        pdf = pd.DataFrame({
            "site": [f"s{i}" for i in range(5) for _ in range(2)],
            "ts": list(pd.date_range("2024-01-01", periods=2, freq="1h",
                                     tz="UTC")) * 5,
            "value": [1.0] * 10,
        })
        with pytest.warns(UserWarning, match="BLIND append"):
            st.ingest_long(st.spark.createDataFrame(pdf))
        assert len(st.get_ts({"site": "s4"})) == 2  # the write itself landed

    def test_blind_append_warning_points_at_caller(self, spark, tmpdir, monkeypatch):
        # the warning fires on the caller's thread, not inside the pool
        # that overlaps the data and meta staging
        st = acid_store(spark, tmpdir, name="blindline")
        monkeypatch.setattr(ChunkStore, "APPEND_KEYS_CAP", 3)
        pdf = pd.DataFrame({
            "site": [f"s{i}" for i in range(5) for _ in range(2)],
            "ts": list(pd.date_range("2024-01-01", periods=2, freq="1h",
                                     tz="UTC")) * 5,
            "value": [1.0] * 10,
        })
        with pytest.warns(UserWarning, match="BLIND append") as rec:
            st.ingest_long(st.spark.createDataFrame(pdf), mode="insert")
        blind = [w for w in rec if "BLIND append" in str(w.message)]
        assert [w.filename for w in blind] == [__file__]


class TestPostLinkDiscrimination:
    """Code-review r7: a checkpoint >= v appearing after our link is
    benign when it SUMMARIZED our record (writers that replayed us
    committed and checkpointed) — the commit must stand, not be backed
    out into a double-apply retry."""

    def test_benign_concurrent_checkpoint_keeps_commit(
        self, tmpdir, monkeypatch
    ):
        e = TestTxLogUnit()
        log = TxLog(os.path.join(tmpdir, "benign"))
        other = TxLog(log.root)
        other.CHECKPOINT_INTERVAL = 1
        orig = TxLog._try_write
        state = {"fired": False}

        def race(self_, v, rec):
            ok = orig(self_, v, rec)
            if ok and self_ is log and not state["fired"]:
                state["fired"] = True
                # a concurrent writer replays OUR record, commits past
                # v, checkpoints (summarizing us) and prunes — all
                # before our post-link re-check runs
                other.commit(other.snapshot().version, "other", 99,
                             adds={"data": [e._entry("files/o.parquet", 9, 9)]},
                             removes={})
                other.prune_log()
            return ok

        monkeypatch.setattr(TxLog, "_try_write", race)
        v = log.commit(0, "mine", 1,
                       adds={"data": [e._entry("files/m.parquet", 1, 1)]},
                       removes={})
        monkeypatch.setattr(TxLog, "_try_write", orig)
        assert v == 1  # committed, not backed out
        assert {x["path"] for x in log.snapshot().files["data"]} == {
            "files/m.parquet", "files/o.parquet"
        }


class TestLayoutResolution:
    def test_existing_empty_dir_opens_as_new_store(self, spark, tmpdir):
        """An existing empty directory (a ``tempfile.mkdtemp()`` path) is a
        new transaction-log store for all three classes — as is a
        directory holding only the config a plain store saved at open,
        with its ``"acid": false`` flag, before any write."""
        import dataclasses
        import json as _json

        from holcstore_spark.sources.attr_store import AttrStore
        from holcstore_spark.sources.kv_store import KeyValueStore

        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year",), key_types={"site": "str"})
        never_written = os.path.join(tmpdir, "never_written")
        os.makedirs(never_written)
        with open(os.path.join(never_written, "_store_config.json"), "w") as f:
            _json.dump({**dataclasses.asdict(cfg), "acid": False}, f)
        opened = []
        for name, make in [
            ("cs", lambda p: ChunkStore(spark, p, cfg)),
            ("kv", lambda p: KeyValueStore(spark, p)),
            ("at", lambda p: AttrStore(spark, p, keys=("k",))),
        ]:
            path = os.path.join(tmpdir, name)
            os.makedirs(path)
            opened.append(make(path))
        opened.append(ChunkStore(spark, never_written, cfg))
        for st in opened:
            assert st.history().count() == 0
        st = opened[0]
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3))
        assert [r["op"] for r in st.history().collect()] == ["set_ts"]


def _mp_writer(root, wid, n_commits, out_q):
    """Cross-process commit worker (module-level for spawn pickling):
    each commit appends one uniquely-named file entry; occasional
    maintenance (prune) interleaves with other processes' commits."""
    import random

    from holcstore_spark.sources.chunk_store import ConcurrentWriteError
    from holcstore_spark.sources.txlog import TxLog

    rng = random.Random(wid)
    log = TxLog(root)
    landed = []
    for i in range(n_commits):
        path = f"files/w{wid}_{i}.parquet"
        entry = {"path": path, "rows": 1, "chunk_min": wid, "chunk_max": wid,
                 "key_stats": None}
        for _attempt in range(40):
            snap = log.snapshot()
            try:
                log.commit(snap.version, f"w{wid}", TxLog.next_op_id(snap),
                           adds={"data": [entry]}, removes={})
                landed.append(path)
                break
            except ConcurrentWriteError:
                continue
        else:
            out_q.put(("fail", wid, path))
            return
        if rng.random() < 0.15:
            try:
                log.prune_log()
            except OSError:
                pass
    out_q.put(("ok", wid, landed))


class TestMultiProcessCommitChaos:
    """REAL cross-process concurrency (not injected interleaves, not
    threads): N processes hammer one log with appends and interleaved
    prunes. Every commit a worker reports as landed must be visible in
    the final snapshot — exercises LocalFSCommitter's os.link atomicity
    across processes, pointer races, prune vs replay races, and the
    post-link horizon discrimination under genuine scheduling chaos."""

    def test_six_processes_no_lost_commits(self, tmpdir):
        import multiprocessing as mp

        root = os.path.join(tmpdir, "mplog")
        TxLog(root)  # create the log dir before forking
        ctx = mp.get_context("spawn")
        q = ctx.Queue()
        n_workers, n_commits = 6, 12
        procs = [
            ctx.Process(target=_mp_writer, args=(root, w, n_commits, q))
            for w in range(n_workers)
        ]
        for p in procs:
            p.start()
        results = [q.get(timeout=120) for _ in range(n_workers)]
        for p in procs:
            p.join(timeout=30)
        assert all(r[0] == "ok" for r in results), results
        expected = {path for r in results for path in r[2]}
        assert len(expected) == n_workers * n_commits
        live = {e["path"] for e in TxLog(root).snapshot().files["data"]}
        missing = expected - live
        assert not missing, f"lost commits: {sorted(missing)[:5]}"
        # the log itself stayed bounded by prune/checkpoint maintenance
        assert TxLog(root).snapshot().version == n_workers * n_commits


class TestChangesBetween:
    """Delta-CDF-style row-level change feed from the manifest diff."""

    def test_update_surfaces_as_delete_plus_insert(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="cdf")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01 05:00", 3, value=9.0),
                  update=True)
        v2 = st._txlog.snapshot().version
        ch = st.changes_between(v1, v2).collect()
        by_type = {}
        for r in ch:
            by_type.setdefault(r["_change_type"], []).append(r)
        # exactly the 3 updated hours change; the rewritten file's
        # carried-over rows cancel in the exceptAll
        ins = sorted((r["ts"], r["value"]) for r in by_type["insert"])
        del_ = sorted((r["ts"], r["value"]) for r in by_type["delete"])
        assert len(ins) == 3 and len(del_) == 3
        assert all(v == 9.0 for _, v in ins)
        assert all(v == 1.0 for _, v in del_)
        assert [t for t, _ in ins] == [t for t, _ in del_]

    def test_pure_insert_and_bounds_validation(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="cdf2")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "b"}, hourly("2024-02-01", 24, value=2.0))
        ch = st.changes_between(v1)
        rows = ch.collect()
        assert all(r["_change_type"] == "insert" for r in rows)
        assert {r["site"] for r in rows} == {"b"}
        assert len(rows) == 24 * 29  # b's dense Feb chunk
        assert st.changes_between(v1, v1).count() == 0
        with pytest.raises(ValueError, match="not a committed log version"):
            st.changes_between(99)


class TestChangesBetweenHardening:
    def test_inverted_range_raises(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="inv")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3))
        st.set_ts({"site": "b"}, hourly("2024-01-01", 3))
        v = st._txlog.snapshot().version
        with pytest.raises(ValueError, match="inverted version range"):
            st.changes_between(v, v - 1)


class TestViewVacuumGuard:
    def test_vacuum_refused_on_time_travel_views(self, spark, tmpdir):
        import pandas as _pd

        from holcstore_spark.sources.attr_store import AttrStore
        from holcstore_spark.sources.kv_store import KeyValueStore

        st = acid_store(spark, tmpdir, name="vg")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3))
        v = st._txlog.snapshot().version
        with pytest.raises(ValueError, match="vacuum refused"):
            st.time_travel(v).vacuum(0)
        kv = KeyValueStore(spark, os.path.join(tmpdir, "vgkv"))
        s = _pd.Series([1.0], index=_pd.date_range("2024-01-01", periods=1,
                                                   freq="1D", tz="UTC"))
        kv.max_edge_rows = 123456
        kv.set_lc("p", s, client_id=1)
        view = kv.time_travel(kv._txlog.snapshot().version)
        assert view.max_edge_rows == 123456  # instance overrides carried
        with pytest.raises(ValueError, match="vacuum refused"):
            view.vacuum(0)
        at = AttrStore(spark, os.path.join(tmpdir, "vgat"), keys=("k",))
        at.set_ts({"k": "x"}, _pd.Series(
            [1.0], index=_pd.date_range("2024-01-01", periods=1, freq="1h",
                                        tz="UTC")))
        with pytest.raises(ValueError, match="vacuum refused"):
            at.time_travel(at._txlog.snapshot().version).vacuum(0)


class TestCdfComposition:
    def test_consecutive_intervals_reconstruct_physical_table(
        self, spark, tmpdir
    ):
        """Changelog invariant: applying changes_between(0, v1) then
        changes_between(v1, head) as multiset retract/upsert must equal
        the physical table — across updates, tombstone deletes, and a
        compaction rewrite."""
        st = acid_store(spark, tmpdir, name="comp")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        st.set_ts({"site": "b"}, hourly("2024-01-01", 24, value=2.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01 03:00", 2, value=9.0),
                  update=True)
        st.delete({"site": "b"})   # tombstone (meta-only)
        st.compact()               # physical rewrite
        head = st._txlog.snapshot().version
        cols = ["site", "ts", "value", "chunk_index"]

        def apply(state, batch):
            ins = batch.filter("_change_type = 'insert'").select(*cols)
            dels = batch.filter("_change_type = 'delete'").select(*cols)
            return state.unionByName(ins).exceptAll(dels)

        state = spark.createDataFrame([], st.changes_between(0, v1)
                                      .drop("_change_type").schema)
        state = apply(state, st.changes_between(0, v1))
        state = apply(state, st.changes_between(v1, head))
        got = sorted(map(tuple, state.collect()))
        want = sorted(map(tuple, st.data().select(*cols).collect()))
        assert got == want

# ---------------------------------------------------------------------------
# round 9: StaleBaseError retry budget, provenance chain walk, compacting
# change-feed skip, restore(), orphan-sidecar vacuum, key-type probing
# ---------------------------------------------------------------------------


def _uentry(path, cmin=None, cmax=None, rows=1):
    return {"path": path, "rows": rows, "chunk_min": cmin, "chunk_max": cmax}


class TestStaleBaseRetryBudget:
    """ADVICE r8 medium: a StaleBaseError must propagate out of
    _commit_txn WITHOUT consuming the compaction-undo retry — retrying
    the same stale base is deterministically futile, and the undone
    compaction would be dropped for nothing."""

    def test_stale_base_propagates_without_retry(self, spark, tmpdir, monkeypatch):
        from holcstore_spark.sources.chunk_store import StaleBaseError

        st = acid_store(spark, tmpdir, name="sb")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3))
        st.set_ts({"site": "b"}, hourly("2024-01-01", 3))
        st.META_COMPACT_THRESHOLD = 0  # force compaction piggyback
        calls = {"n": 0}

        def fake_commit(self, *a, **k):
            calls["n"] += 1
            raise StaleBaseError("fabricated stale base")

        monkeypatch.setattr(TxLog, "commit", fake_commit)
        with pytest.raises(StaleBaseError):
            st.set_ts({"site": "c"}, hourly("2024-01-01", 3))
        # ONE commit attempt: the compaction-undo retry was NOT spent
        assert calls["n"] == 1

    def test_fresh_rerun_succeeds_and_retry_survives_real_conflict(
        self, spark, tmpdir, monkeypatch
    ):
        st = acid_store(spark, tmpdir, name="sb2")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3))
        st.set_ts({"site": "b"}, hourly("2024-01-01", 3))
        st.META_COMPACT_THRESHOLD = 0
        calls = {"n": 0}
        orig = TxLog.commit

        def flaky_commit(self, *a, **k):
            calls["n"] += 1
            if calls["n"] == 1:
                # a genuine (non-stale) conflict: the compaction-undo
                # retry IS the right reaction and must still fire
                raise ConcurrentWriteError("fabricated conflict")
            return orig(self, *a, **k)

        monkeypatch.setattr(TxLog, "commit", flaky_commit)
        st.set_ts({"site": "c"}, hourly("2024-01-01", 3))
        assert calls["n"] == 2  # first raised, undo-retry landed
        monkeypatch.setattr(TxLog, "commit", orig)
        st.refresh()
        assert st.get_ts({"site": "c"}) is not None


class TestProvenanceChainWalk:
    """VERDICT r8 #3: the checkpoint-provenance membership walk
    (txlog._checkpoint_observed) guards against silently-lost writes —
    its chain/back-out branches need direct coverage."""

    def _chained_log(self, tmpdir, interval=4, n=8):
        log = TxLog(os.path.join(tmpdir, "chain"))
        log.CHECKPOINT_INTERVAL = interval  # instance attr
        for i in range(1, n + 1):
            log.commit(i - 1, "w", i,
                       adds={"data": [_uentry(f"files/u{i}/p.parquet", i, i)]},
                       removes={})
        return log

    def test_observed_two_checkpoints_up_the_chain(self, tmpdir):
        log = self._chained_log(tmpdir)  # checkpoints at 4 and 8
        assert log._latest_checkpoint(fresh=True) == 8
        rec2 = log.read(2)
        # record 2 is summarized by checkpoint 4; checkpoint 8's replay
        # starts at base=4 — the walk must follow the base link and
        # find (2, rid) in checkpoint 4's provenance
        assert log._checkpoint_observed(8, rec2, 2) is True

    def test_commit_absent_from_chain_is_not_observed(self, tmpdir):
        log = self._chained_log(tmpdir)
        ghost = {"rid": "feedfacefeedface",
                 "adds": {"data": [], "meta": []},
                 "removes": {"data": [], "meta": []}}
        assert log._checkpoint_observed(8, ghost, 2) is False

    def test_corrupt_checkpoint_base_is_not_observed_not_a_crash(self, tmpdir):
        log = self._chained_log(tmpdir)
        snap = log.snapshot(as_of=8)
        snap.base_checkpoint = "bogus"  # corrupt link
        snap.replay_chain = ()          # force the walk to follow base
        log._write_checkpoint(8, snap)
        rec2 = log.read(2)
        # ADVICE r8: must return False (safe direction), not TypeError
        assert log._checkpoint_observed(8, rec2, 2) is False

    def test_unobserved_commit_backed_out_exactly_once(self, tmpdir, monkeypatch):
        from holcstore_spark.sources.chunk_store import StaleBaseError
        from holcstore_spark.sources.txlog import Snapshot

        log = TxLog(os.path.join(tmpdir, "backout"))
        # fabricate a post-link horizon: a checkpoint at 5 that never
        # replayed our record (recycled-slot world)
        log._write_checkpoint(5, Snapshot(5, {"data": [], "meta": []}, 1))
        orig = TxLog._latest_checkpoint

        def fake(self, as_of=None, listing=None, fresh=False):
            if fresh:
                return 5       # only the POST-link re-check sees it
            return None        # pre-link floor: clean

        monkeypatch.setattr(TxLog, "_latest_checkpoint", fake)
        with pytest.raises(StaleBaseError, match="recycled"):
            log.commit(0, "w", 1,
                       adds={"data": [_uentry("files/x/p.parquet", 1, 1)]},
                       removes={})
        # the record was backed out (removed) — exactly once, leaving
        # no invisible commit below the horizon
        assert not os.path.exists(log._rec_path(1))
        monkeypatch.setattr(TxLog, "_latest_checkpoint", orig)


class TestPruneRetainsYoungCheckpoints:
    def test_prune_keeps_young_chain_links(self, tmpdir):
        log = TxLog(os.path.join(tmpdir, "ret"))
        log.CHECKPOINT_INTERVAL = 4
        for i in range(1, 9):
            log.commit(i - 1, "w", i,
                       adds={"data": [_uentry(f"files/r{i}/p.parquet", i, i)]},
                       removes={})
        assert os.path.exists(log._checkpoint_path_pq(4))
        log.prune_log()
        # ADVICE r8 low: the superseded checkpoint 4 is a chain link a
        # racing writer's provenance walk may still need — young links
        # survive the prune
        assert os.path.exists(log._checkpoint_path_pq(4))
        # aged out, it goes
        old = __import__("time").time() - log.CHECKPOINT_RETENTION_SECONDS - 60
        os.utime(log._checkpoint_path_pq(4), (old, old))
        log.prune_log()
        assert not os.path.exists(log._checkpoint_path_pq(4))


class TestCompactingChangeFeedSkip:
    """VERDICT r8 #4: row-preserving rewrites (compact without
    tombstones) are marked `compacting` and skipped at MANIFEST level by
    the change feed — Delta's dataChange=false analogue."""

    def test_pure_compact_marked_and_skipped(self, spark, tmpdir):
        from holcstore_spark.sources.txlog import rewind_compacting

        st = acid_store(spark, tmpdir, name="cmk")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        st.set_ts({"site": "b"}, hourly("2024-01-01", 24, value=2.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01 03:00", 2, value=9.0),
                  update=True)
        v_up = st._txlog.snapshot().version
        st.compact()  # no tombstones: row-preserving
        head = st._txlog.snapshot().version
        log = st._txlog
        assert log.read(head)["compacting"] is True
        # manifest-level: substituting the compaction out leaves exactly
        # the update commit's file churn in the interval diff
        moves = log.compacting_data_moves(v1, head)
        assert moves and moves[-1]["version"] == head
        paths_from = {e["path"] for e in log.snapshot(as_of=v1).files["data"]}
        paths_to = {e["path"] for e in log.snapshot(as_of=head).files["data"]}
        eff = rewind_compacting(paths_to, moves)
        up_adds = {e["path"] for e in log.read(v_up)["adds"]["data"]}
        assert (eff - paths_from) <= up_adds
        assert not (eff & {e["path"] for e in log.read(head)["adds"]["data"]})
        # and the row-level feed across the compaction is just the update
        ch = st.changes_between(v1, head).collect()
        by = {}
        for r in ch:
            by.setdefault(r["_change_type"], []).append((r["ts"], r["value"]))
        assert len(by["insert"]) == 2 and all(v == 9.0 for _, v in by["insert"])
        assert len(by["delete"]) == 2 and all(v == 1.0 for _, v in by["delete"])

    def test_compact_dropping_tombstones_not_marked(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="cmt")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        st.set_ts({"site": "b"}, hourly("2024-01-01", 24, value=2.0))
        v1 = st._txlog.snapshot().version
        st.delete({"site": "b"})  # tombstone (meta-only)
        st.compact()              # physically drops b's rows
        head = st._txlog.snapshot().version
        assert st._txlog.read(head)["compacting"] is False
        ch = st.changes_between(v1, head)
        dels = ch.filter("_change_type = 'delete'").collect()
        assert {r["site"] for r in dels} == {"b"}
        # the physical delta: b's whole dense January chunk (24 values +
        # NaN grid padding — the documented physical-data contract)
        assert len(dels) == 744
        assert sum(1 for r in dels if r["value"] == 2.0) == 24
        assert ch.filter("_change_type = 'insert'").count() == 0

    def test_composition_invariant_through_pure_compaction(self, spark, tmpdir):
        """The r7 composition invariant, with a ROW-PRESERVING (skipped)
        compaction in the middle of the second interval — consecutive
        intervals applied via the library ``apply_changes`` must still
        reconstruct the physical table exactly."""
        from holcstore_spark.streaming.cdf_source import apply_changes

        st = acid_store(spark, tmpdir, name="cmp9")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        st.set_ts({"site": "b"}, hourly("2024-01-01", 24, value=2.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01 03:00", 2, value=9.0),
                  update=True)
        st.compact()  # pure: no tombstones — marked compacting, skipped
        st.set_ts({"site": "c"}, hourly("2024-02-01", 24, value=3.0))
        head = st._txlog.snapshot().version
        cols = ["site", "ts", "value", "chunk_index"]
        state = spark.createDataFrame(
            [], st.changes_between(0, v1).drop("_change_type").schema)
        state = apply_changes(state, st.changes_between(0, v1))
        state = apply_changes(state, st.changes_between(v1, head))
        got = sorted(map(tuple, state.select(*cols).collect()))
        want = sorted(map(tuple, st.data().select(*cols).collect()))
        assert got == want


class TestNetApplyChanges:
    def test_net_cancels_matched_pairs_multiset(self, spark):
        from holcstore_spark.streaming.cdf_source import (
            apply_changes,
            net_changes,
        )

        rows = [
            # matched no-op pair (bystander echo) — cancels
            ("a", 1.0, "insert"), ("a", 1.0, "delete"),
            # duplicate physical rows cancel K-at-a-time: 2 ins, 1 del
            ("b", 2.0, "insert"), ("b", 2.0, "insert"), ("b", 2.0, "delete"),
            # plain insert / plain delete survive
            ("c", 3.0, "insert"), ("d", 4.0, "delete"),
        ]
        feed = spark.createDataFrame(rows, "k string, v double, _change_type string")
        net = sorted(map(tuple, net_changes(feed).collect()))
        assert net == [("b", 2.0, "insert"), ("c", 3.0, "insert"),
                       ("d", 4.0, "delete")]
        # target consistent with the feed (deletes retract existing
        # rows): raw and netted application must agree exactly
        target = spark.createDataFrame(
            [("a", 1.0), ("b", 2.0), ("d", 4.0)], "k string, v double")
        applied_raw = sorted(map(tuple, apply_changes(target, feed).collect()))
        applied_net = sorted(
            map(tuple, apply_changes(target, net_changes(feed)).collect()))
        assert applied_raw == applied_net == [
            ("a", 1.0), ("b", 2.0), ("b", 2.0), ("c", 3.0)]


class TestRestore:
    def test_restore_chunk_store_roundtrip(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="rst")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "b"}, hourly("2024-02-01", 24, value=2.0))
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=7.0),
                  replace=True)
        v_new = st.restore(v1)
        assert v_new > v1
        st.refresh()
        assert st.get_ts({"site": "b"}) is None
        got = st.get_ts({"site": "a"})
        assert (got == 1.0).all() and len(got) == 24
        # reads equal the as-of view
        asof = st.time_travel(v1)
        want = sorted(map(tuple, asof.data().collect()))
        assert sorted(map(tuple, st.data().collect())) == want
        # history shows the restore as its own commit
        top = st.history().collect()[0]
        assert top["version"] == v_new and f"restore({v1})" in top["op"]
        # the undone versions are still time-travelable (until vacuum)
        assert st.time_travel(v_new - 1).get_ts({"site": "b"}) is not None

    def test_restore_refusals(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="rst2")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        v1 = st._txlog.snapshot().version
        with pytest.raises(ValueError, match="not a committed log version"):
            st.restore(99)
        with pytest.raises(ValueError, match="read-only"):
            st.time_travel(v1).restore(v1)

    def test_restore_refused_when_files_vacuumed(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="rst3")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        st.vacuum(retention_seconds=0)  # reclaims v1's superseded files
        with pytest.raises(ValueError, match="vacuumed"):
            st.restore(v1)

    def test_restore_kv_and_attr(self, spark, tmpdir):
        import pandas as _pd

        from holcstore_spark.sources.attr_store import AttrStore
        from holcstore_spark.sources.kv_store import KeyValueStore

        kv = KeyValueStore(spark, os.path.join(tmpdir, "rkv"))
        s = _pd.Series([1.0], index=_pd.date_range("2024-01-01", periods=1,
                                                   freq="1h", tz="UTC"))
        kv.set_lc("p1", s, client_id=1)
        v1 = kv._txlog.snapshot().version
        kv.set_lc("p2", s * 2, client_id=1)
        kv.restore(v1)
        assert not kv.get_lc("p2", client_id=1)
        assert kv.get_lc("p1", client_id=1)
        at = AttrStore(spark, os.path.join(tmpdir, "rat"),
                       keys=("k",))
        at.set_ts({"k": "x"}, s)
        va = at._txlog.snapshot().version
        at.set_ts({"k": "y"}, s * 3)
        at.restore(va)
        assert not at.get_ts({"k": "y"})
        assert len(at.get_ts({"k": "x"}))


class TestVacuumOrphanSidecars:
    """VERDICT r8 #8: the default vacuum must be manifest-driven —
    O(orphans) sidecar reads, never an O(all staged dirs) walk."""

    def test_default_vacuum_never_lists_staging_dirs(
        self, spark, tmpdir, monkeypatch
    ):
        import os as _os

        st = acid_store(spark, tmpdir, name="vo")
        # many LIVE staging dirs (the 100 TB analogue: millions) …
        for i in range(5):
            st.set_ts({"site": f"s{i}"}, hourly("2024-01-01", 3, value=1.0))
        # … and ONE superseding rewrite producing the only orphans
        st.set_ts({"site": "s0"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        files_root = os.path.join(st.path, "files")
        n_dirs = len(_os.listdir(files_root))
        assert n_dirs >= 10  # data+meta staging dirs per commit
        listed = []
        real_listdir = _os.listdir

        def spy(p="."):
            listed.append(str(p))
            return real_listdir(p)

        monkeypatch.setattr(_os, "listdir", spy)
        n = st.vacuum(retention_seconds=0)
        monkeypatch.setattr(_os, "listdir", real_listdir)
        assert n >= 1  # the replaced generation was reclaimed
        froot = os.path.abspath(files_root)
        # the staging ROOT is never enumerated (that listing is what
        # grows with store age) …
        assert froot not in [os.path.abspath(p) for p in listed]
        inside = [p for p in listed
                  if os.path.abspath(p).startswith(froot + os.sep)]
        # … and only the dirs the sidecars pointed into are touched:
        # O(orphans), not O(all staged dirs)
        assert len(inside) < n_dirs / 2, inside
        st.refresh()
        assert (st.get_ts({"site": "s0"}) == 2.0).all()

    def test_deep_sweep_catches_unnoted_orphans(self, spark, tmpdir):
        import time as _time

        st = acid_store(spark, tmpdir, name="vo2")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3))
        # a kill-9-style orphan: staged dir, no sidecar ever written
        d = os.path.join(st.path, "files", "deadbeefdeadbeef")
        os.makedirs(d)
        orphan = os.path.join(d, "part-0.parquet")
        with open(orphan, "wb") as f:
            f.write(b"x")
        old = _time.time() - 7200
        os.utime(orphan, (old, old))
        st.vacuum(retention_seconds=0)          # default: sidecars only
        assert os.path.exists(orphan)
        st.vacuum(retention_seconds=0, deep=True)
        assert not os.path.exists(orphan)
        assert not os.path.exists(d)


class TestKeyTypeProbe:
    """ADVICE r7 medium / VERDICT r8 #6: undeclared key_types must not
    default the change-feed schema to string — the written parquet type
    is the truth."""

    def test_int_keyed_store_without_key_types(self, spark, tmpdir):
        import json as _json

        from holcstore_spark.sources.chunk_store import (
            data_schema_from_config,
        )

        # a store whose files hold LONG keys but whose frozen config
        # carries no key_types (created by an API user who never
        # declared them): write declared, then drop the declaration —
        # the footer, not a string default, must drive the feed schema
        path = os.path.join(tmpdir, "ik")
        decl = ChunkStoreConfig(keys=("uid",), freq="1h", tz="UTC",
                                chunk_axis=("year", "month"),
                                key_types={"uid": "int"})
        st0 = ChunkStore(spark, path, decl)
        st0.set_ts({"uid": 42}, hourly("2024-01-01", 24, value=1.0))
        cfgf = os.path.join(path, "_store_config.json")
        with open(cfgf) as f:
            raw = _json.load(f)
        raw["key_types"] = {}
        with open(cfgf, "w") as f:
            f.write(_json.dumps(raw))
        cfg = ChunkStoreConfig(keys=("uid",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"))
        st = ChunkStore(spark, path, cfg)
        # module-level derivation (the streaming CDC source's path)
        sch = data_schema_from_config(st.config, st.path)
        assert sch["uid"].dataType.typeName() == "long"
        # instance read paths agree
        assert dict(st.data().dtypes)["uid"] == "bigint"
        ch = st.changes_between(0).collect()
        assert {r["uid"] for r in ch} == {42}
        # and the streaming source derives the same schema
        from holcstore_spark.streaming.cdf_source import _data_schema_for

        s2 = _data_schema_for(st.path)
        assert s2["uid"].dataType.typeName() == "long"

    def test_empty_store_refuses_change_feed_schema(self, spark, tmpdir):
        from holcstore_spark.sources.chunk_store import (
            data_schema_from_config,
        )

        cfg = ChunkStoreConfig(keys=("uid",), freq="1h", tz="UTC",
                               chunk_axis=("year",))
        st = ChunkStore(spark, os.path.join(tmpdir, "ek"), cfg)
        with pytest.raises(ValueError, match="declare key_types"):
            data_schema_from_config(st.config, st.path)


class TestMaxHorodatesDivergenceGuard:
    def test_meta_claiming_unbacked_chunk_raises_loudly(self, spark, tmpdir):
        # fabricate the divergence the dense-grid invariant forbids:
        # remove a key's data files from the manifest while its meta
        # still claims the chunk — the grouped aggregate must raise, not
        # silently drop the key (VERDICT r7/r8 accepted-risk note)
        st = acid_store(spark, tmpdir, name="div")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24))
        st.set_ts({"site": "b"}, hourly("2024-03-01", 24))
        assert st.get_max_horodates().count() == 2  # healthy store
        log = st._txlog
        snap = log.snapshot()
        mar = 2024 * 12 + 2
        doomed = [e for e in snap.files["data"]
                  if e.get("chunk_min") is not None and e["chunk_min"] >= mar]
        assert doomed
        log.commit(snap.version, "corrupt", TxLog.next_op_id(snap),
                   adds={}, removes={"data": doomed}, touched="all")
        st.refresh()
        with pytest.raises(RuntimeError, match="meta/data divergence"):
            st.get_max_horodates().count()


class TestRewindCompactingFallback:
    def test_partially_rewritten_compaction_left_in_place(self):
        from holcstore_spark.sources.txlog import rewind_compacting

        # compaction c: {f1,f2} -> {g}; later a copy-on-write rewrote g
        # into h, so g is gone from the endpoint — the substitution is
        # unsafe (part of the compacted rows changed) and must be skipped
        moves = [{"version": 5, "adds": {"g"}, "removes": {"f1", "f2"}}]
        assert rewind_compacting({"h"}, moves) == {"h"}
        # intact compaction output substitutes back
        assert rewind_compacting({"g", "x"}, moves) == {"f1", "f2", "x"}
        # chained compactions unwind newest-first
        moves2 = moves + [{"version": 9, "adds": {"k"}, "removes": {"g"}}]
        assert rewind_compacting({"k"}, moves2) == {"f1", "f2"}

    def test_feed_correct_when_compaction_output_rewritten(self, spark, tmpdir):
        # end-to-end fallback: compact, then UPDATE the compacted file —
        # the feed cannot skip the compaction (its output is gone) and
        # must still produce the exact row-level delta via cancellation
        st = acid_store(spark, tmpdir, name="rwf")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        v1 = st._txlog.snapshot().version
        st.compact()  # marked compacting
        st.set_ts({"site": "a"}, hourly("2024-01-01 05:00", 2, value=8.0),
                  update=True)  # rewrites the compacted January file
        head = st._txlog.snapshot().version
        ch = st.changes_between(v1, head).collect()
        by = {}
        for r in ch:
            by.setdefault(r["_change_type"], []).append((r["ts"], r["value"]))
        assert len(by["insert"]) == 2 and all(v == 8.0 for _, v in by["insert"])
        assert len(by["delete"]) == 2 and all(v == 1.0 for _, v in by["delete"])


class TestCompactConcurrency:
    def test_row_preserving_compact_commutes_with_pure_append(
        self, spark, tmpdir, monkeypatch
    ):
        """A row-preserving compact() rebases over a PURE APPEND landing
        inside its stage→commit window (Delta's OPTIMIZE-tolerates-
        appends): BOTH commits survive — without this, background
        compaction starves under continuous ingest."""
        import holcstore_spark.sources.chunk_store as cs_mod

        a = acid_store(spark, tmpdir, name="cc")
        b = ChunkStore(spark, a.path, a.config)
        a.set_ts({"site": "x"}, hourly("2024-01-01", 24, value=1.0))
        orig = cs_mod.ChunkStore._stage_into_txn
        state = {"fired": False}

        def inject(self_, sdf, table):
            orig(self_, sdf, table)
            if self_ is a and not state["fired"] and table == "meta":
                state["fired"] = True
                b.set_ts({"site": "y"}, hourly("2024-01-01", 24, value=2.0))

        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", inject)
        a.compact()  # lands despite the interleaved append
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", orig)
        assert state["fired"]
        a.refresh()
        head = a._txlog.snapshot().version
        rec = a._txlog.read(head)
        assert rec["compacting"] is True and "compact" in rec["op"]
        assert (a.get_ts({"site": "x"}) == 1.0).all()  # compacted rows
        assert (a.get_ts({"site": "y"}) == 2.0).all()  # appended rows

    def test_compact_still_conflicts_with_interleaved_rewrite(
        self, spark, tmpdir, monkeypatch
    ):
        """An interleaved UPDATE rewrites base files the compaction also
        removes — path intersection must still fail the compaction
        loudly, and the update's rows must survive untouched."""
        import holcstore_spark.sources.chunk_store as cs_mod

        a = acid_store(spark, tmpdir, name="cc2")
        b = ChunkStore(spark, a.path, a.config)
        a.set_ts({"site": "x"}, hourly("2024-01-01", 24, value=1.0))
        orig = cs_mod.ChunkStore._stage_into_txn
        state = {"fired": False}

        def inject(self_, sdf, table):
            orig(self_, sdf, table)
            if self_ is a and not state["fired"] and table == "meta":
                state["fired"] = True
                b.set_ts({"site": "x"},
                         hourly("2024-01-01 03:00", 2, value=9.0),
                         update=True)

        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", inject)
        with pytest.raises(ConcurrentWriteError):
            a.compact()
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", orig)
        assert state["fired"]
        a.refresh()
        got = a.get_ts({"site": "x"})
        assert (got.iloc[3:5] == 9.0).all() and (got.iloc[:3] == 1.0).all()
        a.compact()  # clean re-run lands
        assert a._txlog.read(a._txlog.snapshot().version)["compacting"] is True

    def test_tombstone_delete_commutes_with_compact(
        self, spark, tmpdir, monkeypatch
    ):
        """A tombstone delete is a pure META append — it commutes with a
        row-preserving compact: both land, reads hide the deleted series
        immediately (tombstone outranks the compacted data via op_id),
        and the NEXT compact drops its rows physically."""
        import holcstore_spark.sources.chunk_store as cs_mod

        a = acid_store(spark, tmpdir, name="cc3")
        b = ChunkStore(spark, a.path, a.config)
        a.set_ts({"site": "x"}, hourly("2024-01-01", 24, value=1.0))
        a.set_ts({"site": "z"}, hourly("2024-01-01", 24, value=3.0))
        orig = cs_mod.ChunkStore._stage_into_txn
        state = {"fired": False}

        def inject(self_, sdf, table):
            orig(self_, sdf, table)
            if self_ is a and not state["fired"] and table == "meta":
                state["fired"] = True
                assert b.delete({"site": "z"}) == 1  # tombstone, meta-only

        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", inject)
        a.compact()  # lands despite the interleaved tombstone
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", orig)
        assert state["fired"]
        a.refresh()
        assert a.get_ts({"site": "z"}) is None       # tombstone visible
        assert (a.get_ts({"site": "x"}) == 1.0).all()
        # z's rows physically linger from the raced compact …
        n_phys = a.data().filter("site = 'z'").count()
        assert n_phys == 744
        # … until the next compact (which, dropping them, is NOT marked
        # row-preserving)
        a.compact()
        assert a.data().filter("site = 'z'").count() == 0
        assert a._txlog.read(a._txlog.snapshot().version)["compacting"] is False


class TestReviewFindingsRound9:
    """Regressions for the round-9 code-review findings."""

    def test_feed_survives_vacuum_of_precompaction_files(self, spark, tmpdir):
        # review #1: compact() then vacuum() deletes the pre-compaction
        # files; a feed from an old version must NOT substitute those
        # dead paths back into its read set — it reads the live
        # compacted file instead (skip skipped, still correct)
        st = acid_store(spark, tmpdir, name="rvs")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=1.0))
        st.compact()
        head = st._txlog.snapshot().version
        assert st._txlog.read(head)["compacting"] is True
        st.vacuum(retention_seconds=0)
        ch = st.changes_between(0).collect()  # crashed before the fix
        ins = [r for r in ch if r["_change_type"] == "insert"]
        assert len(ins) == 744  # the full dense January chunk
        assert not [r for r in ch if r["_change_type"] == "delete"]
        assert sum(1 for r in ins if r["value"] == 1.0) == 24

    def test_restore_raced_by_vacuum_is_undone_loudly(
        self, spark, tmpdir, monkeypatch
    ):
        # review #3: simulate a vacuum deleting the re-referenced files
        # BETWEEN restore's commit and its post-check — the restore must
        # publish a compensating undo and raise, never leave a table
        # with dangling paths
        import os as _os

        st = acid_store(spark, tmpdir, name="rr9")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        cur = st._txlog.snapshot()
        cur_paths = {e["path"] for t in ("data", "meta") for e in cur.files[t]}
        target_adds = {
            e["path"] for t in ("data", "meta")
            for e in st._txlog.snapshot_exact(v1).files[t]
        } - cur_paths
        assert target_adds
        real_exists = _os.path.exists
        seen: set[str] = set()

        def fake_exists(p):
            hit = next((t for t in target_adds if str(p).endswith(t)), None)
            if hit is None:
                return real_exists(p)
            if hit in seen:
                return False  # "vacuumed" right after the commit
            seen.add(hit)
            return real_exists(p)

        monkeypatch.setattr(_os.path, "exists", fake_exists)
        with pytest.raises(ValueError, match="raced a vacuum"):
            st.restore(v1)
        monkeypatch.setattr(_os.path, "exists", real_exists)
        st.refresh()
        assert (st.get_ts({"site": "a"}) == 2.0).all()  # pre-restore state
        top = st.history().collect()[0]
        assert "restore-undo" in top["op"]

    def test_presidecar_store_migrates_with_one_deep_sweep(self, spark, tmpdir):
        # review #4: a store written before the sidecar scheme has
        # garbage with no sidecars — one deep sweep reclaims it and
        # stamps the marker, after which the default vacuum reads
        # sidecars only (reopening such a store is refused until
        # upgrade_format runs that sweep: tests/test_convert.py)
        st = acid_store(spark, tmpdir, name="mig")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        odir = os.path.join(st.path, "_txlog", "_orphans")
        shutil.rmtree(odir)  # simulate the pre-sidecar layout
        n = st.vacuum(retention_seconds=0, deep=True)
        assert n >= 1                 # the deep sweep found it
        assert os.path.isdir(odir)    # marker: next vacuums are O(orphans)
        assert st.vacuum(retention_seconds=0) == 0
        st.refresh()
        assert (st.get_ts({"site": "a"}) == 2.0).all()



class TestParquetCheckpoints:
    """Round 9: checkpoints write as zstd parquet (typed entry columns +
    one header metadata blob) — ~150× smaller than the JSON they replace
    at large file counts (0.3 MB vs 46 MB at 400k entries), the axis that
    matters on object stores."""

    def test_parquet_checkpoint_roundtrips_exactly(self, tmpdir):
        log = TxLog(os.path.join(tmpdir, "pq"))
        log.CHECKPOINT_INTERVAL = 8
        for i in range(1, 10):
            log.commit(i - 1, "w", i,
                       adds={"data": [_uentry(f"files/p{i}/a.parquet", i, i)]},
                       removes={})
        assert os.path.exists(log._checkpoint_path_pq(8))
        data = log._read_checkpoint(8)
        assert data["version"] == 8 and len(data["replayed"]) == 8
        paths = {e["path"] for e in data["files"]["data"]}
        assert paths == {f"files/p{i}/a.parquet" for i in range(1, 9)}
        # entries keep their stats through the typed columns
        e = sorted(data["files"]["data"], key=lambda x: x["path"])[0]
        assert e["chunk_min"] == 1 and e["rows"] == 1
        # and a cold snapshot replay off the parquet checkpoint is exact
        cold = TxLog(log.root).snapshot()
        assert cold.version == 9 and len(cold.files["data"]) == 9


class TestParquetCheckpointHardening:
    """Round-9 second review pass: checkpoint decode errors must stay
    inside the documented contract, transient I/O must not read as
    'not observed', odd-typed entries must round-trip, and a checkpoint
    write failure must never fail the already-durable commit."""

    def _log(self, tmpdir, n=9, interval=8):
        log = TxLog(os.path.join(tmpdir, "h"))
        log.CHECKPOINT_INTERVAL = interval
        for i in range(1, n + 1):
            log.commit(i - 1, "w", i,
                       adds={"data": [_uentry(f"files/h{i}/a.parquet", i, i)]},
                       removes={})
        return log

    def test_transient_io_error_propagates_not_unobserved(
        self, tmpdir, monkeypatch
    ):
        import pyarrow.parquet as pqm

        log = self._log(tmpdir)
        rec2 = log.read(2) if os.path.exists(log._rec_path(2)) else None
        assert rec2 is not None

        def eio(*a, **k):
            raise PermissionError("transient EACCES")

        monkeypatch.setattr(pqm, "read_schema", eio)
        # a momentary I/O failure must NOT answer 'not observed' (that
        # backs out a durable commit) — it propagates loudly
        with pytest.raises(PermissionError):
            log._checkpoint_observed(8, rec2, 2)

    def test_truncated_checkpoint_footer_raises_corrupt_not_race(
        self, tmpdir, monkeypatch
    ):
        # a checkpoint that stays undecodable after a fresh re-list is
        # corrupt: its error names the file, it is not retried as a
        # prune/checkpoint race
        import re

        from holcstore_spark.sources.txlog import CheckpointCorrupt

        log = self._log(tmpdir)
        path = log._checkpoint_path_pq(8)
        with open(path, "r+b") as f:
            f.truncate(os.path.getsize(path) - 10)
        calls = []
        real = TxLog._read_checkpoint
        monkeypatch.setattr(
            TxLog, "_read_checkpoint",
            lambda self, v: calls.append(v) or real(self, v),
        )
        with pytest.raises(CheckpointCorrupt, match=re.escape(path)):
            TxLog(log.root).snapshot()
        assert calls == [8, 8]  # one fresh re-list, then raised as-is

    def test_foreign_parquet_checkpoint_is_corrupt_not_keyerror(self, tmpdir):
        import pyarrow as pa
        import pyarrow.parquet as pqm

        from holcstore_spark.sources.txlog import CheckpointCorrupt

        log = self._log(tmpdir)
        # overwrite checkpoint 8 with a VALID parquet of the wrong shape
        pqm.write_table(pa.table({"x": pa.array([1, 2])}),
                        log._checkpoint_path_pq(8))
        with pytest.raises(CheckpointCorrupt):
            log._read_checkpoint(8)
        rec2 = log.read(2) if os.path.exists(log._rec_path(2)) else None
        # the walk answers the safe 'not observed', never KeyError
        assert log._checkpoint_observed(8, rec2, 2) is False

    def test_odd_typed_entries_roundtrip_losslessly(self, tmpdir):
        log = TxLog(os.path.join(tmpdir, "odd"))
        weird = [
            {"path": "files/w/a.parquet", "rows": True,
             "chunk_min": 1, "chunk_max": 1},
            {"path": "files/w/b.parquet", "rows": "8760",
             "chunk_min": 2, "chunk_max": 2},
            {"path": "files/w/c.parquet", "rows": 5,
             "chunk_min": 3, "chunk_max": 10.9},
        ]
        log.commit(0, "w", 1, adds={"data": weird}, removes={})
        snap = log.snapshot()
        log._write_checkpoint(77, snap)  # must not raise ArrowTypeError
        got = {e["path"]: e for e in log._read_checkpoint(77)["files"]["data"]}
        assert got["files/w/a.parquet"]["rows"] is True
        assert got["files/w/b.parquet"]["rows"] == "8760"
        assert got["files/w/c.parquet"]["chunk_max"] == 10.9  # no truncation

    def test_checkpoint_write_failure_never_fails_the_commit(
        self, tmpdir, monkeypatch
    ):
        log = TxLog(os.path.join(tmpdir, "bf"))
        log.CHECKPOINT_INTERVAL = 2

        def boom(*a, **k):
            raise OSError("disk full")

        monkeypatch.setattr(TxLog, "_write_checkpoint", boom)
        with pytest.warns(RuntimeWarning, match="checkpoint at version 2"):
            v = log.commit(1 if False else 0, "w", 1,
                           adds={"data": [_uentry("files/b1/a.parquet", 1, 1)]},
                           removes={}) and None
            v = log.commit(1, "w", 2,
                           adds={"data": [_uentry("files/b2/a.parquet", 2, 2)]},
                           removes={})
        assert v == 2  # the commit stood despite the failed checkpoint
        snap = TxLog(log.root).snapshot()
        assert snap.version == 2 and len(snap.files["data"]) == 2


class TestRound10AdviceFixes:
    """ADVICE r9: orphan-sidecar retention aggregation, migration marker,
    compacting stats-None guard, key-type probe accumulation, restore-undo
    retry."""

    def test_stale_sidecar_does_not_bypass_retention(self, spark, tmpdir):
        # medium: a path noted dead long ago (failed attempt), re-landed
        # live, then removed AGAIN recently must be protected by the
        # NEWEST note's retention window — the expired old sidecar alone
        # must not delete it while time-travel readers still hold it
        import json as _json
        import time as _time

        st = acid_store(spark, tmpdir, name="ret")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        cur = {e["path"] for t in ("data", "meta")
               for e in st._txlog.snapshot().files[t]}
        dead = [e["path"] for t in ("data", "meta")
                for e in st._txlog.snapshot_exact(v1).files[t]
                if e["path"] not in cur]
        assert dead
        # plant the STALE note: same paths, declared dead two hours ago
        odir = os.path.join(st.path, "_txlog", "_orphans")
        with open(os.path.join(odir, "00stale.json"), "w") as f:
            f.write(_json.dumps({"ts": _time.time() - 7200, "paths": dead}))
        # retention 1h: the stale note is expired, but the rewrite's own
        # fresh note restarts the countdown — nothing may be deleted
        st.vacuum(retention_seconds=3600.0)
        for rel in dead:
            assert os.path.exists(os.path.join(st.path, rel)), rel
        old = st.time_travel(v1)
        assert (old.get_ts({"site": "a"}) == 1.0).all()  # reader survives
        # once the freshest note expires too, the files are reclaimed
        st.vacuum(retention_seconds=0)
        assert not any(
            os.path.exists(os.path.join(st.path, rel)) for rel in dead
        )

    def test_upgraded_store_commit_before_first_vacuum_migrates(
        self, spark, tmpdir
    ):
        # low: note_orphans() creates _orphans/ on a commit; the format
        # check must key on the dedicated .migrated marker, not the
        # dir's existence — and the deep sweep runs in upgrade_format,
        # never silently inside a default vacuum
        import time as _time

        from holcstore_spark import upgrade_format

        st = acid_store(spark, tmpdir, name="upg")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        odir = os.path.join(st.path, "_txlog", "_orphans")
        shutil.rmtree(odir)  # pre-sidecar layout (no marker either)
        # legacy garbage with no sidecar
        d = os.path.join(st.path, "files", "legacyleak000000")
        os.makedirs(d)
        leak = os.path.join(d, "part-0.parquet")
        with open(leak, "wb") as f:
            f.write(b"x")
        old = _time.time() - 7200
        os.utime(leak, (old, old))
        # a commit recreates _orphans/ (without the marker)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        assert os.path.isdir(odir)
        assert not os.path.exists(os.path.join(odir, ".migrated"))
        st.vacuum(retention_seconds=0)  # the default sweep stays shallow
        assert os.path.exists(leak)
        with pytest.raises(ValueError, match="upgrade_format"):
            acid_store(spark, tmpdir, name="upg")
        upgrade_format(st.path)
        assert not os.path.exists(leak)
        assert os.path.exists(os.path.join(odir, ".migrated"))
        st = acid_store(spark, tmpdir, name="upg")
        assert (st.get_ts({"site": "a"}) == 2.0).all()
        # upgraded: the default sweep is sidecars-only
        d2 = os.path.join(st.path, "files", "legacyleak000001")
        os.makedirs(d2)
        leak2 = os.path.join(d2, "part-0.parquet")
        with open(leak2, "wb") as f:
            f.write(b"x")
        os.utime(leak2, (old, old))
        st.vacuum(retention_seconds=0)
        assert os.path.exists(leak2)  # only deep=True reaches it now

    def test_fresh_store_is_born_migrated(self, spark, tmpdir, monkeypatch):
        # a log created by THIS code version has no legacy garbage: it
        # is stamped at creation, and no vacuum walks deep unless asked
        # — not even one whose marker went missing under an open
        # instance (reopening that store is refused instead)
        from holcstore_spark import upgrade_format

        st = acid_store(spark, tmpdir, name="born")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        marker = os.path.join(st.path, "_txlog", "_orphans", ".migrated")
        assert os.path.exists(marker)
        called = []
        monkeypatch.setattr(
            TxLog, "_deep_sweep",
            lambda self, *a, **k: called.append(1) or 0,
        )
        st.vacuum(retention_seconds=0)
        os.remove(marker)
        st.vacuum(retention_seconds=0)
        assert not called
        with pytest.raises(ValueError, match="upgrade_format"):
            acid_store(spark, tmpdir, name="born")
        upgrade_format(st.path)
        assert called == [1] and os.path.exists(marker)
        acid_store(spark, tmpdir, name="born")

    def test_statless_compact_not_marked_compacting(self, spark, tmpdir):
        # low: a fully-tombstoned store whose manifest entries carry
        # rows=None ("stats unavailable") sums to 0 on both sides — the
        # old `or 0` aliasing would mark the tombstone-DROPPING compact
        # as row-preserving and the change feed would skip its deletes
        import json as _json

        st = acid_store(spark, tmpdir, name="nullrows")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        st.delete({"site": "a"})  # tombstone every row
        # simulate imported/hand-built entries: strip the row stats from
        # every data entry in every commit record
        tdir = os.path.join(st.path, "_txlog")
        for f in os.listdir(tdir):
            if not f.endswith(".json") or ".tmp-" in f:
                continue
            p = os.path.join(tdir, f)
            with open(p) as fh:
                rec = _json.load(fh)
            if "adds" not in rec:
                continue
            for e in rec["adds"].get("data", []):
                e["rows"] = None
            with open(p, "w") as fh:
                fh.write(_json.dumps(rec))
        st2 = acid_store(spark, tmpdir, name="nullrows")
        st2.compact()  # drops the tombstoned rows physically
        head = st2._txlog.snapshot().version
        assert st2._txlog.read(head)["compacting"] is False

    def test_probe_accumulates_key_types_across_files(self, tmpdir):
        # low: the first readable file resolving ANY key must not end
        # the probe — a file lacking one key column would otherwise
        # shadow later files that can prove it
        import pyarrow as pa
        import pyarrow.parquet as pq

        from holcstore_spark.sources.chunk_store import (
            probe_key_types_from_manifest,
        )

        root = os.path.join(tmpdir, "probe")
        os.makedirs(os.path.join(root, "files", "d1"))
        os.makedirs(os.path.join(root, "files", "d2"))
        p1 = os.path.join(root, "files", "d1", "a.parquet")
        p2 = os.path.join(root, "files", "d2", "b.parquet")
        # first file lacks `site`; second proves it
        pq.write_table(
            pa.table({"uid": pa.array([1], pa.int64()),
                      "chunk_index": pa.array([0], pa.int64())}), p1)
        pq.write_table(
            pa.table({"uid": pa.array([2], pa.int64()),
                      "site": pa.array(["x"], pa.string()),
                      "chunk_index": pa.array([0], pa.int64())}), p2)
        log = TxLog(root)
        log.commit(0, "w", 1, adds={"data": [
            _uentry("files/d1/a.parquet"), _uentry("files/d2/b.parquet"),
        ]}, removes={})
        got = probe_key_types_from_manifest(root, ["uid", "site"], txlog=log)
        assert got == {"uid": "int", "site": "str"}

    def _arm_vacuum_race(self, st, v1, monkeypatch):
        # delete the restore's re-referenced files right after its commit
        # (the existing r9 pattern): fake os.path.exists
        import os as _os

        cur = st._txlog.snapshot()
        cur_paths = {e["path"] for t in ("data", "meta")
                     for e in cur.files[t]}
        target_adds = {
            e["path"] for t in ("data", "meta")
            for e in st._txlog.snapshot_exact(v1).files[t]
        } - cur_paths
        assert target_adds
        real_exists = _os.path.exists
        seen: set[str] = set()

        def fake_exists(p):
            hit = next((t for t in target_adds if str(p).endswith(t)), None)
            if hit is None:
                return real_exists(p)
            if hit in seen:
                return False
            seen.add(hit)
            return real_exists(p)

        monkeypatch.setattr(_os.path, "exists", fake_exists)
        return real_exists

    def test_restore_undo_retries_through_concurrent_write(
        self, spark, tmpdir, monkeypatch
    ):
        # low: a third writer interleaving with the compensating undo
        # raises ConcurrentWriteError out of it — the undo must rebase
        # and retry, still ending in the loud "raced a vacuum" ValueError
        st = acid_store(spark, tmpdir, name="undoretry")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        self._arm_vacuum_race(st, v1, monkeypatch)
        real_commit = TxLog.commit
        failed = []

        def flaky_commit(self, base_version, op, op_id, adds, removes,
                         **kw):
            if "restore-undo" in op and not failed:
                failed.append(1)
                raise ConcurrentWriteError("interleaved third writer")
            return real_commit(self, base_version, op, op_id, adds,
                               removes, **kw)

        monkeypatch.setattr(TxLog, "commit", flaky_commit)
        with pytest.raises(ValueError, match="raced a vacuum"):
            st.restore(v1)
        assert failed  # the injection actually fired
        monkeypatch.undo()
        st.refresh()
        assert (st.get_ts({"site": "a"}) == 2.0).all()  # pre-restore state
        top = st.history().collect()[0]
        assert "restore-undo" in top["op"]

    def test_restore_undo_terminal_failure_is_explicit(
        self, spark, tmpdir, monkeypatch
    ):
        # low: if the undo can NEVER land, the caller must get an
        # explicit table-now-references-deleted-files error naming the
        # repair — not a bare ConcurrentWriteError
        st = acid_store(spark, tmpdir, name="undodead")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        self._arm_vacuum_race(st, v1, monkeypatch)
        real_commit = TxLog.commit

        def dead_commit(self, base_version, op, op_id, adds, removes,
                        **kw):
            if "restore-undo" in op:
                raise ConcurrentWriteError("永 interleaved")
            return real_commit(self, base_version, op, op_id, adds,
                               removes, **kw)

        monkeypatch.setattr(TxLog, "commit", dead_commit)
        with pytest.raises(RuntimeError, match="compensating undo"):
            st.restore(v1)


class TestRound10ReviewFindings:
    """Regressions for the round-10 code-review findings on the ADVICE
    fixes themselves."""

    def test_restore_undo_preserves_interleaved_rewrite(
        self, spark, tmpdir, monkeypatch
    ):
        # review #1 (behavior revised by ADVICE r10): a third writer
        # rewriting K between the restore commit and the undo must NOT
        # have its durably-acknowledged write silently reverted. Here
        # the rewrite supersedes every dangling reference, so the table
        # is consistent as-is: the undo is SKIPPED, the writer's data
        # survives, and no duplicate generation appears.
        st = acid_store(spark, tmpdir, name="undodup")
        b = ChunkStore(spark, st.path, st.config)
        st.set_ts({"site": "x"}, hourly("2024-01-01", 48, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "x"}, hourly("2024-01-01", 48, value=2.0),
                  replace=True)
        TestRound10AdviceFixes._arm_vacuum_race(
            TestRound10AdviceFixes(), st, v1, monkeypatch)
        real_commit = TxLog.commit
        state = {"fired": False}

        def interleaving_commit(self, base_version, op, op_id, adds,
                                removes, **kw):
            if "restore-undo" in op and not state["fired"]:
                state["fired"] = True
                # a third writer rewrites K between the restore commit
                # and the undo — the undo's first attempt must conflict,
                # and its retry must leave that write intact
                b.set_ts({"site": "x"},
                         hourly("2024-01-01", 48, value=9.0), replace=True)
            return real_commit(self, base_version, op, op_id, adds,
                               removes, **kw)

        monkeypatch.setattr(TxLog, "commit", interleaving_commit)
        with pytest.raises(ValueError, match="rewritten every dangling"):
            st.restore(v1)
        assert state["fired"]
        monkeypatch.undo()
        st.refresh()
        got = st.get_ts({"site": "x"})
        # the interleaved writer's acknowledged write SURVIVES
        assert (got == 9.0).all(), got.unique()
        # no physical duplicates: each grid slot appears exactly once
        dup = (st.alive_data().groupBy("site", "ts").count()
               .filter("count > 1").count())
        assert dup == 0
        # and no undo commit reverted it
        top = st.history().collect()[0]
        assert "restore-undo" not in top["op"]

    def test_restore_undo_folds_interleaved_pure_append(
        self, spark, tmpdir, monkeypatch
    ):
        # ADVICE r10: a concurrent PURE APPEND (new key, no removes)
        # landing between the broken restore and the undo must be folded
        # into the undo target — its files stay live while the restore's
        # swap is reverted
        st = acid_store(spark, tmpdir, name="undofold")
        b = ChunkStore(spark, st.path, st.config)
        st.set_ts({"site": "x"}, hourly("2024-01-01", 48, value=1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "x"}, hourly("2024-01-01", 48, value=2.0),
                  replace=True)
        TestRound10AdviceFixes._arm_vacuum_race(
            TestRound10AdviceFixes(), st, v1, monkeypatch)
        real_commit = TxLog.commit
        state = {"fired": False}

        def interleaving_commit(self, base_version, op, op_id, adds,
                                removes, **kw):
            if "restore-undo" in op and not state["fired"]:
                state["fired"] = True
                b.set_ts({"site": "z"},  # brand-new key: adds only
                         hourly("2024-01-01", 24, value=7.0))
            return real_commit(self, base_version, op, op_id, adds,
                               removes, **kw)

        monkeypatch.setattr(TxLog, "commit", interleaving_commit)
        with pytest.raises(ValueError, match="the restore was undone"):
            st.restore(v1)
        assert state["fired"]
        monkeypatch.undo()
        st.refresh()
        # restore swap reverted: x back to the pre-restore generation
        assert (st.get_ts({"site": "x"}) == 2.0).all()
        # the interleaved append survives the undo
        assert (st.get_ts({"site": "z"}) == 7.0).all()
        dup = (st.alive_data().groupBy("site", "ts").count()
               .filter("count > 1").count())
        assert dup == 0

    def test_restore_undo_refuses_key_overlapping_append(
        self, spark, tmpdir, monkeypatch
    ):
        # review r11: a pure append is only foldable when provably
        # key-DISJOINT from the pre-restore generation the undo
        # re-adds — an interleaved insert of a key INSIDE the re-added
        # files' key range was versioned/existence-checked against the
        # RESTORED generation, and folding it would leave two
        # generations of that key live at once
        st = acid_store(spark, tmpdir, name="undokeyovl")
        b = ChunkStore(spark, st.path, st.config)
        # ONE file spanning keys a..c: the re-added range is [a, c]
        st.set_many_ts({("a",): hourly("2024-01-01", 24, value=1.0),
                        ("c",): hourly("2024-01-01", 24, value=1.5)})
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, value=2.0),
                  replace=True)
        st.set_ts({"site": "c"}, hourly("2024-01-01", 24, value=2.5),
                  replace=True)
        TestRound10AdviceFixes._arm_vacuum_race(
            TestRound10AdviceFixes(), st, v1, monkeypatch)
        real_commit = TxLog.commit
        state = {"fired": False}

        def interleaving_commit(self, base_version, op, op_id, adds,
                                removes, **kw):
            if "restore-undo" in op and not state["fired"]:
                state["fired"] = True
                # "b" sits INSIDE [a, c]: overlap with the re-added
                # pre-restore files cannot be ruled out
                b.set_ts({"site": "b"},
                         hourly("2024-01-01", 24, value=7.0))
            return real_commit(self, base_version, op, op_id, adds,
                               removes, **kw)

        monkeypatch.setattr(TxLog, "commit", interleaving_commit)
        with pytest.raises(RuntimeError, match="key-overlapping append"):
            st.restore(v1)
        assert state["fired"]
        monkeypatch.undo()
        st.refresh()
        # the appended write was NOT reverted, and no undo landed
        assert (st.get_ts({"site": "b"}) == 7.0).all()
        top = st.history().collect()[0]
        assert "restore-undo" not in top["op"]

    def test_entries_may_share_keys_matrix(self):
        from holcstore_spark.sources.txlog import entries_may_share_keys

        a = {"key_stats": {"site": ["a", "c"]}}
        assert entries_may_share_keys(a, {"key_stats": {"site": ["b", "b"]}})
        assert not entries_may_share_keys(
            a, {"key_stats": {"site": ["d", "z"]}})
        # missing stats on either side: conservative
        assert entries_may_share_keys(a, {"key_stats": None})
        assert entries_may_share_keys({}, a)
        # a second disjoint key dimension rules the pair out
        two = {"key_stats": {"site": ["a", "c"], "kind": ["k1", "k1"]}}
        assert not entries_may_share_keys(
            two, {"key_stats": {"site": ["b", "b"], "kind": ["k2", "k2"]}})
        # incomparable types: conservative
        assert entries_may_share_keys(
            a, {"key_stats": {"site": [1, 2]}})

    def test_restore_undo_refuses_on_unfoldable_rewrite(
        self, spark, tmpdir, monkeypatch
    ):
        # ADVICE r10: when a concurrent commit REWROTE keys after the
        # broken restore (removes present) and dangling references
        # remain for OTHER keys, the undo must refuse loudly — naming
        # the commit — instead of force-restoring over that writer's
        # acknowledged data
        st = acid_store(spark, tmpdir, name="undorefuse")
        b = ChunkStore(spark, st.path, st.config)
        st.set_ts({"site": "x"}, hourly("2024-01-01", 48, value=1.0))
        st.set_ts({"site": "y"}, hourly("2024-01-01", 48, value=1.5))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "x"}, hourly("2024-01-01", 48, value=2.0),
                  replace=True)
        st.set_ts({"site": "y"}, hourly("2024-01-01", 48, value=2.5),
                  replace=True)
        TestRound10AdviceFixes._arm_vacuum_race(
            TestRound10AdviceFixes(), st, v1, monkeypatch)
        real_commit = TxLog.commit
        state = {"fired": False}

        def interleaving_commit(self, base_version, op, op_id, adds,
                                removes, **kw):
            if "restore-undo" in op and not state["fired"]:
                state["fired"] = True
                # rewrites x only; y's restored files remain dangling
                b.set_ts({"site": "x"},
                         hourly("2024-01-01", 48, value=9.0), replace=True)
            return real_commit(self, base_version, op, op_id, adds,
                               removes, **kw)

        monkeypatch.setattr(TxLog, "commit", interleaving_commit)
        with pytest.raises(RuntimeError, match="rewrote the table"):
            st.restore(v1)
        assert state["fired"]
        monkeypatch.undo()
        st.refresh()
        # the interleaved writer's data was NOT reverted
        assert (st.get_ts({"site": "x"}) == 9.0).all()
        # no undo commit landed
        top = st.history().collect()[0]
        assert "restore-undo" not in top["op"]

    def test_deep_sweep_notes_young_nested_dir_contents(self, spark, tmpdir):
        # review #2: a YOUNG nested staging dir (writer killed mid-write
        # just before a deep sweep) must have its contents noted as
        # orphans — not silently skipped while .migrated is stamped
        st = acid_store(spark, tmpdir, name="youngdir")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        odir = os.path.join(st.path, "_txlog", "_orphans")
        shutil.rmtree(odir)  # pre-sidecar layout
        nest = os.path.join(st.path, "files", "cafecafecafecafe",
                            "_temporary")
        os.makedirs(nest)
        leak = os.path.join(nest, "part-0.parquet")
        with open(leak, "wb") as f:
            f.write(b"x")
        # fresh mtimes: inside the retention window at sweep time
        st.vacuum(deep=True)  # too young to delete, NOTED
        assert os.path.exists(leak)
        assert os.path.exists(os.path.join(odir, ".migrated"))
        # once the note expires, the DEFAULT sidecar sweep reclaims it
        st.vacuum(retention_seconds=0)
        assert not os.path.exists(leak)

    def test_orphan_sidecars_publish_atomically(self, spark, tmpdir):
        # review #3: sidecars land via tmp+rename (never readable
        # half-written under their final name), and a crashed tmp is
        # reclaimed by the sweep once old
        import time as _time

        st = acid_store(spark, tmpdir, name="atomic")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=2.0),
                  replace=True)
        odir = os.path.join(st.path, "_txlog", "_orphans")
        names = [f for f in os.listdir(odir) if not f.startswith(".")]
        assert names  # the rewrite noted its orphans …
        assert not [f for f in os.listdir(odir) if f.endswith(".tmp")]
        # … and a tmp left by a crash between write and rename is swept
        stale = os.path.join(odir, ".deadbeef.json.tmp")
        with open(stale, "w") as f:
            f.write("{")
        old = _time.time() - 7200
        os.utime(stale, (old, old))
        st.vacuum(retention_seconds=3600)
        assert not os.path.exists(stale)

    def test_probe_partial_result_cached_per_version(self, spark, tmpdir,
                                                     monkeypatch):
        # review #4: an INCOMPLETE probe (empty store / unprovable key)
        # must not re-scan footers on every schema derivation — only a
        # new commit re-probes
        import holcstore_spark.sources.manifest_table as cs_mod

        st = acid_store(spark, tmpdir, name="probecache")
        st.set_ts({"site": "a"}, hourly("2024-01-01", 3, value=1.0))
        st.config.key_types.clear()  # force the probe path
        st._key_type_probe = None
        st._key_type_probe_partial = None
        calls = []
        real = cs_mod.probe_key_types_from_manifest

        def spy(path, keys, txlog=None):
            calls.append(1)
            return {}  # pretend nothing is provable

        monkeypatch.setattr(cs_mod, "probe_key_types_from_manifest", spy)
        st._probed_key_types()
        st._probed_key_types()
        st._probed_key_types()
        assert len(calls) == 1  # memoized per manifest version
        # a new commit invalidates the memo
        monkeypatch.setattr(cs_mod, "probe_key_types_from_manifest", real)
        st.config.key_types["site"] = "str"
        st.set_ts({"site": "b"}, hourly("2024-01-01", 3, value=1.0))
        st.config.key_types.clear()
        monkeypatch.setattr(cs_mod, "probe_key_types_from_manifest", spy)
        st._probed_key_types()
        assert len(calls) == 2


class TestOptimize:
    """Round 10: incremental small-file binpack (Delta OPTIMIZE analogue)
    — O(fragmentation) cost, row-preserving commits that commute with
    concurrent writers."""

    def _fragmented(self, spark, tmpdir, name, n_appends=5):
        st = acid_store(spark, tmpdir, name=name)
        for i in range(n_appends):
            st.set_ts({"site": f"s{i}"}, hourly("2024-01-01", 4, value=float(i)))
        return st

    def test_binpack_reduces_files_preserves_reads(self, spark, tmpdir):
        st = self._fragmented(spark, tmpdir, "opt1")
        before = [dict(e) for e in st._txlog.snapshot().files["data"]]
        assert len(before) >= 5
        n = st.optimize(min_files=4)
        assert n == 1  # one chunk (one January) repacked
        after = st._txlog.snapshot().files["data"]
        assert len(after) < len(before)
        rec = st._txlog.read(st._txlog.snapshot().version)
        assert rec["compacting"] is True
        assert rec["touched"] != "all"  # chunk-granular, not full-table
        st.refresh()
        for i in range(5):
            assert (st.get_ts({"site": f"s{i}"}) == float(i)).all()
        # idempotent: already packed → nothing to do
        assert st.optimize(min_files=4) == 0

    def test_below_threshold_untouched_and_multichunk_grouping(
        self, spark, tmpdir
    ):
        st = acid_store(spark, tmpdir, name="opt2")
        # two chunks, one fragmented (Jan x4 appends), one not (Feb x1)
        for i in range(4):
            st.set_ts({"site": f"a{i}"}, hourly("2024-01-01", 4, value=1.0))
        st.set_ts({"site": "feb"}, hourly("2024-02-01", 4, value=2.0))
        before = {e["path"]: e for e in st._txlog.snapshot().files["data"]}
        feb_chunks = {e["chunk_min"] for e in before.values()
                      if e["chunk_min"] == e["chunk_max"]}
        n = st.optimize(min_files=4)
        assert n == 1
        after = {e["path"] for e in st._txlog.snapshot().files["data"]}
        # the quiet February chunk's files survived untouched (their
        # paths are still live — only the fragmented chunk was repacked)
        feb_paths = {
            p for p, e in before.items()
            if e["chunk_min"] == e["chunk_max"] == max(feb_chunks)
        }
        assert feb_paths and feb_paths <= after
        st.refresh()
        assert (st.get_ts({"site": "feb"}) == 2.0).all()
        assert (st.get_ts({"site": "a0"}) == 1.0).all()

    def test_optimize_skips_in_change_feed(self, spark, tmpdir):
        st = self._fragmented(spark, tmpdir, "opt3")
        v1 = st._txlog.snapshot().version
        st.optimize(min_files=2)
        # the interval contains ONLY the repack: zero row-level changes
        assert st.changes_between(v1).count() == 0
        # composition: feed from 0 equals the table's insert history
        ch = st.changes_between(0)
        assert ch.filter("_change_type = 'delete'").count() == 0

    def test_optimize_commutes_with_interleaved_append(
        self, spark, tmpdir, monkeypatch
    ):
        import holcstore_spark.sources.chunk_store as cs_mod

        a = self._fragmented(spark, tmpdir, "opt4")
        b = ChunkStore(spark, a.path, a.config)
        orig = cs_mod.ChunkStore._write_staged
        state = {"fired": False}

        def inject(self_, sdf, table, npart=None):
            out = orig(self_, sdf, table, npart)
            if self_ is a and not state["fired"]:
                state["fired"] = True
                b.set_ts({"site": "new"}, hourly("2024-01-01", 4, value=7.0))
            return out

        # the repack stages through _write_staged (the binpack core's
        # write); its entries join a's transaction after the fan-out
        monkeypatch.setattr(cs_mod.ChunkStore, "_write_staged", inject)
        n = a.optimize(min_files=2)  # lands despite same-chunk append
        monkeypatch.setattr(cs_mod.ChunkStore, "_write_staged", orig)
        assert n == 1 and state["fired"]
        a.refresh()
        assert (a.get_ts({"site": "new"}) == 7.0).all()  # append survived
        assert (a.get_ts({"site": "s0"}) == 0.0).all()   # repack survived

    def test_optimize_conflicts_when_source_rewritten(
        self, spark, tmpdir, monkeypatch
    ):
        import holcstore_spark.sources.chunk_store as cs_mod

        a = self._fragmented(spark, tmpdir, "opt5")
        b = ChunkStore(spark, a.path, a.config)
        orig = cs_mod.ChunkStore._write_staged
        state = {"fired": False}

        def inject(self_, sdf, table, npart=None):
            out = orig(self_, sdf, table, npart)
            if self_ is a and not state["fired"]:
                state["fired"] = True
                # rewrites s0's file — one of the repack's sources
                b.set_ts({"site": "s0"}, hourly("2024-01-01", 4, value=99.0),
                         replace=True)
            return out

        monkeypatch.setattr(cs_mod.ChunkStore, "_write_staged", inject)
        with pytest.raises(ConcurrentWriteError):
            a.optimize(min_files=2)
        monkeypatch.setattr(cs_mod.ChunkStore, "_write_staged", orig)
        assert state["fired"]
        a.refresh()
        assert (a.get_ts({"site": "s0"}) == 99.0).all()  # rewrite won
        a.optimize(min_files=2)  # clean re-run lands

    def test_update_commutes_with_interleaved_optimize_of_other_keys(
        self, spark, tmpdir, monkeypatch
    ):
        # mirror side: a chunk-touched UPDATE rebases over an optimize
        # that repacked files NOT containing its key — both land
        import holcstore_spark.sources.chunk_store as cs_mod

        a = self._fragmented(spark, tmpdir, "opt6")
        b = ChunkStore(spark, a.path, a.config)
        orig = cs_mod.ChunkStore._stage_into_txn
        state = {"fired": False}

        def inject(self_, sdf, table, npart=None):
            orig(self_, sdf, table, npart)
            if self_ is a and not state["fired"] and table == "meta":
                state["fired"] = True
                b.optimize(min_files=2)

        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", inject)
        # the update rewrites ONLY s1's file; the interleaved optimize
        # repacked every pre-existing file INCLUDING s1's — path clash →
        # the update must rebase... unless the optimize ran first and the
        # update's removes point at dead paths. Drive the benign order:
        # optimize fires DURING the update's staging, so the update's
        # base predates it and its removes (s1's old file) ARE optimize
        # sources → rule-1 clash → loud conflict, never silent loss.
        with pytest.raises(ConcurrentWriteError):
            a.set_ts({"site": "s1"}, hourly("2024-01-01", 4, value=42.0),
                     update=True)
        monkeypatch.setattr(cs_mod.ChunkStore, "_stage_into_txn", orig)
        assert state["fired"]
        a.refresh()
        a.set_ts({"site": "s1"}, hourly("2024-01-01", 4, value=42.0),
                 update=True)  # clean re-run
        assert (a.get_ts({"site": "s1"}) == 42.0).all()
        assert (a.get_ts({"site": "s0"}) == 0.0).all()

class TestOptimizeKvAttr:
    """optimize() on the other two manifest-backed stores."""

    def test_kv_binpack_per_tenant(self, spark, tmpdir):
        from holcstore_spark.sources.kv_store import KeyValueStore

        kv = KeyValueStore(spark, os.path.join(tmpdir, "kvopt"))
        # versioned appends stage one file each: tenant 1 fragments
        for i in range(5):
            kv.set_lc(f"p{i}", hourly("2024-01-01", 4, value=float(i)),
                      client_id=1, versionning=True)
        kv.set_lc("q", hourly("2024-01-01", 4, value=9.0), client_id=2,
                  versionning=True)
        n_before = len(kv._txlog.snapshot().files["data"])
        assert n_before >= 6
        assert kv.optimize(min_files=4) == 1  # only tenant 1 fragmented
        snap = kv._txlog.snapshot()
        assert len(snap.files["data"]) < n_before
        rec = kv._txlog.read(snap.version)
        assert rec["compacting"] is True and rec["touched"] == [1]
        for i in range(5):
            got = kv.get_lc(f"p{i}", 1)
            assert len(got) == 1 and (got[0]["data"] == float(i)).all()
        assert len(kv.get_lc("q", 2)) == 1
        # feed interval containing only new data + a repack shows ONLY
        # the new data (the repack is substituted out at manifest level)
        v1 = snap.version
        kv.set_lc("pX", hourly("2024-01-01", 4, value=42.0), client_id=1,
                  versionning=True)
        kv.optimize(min_files=1)
        ch = kv.changes_between(v1)
        assert ch.filter("_change_type = 'insert'").count() == 4
        assert ch.filter("_change_type = 'delete'").count() == 0

    def test_attr_whole_set_binpack(self, spark, tmpdir):
        from holcstore_spark.sources.attr_store import AttrStore

        at = AttrStore(spark, os.path.join(tmpdir, "atopt"),
                       keys=("name",))
        for i in range(5):
            at.set_ts({"name": f"n{i}"}, hourly("2024-01-01", 2, value=float(i)))
        n_before = len(at._txlog.snapshot().files["data"])
        assert at.optimize(min_files=4) == 1
        snap = at._txlog.snapshot()
        assert len(snap.files["data"]) < n_before
        assert at._txlog.read(snap.version)["compacting"] is True
        for i in range(5):
            got = at.get_ts({"name": f"n{i}"}, flat=True)
            assert (got == float(i)).all()
        assert at.optimize(min_files=4) == 0  # idempotent


class TestOptimizeReviewFixes:
    """Round-10 second review pass on optimize()."""

    def test_attr_optimize_int_keyed_store(self, spark, tmpdir):
        # review: forcing the pdf-less (string-key) schema onto files
        # written with LONG keys crashed optimize on int-keyed stores —
        # it must read the files' own schema, like _df_at does
        from holcstore_spark.sources.attr_store import AttrStore

        at = AttrStore(spark, os.path.join(tmpdir, "atint"),
                       keys=("sensor_id",))
        for i in range(5):
            at.set_ts({"sensor_id": i}, hourly("2024-01-01", 2, value=float(i)))
        n_before = len(at._txlog.snapshot().files["data"])
        assert at.optimize(min_files=4) == 1
        assert len(at._txlog.snapshot().files["data"]) < n_before
        for i in range(5):
            got = at.get_ts({"sensor_id": i}, flat=True)
            assert (got == float(i)).all()

    def test_touched_rewrite_rebases_over_interleaved_repack(self, tmpdir):
        # review: the `other is compacting` commute branch had no test.
        # A chunk-touched rewrite whose base PREDATES an interleaved
        # row-preserving repack of DISJOINT files must land (its
        # keep-set's rows all still exist identically); the identical
        # interleave WITHOUT the compacting flag must still conflict.
        def drive(compacting: bool):
            import uuid as _uuid

            root = os.path.join(tmpdir, f"cm{compacting}")
            log = TxLog(root)
            f0 = _uentry("files/a/f0.parquet", 0, 0)
            f1 = _uentry("files/b/f1.parquet", 0, 0)
            log.commit(0, "w", 1, adds={"data": [f0]}, removes={})
            log.commit(1, "w", 2, adds={"data": [f1]}, removes={})
            # interleaved repack of f0 (disjoint from ours)
            f0m = _uentry("files/m/f0m.parquet", 0, 0)
            log.commit(2, "opt", 3, adds={"data": [f0m]},
                       removes={"data": [f0]}, touched={0},
                       compacting=compacting)
            # OUR rewrite of f1, base = pre-repack version 2
            f1n = _uentry("files/n/f1n.parquet", 0, 0)
            return log, lambda: log.commit(
                2, "update", 4, adds={"data": [f1n]},
                removes={"data": [f1]}, touched={0}, dropped_keys=["k1"],
            )

        log, commit = drive(compacting=True)
        v = commit()  # rebases over the repack and LANDS
        live = {e["path"] for e in log.snapshot().files["data"]}
        assert live == {"files/m/f0m.parquet", "files/n/f1n.parquet"}
        log2, commit2 = drive(compacting=False)
        with pytest.raises(ConcurrentWriteError):
            commit2()  # a non-row-preserving interleave still conflicts

    def test_mismatch_abort_notes_staged_orphans(self, spark, tmpdir,
                                                 monkeypatch):
        # review: KV/Attr optimize failing BEFORE commit must note its
        # staged repack files so the default vacuum reclaims them
        from holcstore_spark.sources.kv_store import KeyValueStore

        kv = KeyValueStore(spark, os.path.join(tmpdir, "kvab"))
        for i in range(4):
            kv.set_lc(f"p{i}", hourly("2024-01-01", 2, value=1.0),
                      client_id=1, versionning=True)
        real_stage = KeyValueStore._stage
        staged_paths = []

        def lying_stage(self, df, npart=None):
            out = real_stage(self, df, npart)
            staged_paths.extend(e["path"] for e in out)
            for e in out:
                e["rows"] = int(e["rows"]) + 1  # corrupt the proof
            return out

        monkeypatch.setattr(KeyValueStore, "_stage", lying_stage)
        with pytest.raises(RuntimeError, match="row mismatch"):
            kv.optimize(min_files=3)
        monkeypatch.undo()
        assert staged_paths
        # the staged repack is noted: a default (sidecars-only) vacuum
        # reclaims it without any deep walk
        assert kv.vacuum(retention_seconds=0) >= 1
        for p in staged_paths:
            assert not os.path.exists(os.path.join(kv.path, p)), p
        # and the store is intact
        assert len(kv.get_lc("p0", 1)) == 1

    def test_chunkstore_binpack_single_chunk_files_only(self, spark, tmpdir):
        # review: a multi-chunk repack must emit per-chunk files (never a
        # chunk-spanning one that future optimizes would refuse to touch)
        st = acid_store(spark, tmpdir, name="span")
        # fragment TWO chunks (Jan + Feb), uneven sizes to invite skew
        for i in range(4):
            st.set_ts({"site": f"j{i}"}, hourly("2024-01-01", 3, value=1.0))
        for i in range(4):
            st.set_ts({"site": f"f{i}"}, hourly("2024-02-01", 30, value=2.0))
        assert st.optimize(min_files=3) == 2
        for e in st._txlog.snapshot().files["data"]:
            assert e["chunk_min"] == e["chunk_max"], e
        # and the repack converged: re-running finds nothing
        assert st.optimize(min_files=3) == 0


class TestIdempotentTxn:
    """Delta ``txn``-action analogue: commits carrying (txn_app,
    txn_version) are exactly-once — a replayed micro-batch is skipped at
    the snapshot watermark, and the commit protocol's rebase walk
    refuses a duplicate that raced in after the writer's base snapshot
    (the crash-replay window the pre-check alone can't see)."""

    @staticmethod
    def _long(spark, site, start, periods, value):
        idx = pd.date_range(start, periods=periods, freq="1h", tz="UTC")
        return spark.createDataFrame(pd.DataFrame(
            {"site": site, "ts": idx.tz_localize(None), "value": value}
        ))

    def test_replayed_batch_is_noop_even_in_insert_mode(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="idem")
        b0 = self._long(spark, "a", "2024-01-01", 24, 1.0)
        st.ingest_long(b0, mode="insert", txn_app="sink", txn_version=0)
        assert st.last_txn_version("sink") == 0
        v_after_first = st._txlog.snapshot().version
        # crash-replay of the same batch: without the txn watermark an
        # insert-mode replay would raise KeyExistsError; with it, no-op
        st.ingest_long(b0, mode="insert", txn_app="sink", txn_version=0)
        assert st._txlog.snapshot().version == v_after_first
        assert len(st.get_ts({"site": "a"})) == 24
        # the next batch lands and advances the watermark
        st.ingest_long(self._long(spark, "b", "2024-01-01", 24, 2.0),
                       mode="insert", txn_app="sink", txn_version=1)
        assert st.last_txn_version("sink") == 1
        # an OLD version replayed after newer ones is also skipped
        st.ingest_long(b0, mode="insert", txn_app="sink", txn_version=0)
        assert st.last_txn_version("sink") == 1
        assert st.count_keys() == 2
        # exactly one commit per batch in history, each with its identity
        h = {(r["txn_app"], r["txn_version"])
             for r in st.history().collect() if r["txn_app"] is not None}
        assert h == {("sink", 0), ("sink", 1)}

    def test_distinct_apps_do_not_cross(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="apps")
        st.ingest_long(self._long(spark, "a", "2024-01-01", 4, 1.0),
                       mode="insert", txn_app="A", txn_version=7)
        # app B at a LOWER version must still land
        st.ingest_long(self._long(spark, "b", "2024-01-01", 4, 1.0),
                       mode="insert", txn_app="B", txn_version=0)
        assert st.last_txn_version("A") == 7
        assert st.last_txn_version("B") == 0
        assert st.last_txn_version("C") is None
        # one contract for every manifest table: the indexes too
        from holcstore_spark.sources.band_index import BandIndex

        idx = BandIndex(spark, os.path.join(str(tmpdir), "apps_idx"))
        assert idx.last_txn_version("C") is None

    def test_rebase_walk_refuses_midflight_duplicate(self, spark, tmpdir):
        # the race the snapshot pre-check can't see: a second instance of
        # the same writer commits (app, 5) AFTER our base snapshot was
        # taken — the rebase walk must raise TxnAlreadyApplied, and the
        # duplicate's files must never become live
        from holcstore_spark.sources.txlog import TxnAlreadyApplied

        st = acid_store(spark, tmpdir, name="race")
        st.set_ts({"site": "seed"}, hourly("2024-01-01", 4))
        log = st._txlog
        base = log.snapshot().version  # stale base for the duplicate
        # the "other instance" lands (app, 5)
        st.ingest_long(self._long(spark, "a", "2024-01-01", 4, 1.0),
                       mode="insert", txn_app="sink", txn_version=5)
        with pytest.raises(TxnAlreadyApplied):
            log.commit(
                base, "ingest_long", log.next_op_id(log.snapshot()),
                adds={"data": [{"path": "files/dup.parquet", "rows": 4,
                                "chunk_min": 1, "chunk_max": 1}]},
                removes={}, touched=None,
                txn_app="sink", txn_version=5,
            )
        live = {e["path"] for e in log.snapshot().files["data"]}
        assert "files/dup.parquet" not in live

    def test_watermark_survives_checkpoint_and_prune(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="ckpt")
        st.ingest_long(self._long(spark, "a", "2024-01-01", 4, 1.0),
                       mode="insert", txn_app="sink", txn_version=3)
        log = st._txlog
        # roll the log far enough that the txn commit is summarized
        log.CHECKPOINT_INTERVAL = 1  # instance attr
        for i in range(3):
            st.ingest_long(self._long(spark, f"k{i}", "2024-01-01", 4, 1.0),
                           mode="insert")
        assert log.prune_log() >= 1
        # a FRESH log (new process) replays from the checkpoint header
        fresh = TxLog(log.root)
        assert fresh.snapshot().app_versions.get("sink") == 3
        # and the replay skip still fires through the store path
        st2 = ChunkStore(spark, st.path, st.config)
        v = st2._txlog.snapshot().version
        st2.ingest_long(self._long(spark, "a", "2024-01-01", 4, 9.0),
                        mode="insert", txn_app="sink", txn_version=3)
        assert st2._txlog.snapshot().version == v
        got = st2.get_ts({"site": "a"})
        assert (got.dropna() == 1.0).all()

    def test_txn_requires_version(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="nover")
        with pytest.raises(ValueError, match="txn_version"):
            st.ingest_long(self._long(spark, "a", "2024-01-01", 4, 1.0),
                           mode="insert", txn_app="sink")
        # ADVICE r10: negative versions must be rejected loudly — the
        # store-layer replay pre-check compares against a watermark
        # defaulting to -1, so txn_version <= -1 on a first-ever write
        # would be silently skipped as "already applied"
        with pytest.raises(ValueError, match="non-negative"):
            st.ingest_long(self._long(spark, "a", "2024-01-01", 4, 1.0),
                           mode="insert", txn_app="sink", txn_version=-1)
        from holcstore_spark.sources.txlog import resolve_txn
        with pytest.raises(ValueError, match="non-negative"):
            resolve_txn("sink", -5)
        assert resolve_txn("sink", 0) == ("sink", 0)


def _mp_txn_writer(root, wid, n_batches, out_q):
    """Competing instance of ONE logical sink (module-level for spawn
    pickling): every instance replays the same batch sequence 0..n-1 —
    an HA/failover shape where two drivers of the same streaming query
    run at once. For each batch: snapshot pre-check, then idempotent
    commit; ConcurrentWriteError retries against a fresh snapshot,
    TxnAlreadyApplied means the other instance won — both are success."""
    from holcstore_spark.sources.chunk_store import ConcurrentWriteError
    from holcstore_spark.sources.txlog import TxLog, TxnAlreadyApplied

    log = TxLog(root)
    won = []
    for v in range(n_batches):
        path = f"files/b{v}_w{wid}.parquet"
        entry = {"path": path, "rows": 1, "chunk_min": v, "chunk_max": v,
                 "key_stats": None}
        for _attempt in range(60):
            snap = log.snapshot()
            if snap.app_versions.get("sink", -1) >= v:
                break  # another instance already landed this batch
            try:
                log.commit(snap.version, "batch", TxLog.next_op_id(snap),
                           adds={"data": [entry]}, removes={},
                           txn_app="sink", txn_version=v)
                won.append(v)
                break
            except TxnAlreadyApplied:
                break  # lost the race INSIDE the commit walk: applied
            except ConcurrentWriteError:
                continue
        else:
            out_q.put(("fail", wid, v))
            return
    out_q.put(("ok", wid, won))


class TestTxnRaceSoak:
    def test_competing_sink_instances_apply_each_batch_once(self, tmpdir):
        """4 processes × 10 shared batches: every batch version must be
        applied by EXACTLY one instance — zero lost, zero duplicated —
        and the final watermark must be the last batch."""
        import multiprocessing as mp

        root = os.path.join(tmpdir, "txnlog")
        TxLog(root)
        ctx = mp.get_context("spawn")
        q = ctx.Queue()
        n_workers, n_batches = 4, 10
        procs = [
            ctx.Process(target=_mp_txn_writer, args=(root, w, n_batches, q))
            for w in range(n_workers)
        ]
        for p in procs:
            p.start()
        results = [q.get(timeout=180) for _ in range(n_workers)]
        for p in procs:
            p.join(timeout=30)
        assert all(r[0] == "ok" for r in results), results
        log = TxLog(root)
        live = sorted(e["path"] for e in log.snapshot().files["data"])
        by_version: dict[int, list[str]] = {}
        for p in live:
            v = int(p.split("b")[1].split("_")[0])
            by_version.setdefault(v, []).append(p)
        dup = {v: ps for v, ps in by_version.items() if len(ps) > 1}
        assert not dup, f"batches applied twice: {dup}"
        missing = set(range(n_batches)) - set(by_version)
        assert not missing, f"batches lost: {sorted(missing)}"
        assert log.snapshot().app_versions.get("sink") == n_batches - 1
        # winners reported by workers match the live set exactly
        won = sorted(v for r in results for v in r[2])
        assert won == sorted(by_version), (won, sorted(by_version))


class TestIdempotentTxnKvAttr:
    """The idempotent-write surface on the other two stores: a retried
    batch job re-running the same bulk write must be a no-op."""

    def test_kv_versioned_replay_does_not_double_bump(self, spark, tmpdir):
        from holcstore_spark.sources.kv_store import KeyValueStore

        kv = KeyValueStore(spark, os.path.join(tmpdir, "kvtxn"))
        s = hourly("2024-01-01", 4)
        batch = {"p1": s, "p2": s}
        kv.set_many_lc(batch, client_id=1, versionning=True,
                       txn_app="job", txn_version=0)
        assert kv.last_txn_version("job") == 0
        v = kv._txlog.snapshot().version
        # the Airflow-retry shape: same task re-runs the same write
        kv.set_many_lc(batch, client_id=1, versionning=True,
                       txn_app="job", txn_version=0)
        assert kv._txlog.snapshot().version == v
        # exactly ONE version per prm — a real re-apply would add v1
        versions = sorted(r["version"] for r in
                          kv.get_lc("p1", 1, combined_versions=False))
        assert versions == [0]
        # the next batch still lands
        kv.set_many_lc({"p1": s * 2}, client_id=1, versionning=True,
                       txn_app="job", txn_version=1)
        versions = sorted(r["version"] for r in
                          kv.get_lc("p1", 1, combined_versions=False))
        assert versions == [0, 1]

    def test_kv_nonversioned_replay_single_commit(self, spark, tmpdir):
        from holcstore_spark.sources.kv_store import KeyValueStore

        kv = KeyValueStore(spark, os.path.join(tmpdir, "kvtxn2"))
        kv.set_lc("seed", hourly("2024-01-01", 4), client_id=1)
        batch = {"a": hourly("2024-01-01", 4, value=2.0)}
        kv.set_many_lc(batch, client_id=1, txn_app="job2", txn_version=0)
        v = kv._txlog.snapshot().version
        kv.set_many_lc(batch, client_id=1, txn_app="job2", txn_version=0)
        assert kv._txlog.snapshot().version == v
        assert len(kv.get_lc("a", 1)) == 1

    def test_attr_plain_replay_does_not_refuse(self, spark, tmpdir):
        from holcstore_spark.sources.attr_store import AttrStore

        at = AttrStore(spark, os.path.join(tmpdir, "attxn"), keys=("k",))
        batch = {("x",): hourly("2024-01-01", 4)}
        at.set_many_ts(batch, txn_app="job", txn_version=0)
        v = at._txlog.snapshot().version
        # plain mode refuses existing keys — the replay must NOT raise
        at.set_many_ts(batch, txn_app="job", txn_version=0)
        assert at._txlog.snapshot().version == v
        assert at.last_txn_version("job") == 0
        got = at.get_ts({"k": "x"})
        assert len(got) == 1 and len(got[0]["data"]) == 4

    def test_attr_replace_replay_noop(self, spark, tmpdir):
        from holcstore_spark.sources.attr_store import AttrStore

        at = AttrStore(spark, os.path.join(tmpdir, "attxn2"), keys=("k",))
        at.set_many_ts({("x",): hourly("2024-01-01", 8, value=1.0)})
        at.set_many_ts({("x",): hourly("2024-01-01", 4, value=9.0)},
                       replace=True, txn_app="job", txn_version=3)
        v = at._txlog.snapshot().version
        at.set_many_ts({("x",): hourly("2024-01-01", 4, value=9.0)},
                       replace=True, txn_app="job", txn_version=3)
        assert at._txlog.snapshot().version == v
        got = at.get_ts({"k": "x"})
        s = got[0]["data"]
        assert len(s) == 4 and (s == 9.0).all()

    def test_chunk_set_many_ts_replay_noop(self, spark, tmpdir):
        st = acid_store(spark, tmpdir, name="smtxn")
        batch = {("a",): hourly("2024-01-01", 4),
                 ("b",): hourly("2024-01-01", 4)}
        st.set_many_ts(batch, txn_app="job", txn_version=0)
        v = st._txlog.snapshot().version
        # mass-insert replay would raise KeyExistsError without the txn
        st.set_many_ts(batch, txn_app="job", txn_version=0)
        assert st._txlog.snapshot().version == v
        assert st.count_keys() == 2 and st.last_txn_version("job") == 0


class TestRewriteAllDimNarrowing:
    def test_second_key_dim_excludes_bystander_files(self, spark, tmpdir):
        """Write-path copy-on-write narrowing over ALL key dims (round
        10): with a constant first key, an update to one meter must not
        rewrite the other meters' files — and every series must stay
        intact."""
        cfg = ChunkStoreConfig(
            keys=("site", "meter"), freq="1h", tz="UTC",
            chunk_axis=("year", "month"),
            key_types={"site": "str", "meter": "str"},
        )
        st = ChunkStore(spark, os.path.join(tmpdir, "dims"), cfg)
        for m in ("m1", "m2", "m3"):
            st.set_ts({"site": "s", "meter": m}, hourly("2024-01-01", 24))
        before = {e["path"] for e in st._txlog.snapshot().files["data"]}
        st.set_ts({"site": "s", "meter": "m2"},
                  hourly("2024-01-01 05:00", 3, value=9.0), update=True)
        rec = st._txlog.read(st._txlog.snapshot().version)
        removed = {e["path"] for e in rec["removes"]["data"]}
        # only m2's file may be rewritten: site is constant across all
        # three files, so first-key-only narrowing would rewrite all
        assert len(removed) == 1, sorted(removed)
        assert removed < before
        for m, want in (("m1", 1.0), ("m3", 1.0)):
            got = st.get_ts({"site": "s", "meter": m})
            assert (got.dropna() == want).all() and len(got.dropna()) == 24
        g2 = st.get_ts({"site": "s", "meter": "m2"})
        assert (g2[5:8] == 9.0).all() and g2.dropna().size == 24


class TestReleaseCheckpointLoggerRestore:
    """ADVICE r15 (low): the WARN-mute around the checkpoint unpersist
    must restore the logger's OWN config — not pin its inherited
    effective level as a new explicit config (which would detach the
    logger from future root-level changes)."""

    NAME = "org.apache.spark.rdd.MapPartitionsRDD"

    def _state(self, spark):
        jvm = spark.sparkContext._jvm
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        lc = ctx.getConfiguration().getLoggerConfig(self.NAME)
        return (lc.getName() == self.NAME, str(lc.getLevel()))

    def test_inherited_config_stays_inherited(self, spark):
        from holcstore_spark.sources.io_util import (
            release_local_checkpoint, safe_local_checkpoint,
        )

        explicit_before, _ = self._state(spark)
        if explicit_before:
            pytest.skip("another test pinned an explicit level")
        df = safe_local_checkpoint(spark.range(10).selectExpr("id"))
        df.count()
        release_local_checkpoint(df)
        assert self._state(spark)[0] is False

    def test_explicit_config_level_restored(self, spark):
        from holcstore_spark.sources.io_util import (
            release_local_checkpoint, safe_local_checkpoint,
        )

        jvm = spark.sparkContext._jvm
        cfg = jvm.org.apache.logging.log4j.core.config.Configurator
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        had_explicit, old_level = self._state(spark)
        cfg.setLevel(self.NAME, jvm.org.apache.logging.log4j.Level.DEBUG)
        try:
            df = safe_local_checkpoint(spark.range(5).selectExpr("id"))
            df.count()
            release_local_checkpoint(df)
            assert self._state(spark) == (True, "DEBUG")
        finally:
            if had_explicit:
                cfg.setLevel(
                    self.NAME,
                    jvm.org.apache.logging.log4j.Level.getLevel(old_level),
                )
            else:
                ctx.getConfiguration().removeLogger(self.NAME)
                ctx.updateLoggers()
