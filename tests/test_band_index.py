"""BandIndex: the managed, exactly-once minhash-band index (round 12).

The contract under test is the one the r11 verdict demanded: a crashed
foreachBatch replay must neither double-append bands (drop-pressure
inflation) nor change the kept set, and index compaction must preserve
results exactly.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from holcstore_spark.sources.band_index import BandIndex


def docs_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


@pytest.fixture()
def corpus(spark):
    # b1 doc 10 near-dups history doc 1; b1 docs 12/13 near-dup each
    # other; 11 is unique
    history = docs_df(spark, [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely different text about spark dataframes here"),
    ])
    batch1 = docs_df(spark, [
        (10, "the quick brown fox jumps over the lazy dog today"),
        (11, "unique text with no neighbours in any band anywhere"),
        (12, "duplicate pair text sharing every single band key yes"),
        (13, "duplicate pair text sharing every single band key yes"),
    ])
    batch2 = docs_df(spark, [
        (20, "unique text with no neighbours in any band anywhere"),
        (21, "fresh second batch content never seen before at all"),
    ])
    return history, batch1, batch2


class TestExactlyOnceIngest:
    def test_replay_after_checkpoint_loss_matches_single_application(
            self, spark, tmp_store_path, corpus):
        history, batch1, batch2 = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "idx"))
        k0 = idx.ingest(history, txn_app="s", txn_version=0)
        assert sorted(r["doc_id"] for r in k0.collect()) == [1, 2]
        kept1 = sorted(
            r["doc_id"] for r in
            idx.ingest(batch1, txn_app="s", txn_version=1).collect()
        )
        assert kept1 == [11, 12]  # 10 dups history-1, 13 dups 12
        rows_after_first = idx.df().count()
        # simulated checkpoint loss: the stream restarts and re-delivers
        # batch 1 with the same batch id
        replay = sorted(
            r["doc_id"] for r in
            idx.ingest(batch1, txn_app="s", txn_version=1).collect()
        )
        assert replay == kept1, "replayed kept set differs"
        assert idx.df().count() == rows_after_first, \
            "replay double-appended band rows"
        assert idx.last_txn_version("s") == 1
        # the stream moves on: batch 2 must behave as if the replay
        # never happened (20 near-dups batch-1's kept 11)
        kept2 = sorted(
            r["doc_id"] for r in
            idx.ingest(batch2, txn_app="s", txn_version=2).collect()
        )
        assert kept2 == [21]

    def test_double_append_without_txn_would_inflate_index(
            self, spark, tmp_store_path, corpus):
        # the failure mode the managed index exists to prevent, shown
        # real: bare appends land twice
        history, batch1, _ = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "idx"))
        from holcstore_spark.operators.dedup import minhash_bands

        bands = minhash_bands(history)
        assert idx.append_bands(bands, txn_app="a", txn_version=0) is True
        n = idx.df().count()
        assert idx.append_bands(bands, txn_app="a", txn_version=0) is False
        assert idx.df().count() == n
        # un-identified appends are blind (documented): they do land
        assert idx.append_bands(bands) is True
        assert idx.df().count() == 2 * n

    def test_replay_with_max_bucket_valve_is_still_idempotent(
            self, spark, tmp_store_path):
        # round-12 review finding: with the valve counting ALL bucket
        # rows, a replay — whose buckets also hold the batch's own
        # committed bands — could flip the valve and change the kept
        # set; under exclude_self the valve now counts NEW rows only
        idx = BandIndex(spark, os.path.join(tmp_store_path, "idx"))
        batch = docs_df(spark, [
            (1, "duplicate pair text sharing every single band key yes"),
            (2, "duplicate pair text sharing every single band key yes"),
        ])
        kept_1 = sorted(
            r["doc_id"] for r in
            idx.ingest(batch, txn_app="s", txn_version=0,
                       max_bucket=2).collect()
        )
        assert kept_1 == [1]  # 2 dropped by the within-batch rule
        replay = sorted(
            r["doc_id"] for r in
            idx.ingest(batch, txn_app="s", txn_version=0,
                       max_bucket=2).collect()
        )
        assert replay == kept_1, \
            "valve flipped on replay: kept set changed"

    def test_append_bands_rejects_mismatched_minhash_shape(
            self, spark, tmp_store_path, corpus):
        from holcstore_spark.operators.dedup import minhash_bands

        history, _, _ = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "idx"))
        # 8/4 gives 2 hex segments per key vs the frozen 16/4's 4
        wrong = minhash_bands(history, n_hashes=8, bands=4)
        with pytest.raises(ValueError, match="not comparable"):
            idx.append_bands(wrong, txn_app="a", txn_version=0)
        assert idx.df().count() == 0
        # same segments-per-band but out-of-range band ids also refuse
        too_many_bands = minhash_bands(history, n_hashes=32, bands=8)
        with pytest.raises(ValueError, match="not comparable"):
            idx.append_bands(too_many_bands, txn_app="a", txn_version=0)

    def test_kept_rows_keep_all_columns(self, spark, tmp_store_path):
        d = spark.createDataFrame(pd.DataFrame(
            [(1, "some text body here words", "en")],
            columns=["doc_id", "text", "lang"],
        ))
        idx = BandIndex(spark, os.path.join(tmp_store_path, "idx"))
        out = idx.ingest(d, txn_app="s", txn_version=0)
        assert out.columns == ["doc_id", "text", "lang"]
        assert out.count() == 1


class TestRealStreamReplay:
    def test_foreachbatch_survives_checkpoint_loss(self, spark,
                                                   tmp_store_path):
        """The documented streaming recipe, driven through a REAL
        Structured Streaming query: foreachBatch ingests each
        micro-batch into the BandIndex with txn_version=batch_id, the
        checkpoint is then DELETED (worst-case driver crash) and the
        query re-run — batch ids restart at 0, every batch replays, and
        the index must end bit-identical to the single application."""
        import shutil

        src = os.path.join(tmp_store_path, "src")
        ckpt = os.path.join(tmp_store_path, "ckpt")
        out = os.path.join(tmp_store_path, "out")
        os.makedirs(src)
        pd.DataFrame({
            "doc_id": [1, 2, 10],
            "text": [
                "the quick brown fox jumps over the lazy dog today",
                "completely different text about spark dataframes here",
                "the quick brown fox jumps over the lazy dog today",
            ],
        }).to_parquet(os.path.join(src, "b0.parquet"))
        idx = BandIndex(spark, os.path.join(tmp_store_path, "idx"))

        def sink(batch, batch_id):
            kept = idx.ingest(batch, txn_app="stream",
                              txn_version=batch_id)
            # per-batch overwrite = replay-idempotent output
            kept.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}")
            )

        def run():
            q = (
                spark.readStream.schema("doc_id long, text string")
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)

        run()
        rows_1 = sorted(map(tuple, idx.df().collect()))
        kept_1 = sorted(
            r["doc_id"] for r in
            spark.read.parquet(os.path.join(out, "batch=0")).collect()
        )
        assert kept_1 == [1, 2]  # 10 near-dups 1
        assert idx.last_txn_version("stream") == 0
        shutil.rmtree(ckpt)  # driver crash, checkpoint gone
        run()                # batch 0 replays wholesale
        assert sorted(map(tuple, idx.df().collect())) == rows_1, \
            "replayed stream changed the index"
        kept_2 = sorted(
            r["doc_id"] for r in
            spark.read.parquet(os.path.join(out, "batch=0")).collect()
        )
        assert kept_2 == kept_1


class TestIndexMaintenance:
    def test_optimize_binpacks_and_preserves_results(
            self, spark, tmp_store_path, corpus):
        history, batch1, batch2 = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "idx"))
        idx.ingest(history, txn_app="s", txn_version=0)
        idx.ingest(batch1, txn_app="s", txn_version=1)
        idx.ingest(batch2, txn_app="s", txn_version=2)
        before = sorted(map(tuple, idx.df().collect()))
        snap = idx._txlog.snapshot()
        files_before = len(snap.files["data"])
        # 3 ingests × ≥1 file per band: every band has ≥3 live files
        n = idx.optimize(min_files=3)
        assert n >= 1
        after_snap = idx._txlog.snapshot()
        assert len(after_snap.files["data"]) < files_before
        assert sorted(map(tuple, idx.df().collect())) == before
        # repacked bands are one file each
        per_band: dict[int, int] = {}
        for e in after_snap.files["data"]:
            assert e["chunk_min"] == e["chunk_max"], \
                "optimize emitted a band-spanning file"
            per_band[e["chunk_min"]] = per_band.get(e["chunk_min"], 0) + 1
        assert min(per_band.values()) == 1
        # dedup behaviour is unchanged after the repack
        again = idx.ingest(batch2.withColumn(
            "doc_id", F.col("doc_id") + 100
        ), txn_app="s", txn_version=3)
        assert again.count() == 0  # both docs now dup the index

    def test_vacuum_reclaims_optimized_files(
            self, spark, tmp_store_path, corpus):
        history, batch1, _ = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "idx"))
        for v, b in enumerate((history, batch1)):
            idx.ingest(b, txn_app="s", txn_version=v)
        idx.optimize(min_files=2)
        before = sorted(map(tuple, idx.df().collect()))
        removed = idx.vacuum(retention_seconds=0.0)
        assert removed > 0
        assert sorted(map(tuple, idx.df().collect())) == before


class TestFrozenParams:
    def test_param_mismatch_refused_loudly(self, spark, tmp_store_path):
        p = os.path.join(tmp_store_path, "idx")
        BandIndex(spark, p, n_hashes=16, bands=4)
        BandIndex(spark, p, n_hashes=16, bands=4)  # same: fine
        with pytest.raises(ValueError, match="not comparable"):
            BandIndex(spark, p, n_hashes=8, bands=4)
        with pytest.raises(ValueError, match="not comparable"):
            BandIndex(spark, p, n_hashes=16, bands=2)


class TestExcludeSelf:
    def test_exclude_self_ignores_own_bands_only(self, spark):
        from holcstore_spark.operators.dedup import (
            dedup_incremental,
            minhash_bands,
        )

        d = docs_df(spark, [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "totally different words live in this second document"),
        ])
        own = minhash_bands(d)
        # default: a doc collides with its own indexed bands
        assert dedup_incremental(d, own).count() == 0
        # exclude_self: own bands are invisible, others still count
        assert sorted(
            r["doc_id"]
            for r in dedup_incremental(d, own, exclude_self=True).collect()
        ) == [1, 2]
        dup = docs_df(spark, [
            (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ])
        assert dedup_incremental(dup, own, exclude_self=True).count() == 0


class TestDeclaredIdType:
    def test_append_bands_casts_id_to_frozen_type(self, spark,
                                                  tmp_store_path, corpus):
        # ADVICE r12: band frames with a narrower physical id type must
        # be cast to the frozen id_type before staging, not at read time
        import os

        from holcstore_spark.operators.dedup import minhash_bands

        history, _b1, _b2 = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "bi"))
        bands = minhash_bands(history).withColumn(
            "doc_id", F.col("doc_id").cast("int"))
        assert idx.append_bands(bands, txn_app="b", txn_version=0)
        out = idx.df()
        assert dict(out.dtypes)["doc_id"] == "bigint"
        assert out.count() == bands.count()


class TestForget:
    """delete() — replay-safe tombstones + physical erasure (round 13)."""

    def test_deleted_doc_stops_suppressing_neardups(
            self, spark, tmp_store_path, corpus):
        from holcstore_spark.operators.dedup import minhash_bands

        history, batch1, _b2 = corpus
        p = os.path.join(tmp_store_path, "bi")
        idx = BandIndex(spark, p)
        assert idx.append_bands(minhash_bands(history),
                                txn_app="s", txn_version=0)
        # doc 10 near-dups history doc 1 -> suppressed
        kept_before = {r["doc_id"] for r in
                       idx.ingest(batch1, txn_app="s", txn_version=1)
                       .select("doc_id").collect()}
        assert 10 not in kept_before
        # forget doc 1: its bands must stop suppressing new near-dups
        p2 = os.path.join(tmp_store_path, "bi2")
        idx2 = BandIndex(spark, p2)
        assert idx2.append_bands(minhash_bands(history),
                                 txn_app="s", txn_version=0)
        assert idx2.delete([1], txn_app="del", txn_version=0)
        assert idx2.df().filter(F.col("doc_id") == 1).count() == 0
        kept_after = {r["doc_id"] for r in
                      idx2.ingest(batch1, txn_app="s", txn_version=1)
                      .select("doc_id").collect()}
        assert 10 in kept_after
        assert kept_after - {10} == kept_before

    def test_replayed_delete_commits_nothing(self, spark, tmp_store_path,
                                             corpus):
        from holcstore_spark.operators.dedup import minhash_bands

        history, _b1, _b2 = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "bi"))
        idx.append_bands(minhash_bands(history), txn_app="s",
                         txn_version=0)
        assert idx.delete([1], txn_app="del", txn_version=0) is True
        v = idx._txlog.snapshot().version
        n_meta = len(idx._txlog.snapshot().files["meta"])
        assert idx.delete([1], txn_app="del", txn_version=0) is False
        assert idx._txlog.snapshot().version == v
        assert len(idx._txlog.snapshot().files["meta"]) == n_meta
        assert idx.df().filter(F.col("doc_id") == 1).count() == 0

    def test_optimize_physically_erases_deleted_rows(
            self, spark, tmp_store_path, corpus):
        from holcstore_spark.operators.dedup import minhash_bands

        history, batch1, _b2 = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "bi"))
        idx.append_bands(minhash_bands(history), txn_app="s",
                         txn_version=0)
        idx.ingest(batch1, txn_app="s", txn_version=1)
        assert idx.delete([1, 11], txn_app="del", txn_version=0)
        before = {(r["doc_id"], r["band_id"], r["band_key"])
                  for r in idx.df().collect()}
        # full erasure pass: every band repacks, dead rows dropped
        assert idx.optimize(min_files=1) >= 1
        snap = idx._txlog.snapshot()
        raw = spark.read.schema(idx._schema()).parquet(
            *snap.paths("data", idx.path))
        assert raw.filter(F.col("doc_id").isin(1, 11)).count() == 0
        after = {(r["doc_id"], r["band_id"], r["band_key"])
                 for r in idx.df().collect()}
        assert after == before  # reads unchanged by the erasure
        assert idx.vacuum(retention_seconds=0.0) > 0

    def test_optimize_without_tombstones_still_row_preserving(
            self, spark, tmp_store_path, corpus):
        from holcstore_spark.operators.dedup import minhash_bands
        from holcstore_spark.sources.txlog import exact_rows

        history, batch1, batch2 = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "bi"))
        idx.append_bands(minhash_bands(history), txn_app="s",
                         txn_version=0)
        idx.ingest(batch1, txn_app="s", txn_version=1)
        idx.ingest(batch2, txn_app="s", txn_version=2)
        n = idx.df().count()
        assert idx.optimize(min_files=2) >= 1
        assert idx.df().count() == n
        # the commit claimed compacting (row-preserving layout change)
        last = idx._txlog.read(idx._txlog.last_version())
        assert last["op"] == "optimize" and last["compacting"] is True

    def test_empty_delete_is_a_noop(self, spark, tmp_store_path, corpus):
        from holcstore_spark.operators.dedup import minhash_bands

        history, _b1, _b2 = corpus
        idx = BandIndex(spark, os.path.join(tmp_store_path, "bi"))
        idx.append_bands(minhash_bands(history), txn_app="s",
                         txn_version=0)
        v = idx._txlog.snapshot().version
        assert idx.delete([], txn_app="del", txn_version=0) is False
        assert idx._txlog.snapshot().version == v
        assert not idx._txlog.snapshot().files["meta"]
        # the mask path stays inactive: df() plan is unchanged
        assert idx.df().count() == minhash_bands(history).count()


class TestStagingCancellation:
    def test_queued_writes_cancelled_on_first_failure(
        self, spark, monkeypatch
    ):
        """review r15: the fan-out behind every binpack repack
        (io_util.overlap_jobs) must CANCEL still-queued writes once one
        fails — waiting on futures in submission order would let
        workers drain the whole queue first (the orphan set the
        cancellation exists to shrink).

        Event-gated, no wall-clock bounds (ADVICE r15: the previous
        sleep-derived drain bound flaked under CI load): every
        in-flight write PARKS until the cancellation actually lands
        (signalled from a shutdown(cancel_futures=True) hook), so the
        freed worker can hold at most ONE queued item while the rest
        of the queue must be cancelled, however late the
        FIRST_EXCEPTION wakeup arrives."""
        import functools
        import threading
        from concurrent.futures import ThreadPoolExecutor

        import pytest

        from holcstore_spark.sources import io_util

        cancel_landed = threading.Event()
        n_slow = 3  # with 'boom', fills the helper's 4 workers
        slow_started = threading.Semaphore(0)

        class SignallingExecutor(ThreadPoolExecutor):
            def shutdown(self, wait=True, *, cancel_futures=False):
                if cancel_futures and not cancel_landed.is_set():
                    # drain+cancel the queue FIRST (non-blocking), and
                    # only then release the parked workers: waking them
                    # before the queue is cancelled would let the freed
                    # worker dequeue another item in the race window
                    # (the flake this event-gating exists to close)
                    super().shutdown(wait=False, cancel_futures=True)
                    cancel_landed.set()
                return super().shutdown(
                    wait=wait, cancel_futures=cancel_futures
                )

        monkeypatch.setattr(io_util, "ThreadPoolExecutor", SignallingExecutor)
        started = []

        def write_one(item):
            started.append(item)
            if item.startswith("slow"):
                slow_started.release()
                cancel_landed.wait(30)  # deadlock insurance only
                return []
            if item == "boom":
                for _ in range(n_slow):  # every worker busy, queue full
                    slow_started.acquire(timeout=10)
                raise RuntimeError("chunk write failed")
            # a queued item the freed worker picked up before the
            # cancellation landed: park until it does
            cancel_landed.wait(30)
            return []

        items = [f"slow{i}" for i in range(n_slow)] + ["boom"] + [
            f"queued{i}" for i in range(12)
        ]
        try:
            with pytest.raises(RuntimeError, match="chunk write failed"):
                # the slow items and 'boom' occupy all four workers;
                # every 'queuedN' is still queued when 'boom' raises and
                # must be cancelled, not drained
                io_util.overlap_jobs(
                    spark, *(functools.partial(write_one, i) for i in items)
                )
        finally:
            cancel_landed.set()
        ran = [s for s in started if s.startswith("queued")]
        # the freed worker parks on the first queued item it takes, so
        # however slow the wakeup, at most ONE queued write may start —
        # the old result()-in-order collection drained ALL 12
        assert len(ran) <= 1, (
            f"queued writes ran after the failure: {ran}"
        )
        assert cancel_landed.is_set()
