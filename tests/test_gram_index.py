"""GramIndex: the managed, exactly-once rolling-gram index (round 14).

The contract under test is VERDICT r13 gap #1: the span gram index was
a bare-DataFrame recipe — no exactly-once ingest, no replay safety and
(anonymous grams) no erasure path at all. The managed source must (a)
commit nothing on a crash-replayed batch while returning identical
duplicate-span stats, and (b) make delete(ids) stop a taken-down
document's spans from suppressing future text, with optimize() as the
physical erasure pass.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from holcstore_spark.sources.gram_index import GramIndex

K = 4  # short test grams; the index freezes k per instance


def docs_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


@pytest.fixture()
def corpus(spark):
    # history doc 1 carries the span "c d e f g"; batch doc 10 repeats
    # it (history suppression), batch docs 12/13 share an in-batch span
    # (keep-first), 11 is clean
    history = docs_df(spark, [
        (1, "a b c d e f g h i j"),
        (2, "k l m n o p q r s t"),
    ])
    batch1 = docs_df(spark, [
        (10, "x1 x2 c d e f g x3 x4"),
        (11, "u1 u2 u3 u4 u5 u6 u7 u8"),
        (12, "v1 v2 shared span w1 w2 w3 w4"),
        (13, "y1 y2 shared span w1 w2 w3 w4"),
    ])
    batch2 = docs_df(spark, [
        (20, "z1 z2 c d e f g z3 z4"),   # re-probes history doc 1's span
        (21, "q1 q2 q3 q4 q5 q6 q7 q8"),
    ])
    return history, batch1, batch2


def stats_map(df):
    return {r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["kept_tokens"])
            for r in df.collect()}


class TestExactlyOnceIngest:
    def test_replay_after_checkpoint_loss_matches_single_application(
        self, spark, tmp_store_path, corpus
    ):
        history, batch1, _ = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        # empty-index ingest: history dedups only against itself
        idx.ingest(history, txn_app="s", txn_version=0).collect()
        first = stats_map(idx.ingest(batch1, txn_app="s", txn_version=1))
        rows_first = idx.df().count()
        v_first = idx._txlog.snapshot().version
        # replay the SAME batch (foreachBatch retry after checkpoint
        # loss): no commit, identical stats
        replayed = stats_map(idx.ingest(batch1, txn_app="s", txn_version=1))
        assert replayed == first
        assert idx.df().count() == rows_first
        assert idx._txlog.snapshot().version == v_first
        # the history suppression actually happened: doc 10's 5-token
        # repeated span covers 5 positions via its rolling 4-grams
        assert first[10][1] == 5
        assert first[11][1] == 0
        # in-batch keep-first: 12 keeps, 13 loses its shared span
        assert first[12][1] == 0 and first[13][1] > 0

    def test_stats_equal_bare_operator_chain(
        self, spark, tmp_store_path, corpus
    ):
        from holcstore_spark.operators.dedup import (
            duplicate_span_stats_incremental,
            span_gram_index,
        )

        history, batch1, _ = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        idx.ingest(history, txn_app="s", txn_version=0).collect()
        got = stats_map(idx.ingest(batch1, txn_app="s", txn_version=1))
        want = stats_map(duplicate_span_stats_incremental(
            batch1, span_gram_index(history, k=K), k=K
        ))
        assert got == want

    def test_double_ingest_without_txn_would_inflate_index(
        self, spark, tmp_store_path, corpus
    ):
        # negative control proving the watermark is load-bearing: the
        # always-on exclude-self mask keeps the STATS identical either
        # way, but an un-watermarked replay re-appends every batch gram
        # — duplicate rows the watermark exists to prevent (space +
        # optimize churn; dedup reads survive only because the read
        # side re-distincts)
        history, batch1, _ = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        idx.ingest(history).collect()
        first = stats_map(idx.ingest(batch1))
        rows_first = idx.df().count()
        again = stats_map(idx.ingest(batch1))
        assert again == first          # exclude-self holds the stats
        assert idx.df().count() > rows_first  # but the rows inflated

    def test_new_grams_attributed_to_in_batch_keeper(
        self, spark, tmp_store_path, corpus
    ):
        history, batch1, _ = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        idx.ingest(history, txn_app="s", txn_version=0).collect()
        idx.ingest(batch1, txn_app="s", txn_version=1).collect()
        live = idx.df()
        # history-known grams never re-appended under a batch id
        hist_ids = {1, 2}
        owners = {r["doc_id"] for r in live.select("doc_id").distinct().collect()}
        assert hist_ids < owners
        # every gram SHARED between 12 and 13 belongs to keeper 12; 13
        # owns only the grams of its unique "y1 y2" prefix
        import hashlib

        shared = [
            "shared span w1 w2", "span w1 w2 w3", "w1 w2 w3 w4",
        ]
        shared_h = {hashlib.md5(s.encode()).hexdigest()[:16] for s in shared}
        owned = {r["gram_h"]: r["doc_id"] for r in live.collect()}
        assert all(owned[h] == 12 for h in shared_h)
        assert sum(1 for d in owned.values() if d == 13) == 2
        # bucket column matches the hash-mod-fanout contract (r15)
        nb = idx.params["n_buckets"]
        bad = live.filter(
            (
                F.conv(F.substring("gram_h", 1, 8), 16, 10)
                .cast("long") % F.lit(nb)
            ).cast("int") != F.col("bucket")
        ).count()
        assert bad == 0


class TestForget:
    def test_deleted_doc_stops_suppressing_spans(
        self, spark, tmp_store_path, corpus
    ):
        history, batch1, batch2 = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        idx.ingest(history, txn_app="s", txn_version=0).collect()
        before = stats_map(idx.ingest(batch2, txn_app="probe", txn_version=0))
        assert before[20][1] == 5  # doc 1's span suppresses doc 20
        # takedown of history doc 1 — O(ids) tombstone commit
        assert idx.delete([1], txn_app="del", txn_version=0)
        after = stats_map(idx.ingest(batch2, txn_app="probe2", txn_version=0))
        assert after[20][1] == 0   # forgotten spans no longer suppress
        assert after[21][1] == 0
        # replayed delete commits nothing
        v = idx._txlog.snapshot().version
        assert not idx.delete([1], txn_app="del", txn_version=0)
        assert idx._txlog.snapshot().version == v

    def test_optimize_physically_erases_deleted_rows(
        self, spark, tmp_store_path, corpus
    ):
        history, batch1, _ = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        idx.ingest(history, txn_app="s", txn_version=0).collect()
        idx.ingest(batch1, txn_app="s", txn_version=1).collect()
        live_before = idx.df().count()
        doomed = idx.df().filter(F.col("doc_id") == 1).count()
        assert doomed > 0
        assert idx.delete([1])
        # masked immediately...
        assert idx.df().count() == live_before - doomed
        # ...and physically gone after the full erasure pass: raw file
        # rows (no mask) must equal the masked view
        assert idx.optimize(min_files=1) > 0
        snap = idx._txlog.snapshot()
        raw = spark.read.schema(idx._schema()).parquet(
            *snap.paths("data", idx.path)
        )
        assert raw.count() == live_before - doomed
        assert raw.filter(F.col("doc_id") == 1).count() == 0

    def test_optimize_without_tombstones_preserves_rows(
        self, spark, tmp_store_path, corpus
    ):
        history, batch1, batch2 = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        idx.ingest(history, txn_app="s", txn_version=0).collect()
        idx.ingest(batch1, txn_app="s", txn_version=1).collect()
        idx.ingest(batch2, txn_app="s", txn_version=2).collect()
        n = idx.df().count()
        grams_before = {r["gram_h"] for r in idx.grams().collect()}
        assert idx.optimize(min_files=2) > 0
        assert idx.df().count() == n
        assert {r["gram_h"] for r in idx.grams().collect()} == grams_before


class TestGuards:
    def test_param_mismatch_refused_loudly(self, spark, tmp_store_path):
        GramIndex(spark, tmp_store_path, k=K)
        with pytest.raises(ValueError, match="not comparable"):
            GramIndex(spark, tmp_store_path, k=K + 1)

    def test_string_id_type_refused(self, spark, tmp_store_path):
        with pytest.raises(ValueError, match="long/int"):
            GramIndex(spark, tmp_store_path + "_s", id_type="string")

    def test_append_grams_rejects_malformed_hashes(
        self, spark, tmp_store_path
    ):
        idx = GramIndex(spark, tmp_store_path, k=K)
        bad = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "gram_h": ["NOT-A-HASH"]})
        )
        with pytest.raises(ValueError, match="16-hex"):
            idx.append_grams(bad, txn_app="a", txn_version=0)

    def test_append_grams_bulk_seed_and_watermark(
        self, spark, tmp_store_path, corpus
    ):
        from holcstore_spark.operators.dedup import span_gram_index

        history, batch1, _ = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        seed = span_gram_index(history, k=K).withColumn(
            "doc_id", F.lit(1).cast("long")
        )
        assert idx.append_grams(seed, txn_app="seed", txn_version=0)
        n = idx.df().count()
        assert n > 0
        # replayed bulk load refused, nothing staged
        assert not idx.append_grams(seed, txn_app="seed", txn_version=0)
        assert idx.df().count() == n


class TestRealStreamReplay:
    def test_foreachbatch_survives_checkpoint_loss(self, spark,
                                                   tmp_store_path):
        """The documented streaming recipe through a REAL Structured
        Streaming query: foreachBatch ingests each micro-batch with
        txn_version=batch_id, the checkpoint is then DELETED
        (worst-case driver crash) and the query re-run — batch ids
        restart at 0, every batch replays, and both the index AND the
        written per-batch stats must end bit-identical to the single
        application."""
        import shutil

        src = os.path.join(tmp_store_path, "src")
        ckpt = os.path.join(tmp_store_path, "ckpt")
        out = os.path.join(tmp_store_path, "out")
        os.makedirs(src)
        pd.DataFrame({
            "doc_id": [1, 2, 10],
            "text": [
                "a b c d e f g h i j",
                "k l m n o p q r s t",
                "x1 x2 c d e f g x3 x4",   # repeats doc 1's span
            ],
        }).to_parquet(os.path.join(src, "b0.parquet"))
        idx = GramIndex(spark, os.path.join(tmp_store_path, "idx"), k=K)

        def sink(batch, batch_id):
            stats = idx.ingest(batch, txn_app="stream",
                               txn_version=batch_id)
            stats.write.mode("overwrite").parquet(
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
        stats_1 = sorted(map(tuple, spark.read.parquet(
            os.path.join(out, "batch=0")).collect()))
        dup = {r["doc_id"]: r["dup_tokens"] for r in spark.read.parquet(
            os.path.join(out, "batch=0")).collect()}
        assert dup[10] == 5 and dup[1] == 0  # in-batch keep-first held
        assert idx.last_txn_version("stream") == 0
        shutil.rmtree(ckpt)  # driver crash, checkpoint gone
        run()                # batch 0 replays wholesale
        assert sorted(map(tuple, idx.df().collect())) == rows_1, \
            "replayed stream changed the index"
        assert sorted(map(tuple, spark.read.parquet(
            os.path.join(out, "batch=0")).collect())) == stats_1


class TestStagingFailureOrphans:
    def test_failed_ingest_notes_staged_files_for_vacuum(
        self, spark, tmp_store_path, corpus, monkeypatch
    ):
        """A staging-phase failure must not silently leak its staged
        dirs: every file the attempt wrote (the failing chunk's
        already-written siblings included) is noted as an orphan so
        the default sidecar-driven vacuum reclaims it — previously
        only the occasional deep directory walk would (review r14)."""
        history, batch1, _ = corpus
        idx = GramIndex(spark, tmp_store_path, k=K)
        idx.ingest(history, txn_app="s", txn_version=0).collect()
        live_before = {e["path"] for e in
                       idx._txlog.snapshot().files["data"]}

        real = idx._txlog.collect_entries
        calls = {"n": 0}

        def flaky(abs_dir, rel_dir, **kw):
            calls["n"] += 1
            if calls["n"] >= 3:   # fail after some chunks staged
                raise RuntimeError("injected staging failure")
            return real(abs_dir, rel_dir, **kw)

        monkeypatch.setattr(idx._txlog, "collect_entries", flaky)
        with pytest.raises(RuntimeError, match="injected"):
            idx.ingest(batch1, txn_app="s", txn_version=1)
        monkeypatch.setattr(idx._txlog, "collect_entries", real)
        # nothing committed; the orphan sidecar now covers the staged
        # files, so a plain (non-deep) vacuum reclaims them
        assert idx._txlog.snapshot().app_versions.get("s") == 0
        reclaimed = idx.vacuum(retention_seconds=0.0)
        assert reclaimed > 0
        # no unreferenced parquet remains anywhere under files/
        live = {e["path"] for t in ("data", "meta")
                for e in idx._txlog.snapshot().files[t]}
        on_disk = set()
        for root, _dirs, files in os.walk(os.path.join(idx.path, "files")):
            for f in files:
                if f.endswith(".parquet"):
                    on_disk.add(os.path.relpath(
                        os.path.join(root, f), idx.path))
        assert on_disk <= live, f"leaked: {sorted(on_disk - live)}"
        # the index is uncorrupted: the same ingest retries cleanly
        stats = idx.ingest(batch1, txn_app="s", txn_version=1)
        assert stats.count() == 4
        assert live_before < {e["path"] for e in
                              idx._txlog.snapshot().files["data"]}


class TestBucketFanout:
    def test_n_buckets_is_layout_only_and_frozen(
        self, spark, tmp_store_path, corpus
    ):
        """r15: n_buckets is a frozen per-index knob — a 64-bucket
        index returns the IDENTICAL span stats (layout-only change),
        stages at most one file per bucket, and refuses a re-open at a
        different fan-out."""
        history, batch1, _ = corpus
        K = 5
        a = GramIndex(spark, os.path.join(tmp_store_path, "b16"), k=K)
        b = GramIndex(
            spark, os.path.join(tmp_store_path, "b64"), k=K, n_buckets=64
        )
        for idx in (a, b):
            assert idx.ingest(
                history, txn_app="s", txn_version=0
            ).count() == 2
        sa = stats_map(a.ingest(batch1, txn_app="s", txn_version=1))
        sb = stats_map(b.ingest(batch1, txn_app="s", txn_version=1))
        assert sa == sb
        # buckets stay inside the frozen fan-out
        rows = b.df().select("bucket").distinct().collect()
        assert all(0 <= r["bucket"] < 64 for r in rows)
        assert len(rows) > 16  # the wider fan-out is actually used
        with pytest.raises(ValueError, match="incompatible"):
            GramIndex(
                spark, os.path.join(tmp_store_path, "b64"), k=K,
                n_buckets=16,
            )
        with pytest.raises(ValueError, match="n_buckets"):
            GramIndex(
                spark, os.path.join(tmp_store_path, "bad"), n_buckets=-1
            )


class TestLegacyBucketScheme:
    """The gram→bucket scheme is recorded in every index config. A config
    written before ``n_buckets`` existed (first-hex-digit buckets) is
    refused at open, and ``upgrade_format`` refuses it too, with a
    pointer to a rebuild."""

    def test_pre_r15_config_adopts_nibble_scheme(
        self, spark, tmp_store_path
    ):
        import json

        from holcstore_spark import upgrade_format
        from holcstore_spark.sources.txlog import TxLog

        TxLog(tmp_store_path)  # the index's (current) log
        cfg = {"id_col": "doc_id", "id_type": "long", "k": K, "sep": " "}
        with open(os.path.join(tmp_store_path,
                               "_index_config.json"), "w") as f:
            json.dump(cfg, f, indent=1, sort_keys=True)
        with pytest.raises(ValueError, match="upgrade_format"):
            GramIndex(spark, tmp_store_path, k=K)
        with pytest.raises(ValueError, match="Rebuild"):
            upgrade_format(tmp_store_path)
        with open(os.path.join(tmp_store_path, "_index_config.json")) as f:
            assert json.load(f) == cfg
        # a new index records md5h8
        fresh = GramIndex(
            spark, os.path.join(tmp_store_path, "..", "fresh"), k=K
        )
        assert fresh.params["bucket_scheme"] == "md5h8"
