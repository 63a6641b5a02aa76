"""Structured Streaming ingestion + CSV/ZIP admin export."""

from __future__ import annotations

import io
import os
import zipfile

import pandas as pd
from pyspark.sql import functions as F
import pytest

from holcstore_spark import ChunkStoreConfig
from holcstore_spark.edge.admin_export import (
    export_attr_store,
    export_chunk_store,
    export_kv_store,
)
from holcstore_spark.sources.attr_store import AttrStore
from holcstore_spark.sources.chunk_store import ChunkStore
from holcstore_spark.sources.kv_store import KeyValueStore
from holcstore_spark.streaming.ingest import stream_ingest, windowed_rollup


def hourly(start, periods, value=1.0):
    idx = pd.date_range(start, periods=periods, freq="1h", tz="UTC")
    return pd.Series(float(value), index=idx)


class TestAdminExport:
    def test_attr_store_zip_golden_format(self, spark, tmp_store_path):
        # reference tests_admin_download.py:86-87 summary golden
        store = AttrStore(spark, tmp_store_path, keys=("year", "kind"))
        store.set_ts({"year": "2020", "kind": "a"}, hourly("2020-01-01", 3, 1.0))
        store.set_ts({"year": "2020", "kind": "b"}, hourly("2020-01-01", 3, 2.0))
        blob = export_attr_store(store)
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            names = zf.namelist()
            assert names == [
                "export_serie_0.csv", "export_serie_1.csv", "content_summary.csv",
            ]
            summary = zf.read("content_summary.csv").decode()
            header = summary.splitlines()[0]
            assert header == ";filename;year;kind"
            body = zf.read("export_serie_0.csv").decode()
            assert body.splitlines()[0] == ";data"

    def test_chunk_store_zip(self, spark, tmp_store_path):
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year",), key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "cs"), cfg)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 5, 1.0))
        blob = export_chunk_store(st)
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            assert "content_summary.csv" in zf.namelist()
            assert ";filename;site" in zf.read("content_summary.csv").decode()

    def test_kv_store_zip(self, spark, tmp_store_path):
        kv = KeyValueStore(spark, os.path.join(tmp_store_path, "kv"))
        kv.set_lc("p1", hourly("2024-01-01", 3), client_id=1)
        blob = export_kv_store(kv, ["p1"], client_id=1)
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            assert "export_serie_0.csv" in zf.namelist()


class TestSqlSurface:
    def test_chunk_store_views(self, spark, tmp_store_path):
        from holcstore_spark.sql import register_chunk_store

        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year",), key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "sqlv"), cfg)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 5, 3.0))
        views = register_chunk_store(st, "demo")
        assert set(views) == {"demo_data", "demo_meta", "demo_alive"}
        n = spark.sql(
            "SELECT count(*) AS n FROM demo_alive WHERE value IS NOT NULL"
        ).collect()[0]["n"]
        assert n == 5
        meta = spark.sql("SELECT n_points FROM demo_meta").collect()
        assert len(meta) == 1

    def test_over_limit_view_names_truncate_with_digest(self, spark, tmp_store_path):
        # F7: reference truncates over-limit identifiers to prefix+digest
        # (chunk_timeserie_store.py:54-91) — view registration does the same
        from holcstore_spark.functions.naming import DEFAULT_MAX_NAME, safe_name
        from holcstore_spark.sql import register_chunk_store

        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year",), key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "sqlv2"), cfg)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 5, 3.0))
        long_prefix = "p" * 150
        views = register_chunk_store(st, long_prefix)
        assert all(len(v) <= DEFAULT_MAX_NAME for v in views)
        # distinct long prefixes stay distinct after truncation
        assert safe_name(long_prefix + "_data") != safe_name("q" * 150 + "_data")
        n = spark.sql(
            f"SELECT count(*) AS n FROM {safe_name(long_prefix + '_alive')} "
            "WHERE value IS NOT NULL"
        ).collect()[0]["n"]
        assert n == 5


class TestStreamingIngest:
    def test_file_stream_lands_in_store(self, spark, tmp_store_path):
        src = os.path.join(tmp_store_path, "incoming")
        ckpt = os.path.join(tmp_store_path, "ckpt")
        os.makedirs(src)
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "store"), cfg)
        # two files = two ingest batches (availableNow may fold them)
        idx = pd.date_range("2024-01-01", periods=24, freq="1h", tz="UTC")
        ts_us = idx.tz_localize(None).astype("datetime64[us]")  # Spark reads micros
        pd.DataFrame({"site": "a", "ts": ts_us, "value": 1.0}).to_parquet(
            os.path.join(src, "a.parquet")
        )
        pd.DataFrame({"site": "b", "ts": ts_us, "value": 2.0}).to_parquet(
            os.path.join(src, "b.parquet")
        )
        stream = spark.readStream.schema(
            "site string, ts timestamp, value double"
        ).parquet(src)
        q = stream_ingest(st, stream, ckpt, trigger_once=True)
        q.awaitTermination(120)
        assert st.count_keys() == 2
        got = st.get_ts({"site": "a"})
        assert (got.dropna() == 1.0).all() and len(got.dropna()) == 24

    def test_stateful_gap_detect(self, spark, tmp_store_path):
        # two files -> two micro-batches; the gap spans the batch boundary,
        # so detection must come from the persisted per-key state
        from holcstore_spark.streaming.stateful import stream_gap_detect

        src = os.path.join(tmp_store_path, "gap_src")
        ckpt = os.path.join(tmp_store_path, "gap_ckpt")
        os.makedirs(src)
        h1 = pd.date_range("2024-01-01 00:00", periods=3, freq="1h")
        h2 = pd.date_range("2024-01-01 08:00", periods=2, freq="1h")  # 5h gap
        for name, idx in [("a.parquet", h1), ("b.parquet", h2)]:
            pd.DataFrame(
                {"site": "s", "ts": idx.astype("datetime64[us]"), "value": 1.0}
            ).to_parquet(os.path.join(src, name))
        stream = spark.readStream.schema(
            "site string, ts timestamp, value double"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        holes = stream_gap_detect(stream, ("site",), 3600)
        q = (
            holes.writeStream.format("memory").queryName("gaps")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).outputMode("append").start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM gaps").collect()
        assert len(got) == 1
        r = got[0]
        assert r["site"] == "s"
        assert r["hole_start"] == pd.Timestamp("2024-01-01 03:00")
        assert r["hole_end"] == pd.Timestamp("2024-01-01 07:00")
        assert r["gap_seconds"] == 6 * 3600

    def test_windowed_rollup_plan(self, spark):
        # static-frame check of the rollup expression (same code path the
        # stream uses; watermark is a no-op on batch frames)
        pdf = pd.DataFrame(
            {
                "site": ["a"] * 4,
                "ts": pd.date_range("2024-01-01", periods=4, freq="30min"),
                "value": [1.0, 3.0, 5.0, 7.0],
            }
        )
        out = windowed_rollup(spark.createDataFrame(pdf), ("site",), window="1 hour")
        rows = {r["window_start"]: r for r in out.collect()}
        assert len(rows) == 2
        first = rows[pd.Timestamp("2024-01-01 00:00:00")]
        assert first["n"] == 2 and first["mean_value"] == 2.0


class TestStreamSessionsAndDedup:
    def test_session_rollup_merges_by_gap(self, spark, tmp_store_path):
        from holcstore_spark.streaming.ingest import session_rollup

        src = os.path.join(tmp_store_path, "sess_src")
        ckpt = os.path.join(tmp_store_path, "sess_ckpt")
        os.makedirs(src)
        # one user: events at 00:00, 00:30, 01:00 (one session, 30min gaps)
        # then 05:00 (new session). gap=1h → session ends last+1h
        idx = pd.to_datetime(
            ["2024-01-01 00:00", "2024-01-01 00:30", "2024-01-01 01:00",
             "2024-01-01 05:00"]
        )
        pd.DataFrame(
            {"user_id": 1, "ts": idx.astype("datetime64[us]"), "value": 2.0}
        ).to_parquet(os.path.join(src, "a.parquet"))
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src)
        sess = session_rollup(stream, ("user_id",), gap="1 hour",
                              watermark="1 hour", exact_total=True)
        q = (
            sess.writeStream.outputMode("complete").format("memory")
            .queryName("sess_t").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = sorted(
            spark.table("sess_t").collect(), key=lambda r: r["session_start"]
        )
        spark.catalog.dropTempView("sess_t")
        assert len(rows) == 2
        assert rows[0]["n"] == 3 and rows[0]["sum_value"] == 6.0
        assert rows[0]["session_end"] == pd.Timestamp("2024-01-01 02:00")
        assert rows[1]["n"] == 1
        assert rows[1]["session_start"] == pd.Timestamp("2024-01-01 05:00")

    def test_stream_dedup_bounded_state(self, spark, tmp_store_path):
        from holcstore_spark.streaming.ingest import stream_dedup

        src = os.path.join(tmp_store_path, "sd_src")
        ckpt = os.path.join(tmp_store_path, "sd_ckpt")
        os.makedirs(src)
        idx = pd.date_range("2024-01-01", periods=5, freq="1h")
        df = pd.DataFrame(
            {"event_id": range(5), "ts": idx.astype("datetime64[us]"),
             "value": 1.0}
        )
        pd.concat([df, df]).to_parquet(os.path.join(src, "a.parquet"))
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, value double"
        ).parquet(src)
        out = stream_dedup(stream, ("event_id",), watermark="1 hour")
        q = (
            out.writeStream.outputMode("append").format("memory")
            .queryName("sd_t").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.table("sd_t").collect()
        spark.catalog.dropTempView("sd_t")
        assert sorted(r["event_id"] for r in rows) == [0, 1, 2, 3, 4]

    def test_stream_incremental_dedup_foreachbatch_recipe(
        self, spark, tmp_store_path
    ):
        """Round 11: the documented streaming shape for
        dedup_incremental — foreachBatch reads the persisted signature
        index, dedups the micro-batch against history + itself, appends
        the kept docs' bands back to the index; a doc duplicated in a
        LATER batch is caught by the grown index."""
        from holcstore_spark.operators.dedup import (
            dedup_incremental,
            minhash_bands,
        )

        src = os.path.join(tmp_store_path, "sid_src")
        ckpt = os.path.join(tmp_store_path, "sid_ckpt")
        idx_path = os.path.join(tmp_store_path, "sid_index")
        out_path = os.path.join(tmp_store_path, "sid_out")
        os.makedirs(src)
        base = ("the quick brown fox jumps over the lazy dog again and "
                "again today for testing")
        # history: doc 1 — seed the index before any batch
        hist = spark.createDataFrame(
            pd.DataFrame([(1, base)], columns=["doc_id", "text"])
        )
        minhash_bands(hist, "text", "doc_id", 16, 4, 3).write.parquet(idx_path)
        # batch 1 (file a): 10 dups history, 11 fresh; batch 2 (file b):
        # 12 dups the KEPT 11 from batch 1, 13 fresh
        fresh1 = "completely different words about spark engines and joins"
        fresh2 = "novel third document mentioning watermarks and state stores"
        pd.DataFrame([(10, base + " extra"), (11, fresh1)],
                     columns=["doc_id", "text"]).to_parquet(
            os.path.join(src, "a.parquet"))

        def sink(batch, batch_id):
            idx = batch.sparkSession.read.parquet(idx_path)
            kept = dedup_incremental(batch, idx, n_hashes=16, bands=4,
                                     shingle_k=3)
            kept.write.mode("append").parquet(out_path)
            minhash_bands(kept, "text", "doc_id", 16, 4, 3).write.mode(
                "append").parquet(idx_path)

        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        pd.DataFrame([(12, fresh1 + " tail"), (13, fresh2)],
                     columns=["doc_id", "text"]).to_parquet(
            os.path.join(src, "b.parquet"))
        q2 = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
        assert q2.awaitTermination(120)
        kept_ids = sorted(r["doc_id"]
                          for r in spark.read.parquet(out_path).collect())
        # 10 near-dups history(1); 12 near-dups kept 11 via the GROWN
        # index; 11 and 13 survive
        assert kept_ids == [11, 13]


class TestStreamCusum:
    def test_state_continues_across_micro_batches(self, spark, tmp_store_path):
        # two files -> two micro-batches; the drift accumulates ACROSS the
        # boundary, so alarms in batch 2 require the persisted (p, pmin)
        from holcstore_spark.streaming.stateful import stream_cusum

        src = os.path.join(tmp_store_path, "cusum_src")
        ckpt = os.path.join(tmp_store_path, "cusum_ckpt")
        os.makedirs(src)
        # k=2, h=7: each event adds +3 excess; alarm fires at event 4
        # (s=9 wait: s_3=9>7) — events 1-3 in file a, 4-6 in file b
        h1 = pd.date_range("2024-01-01 00:00", periods=3, freq="1h")
        h2 = pd.date_range("2024-01-01 03:00", periods=3, freq="1h")
        for name, idx in [("a.parquet", h1), ("b.parquet", h2)]:
            pd.DataFrame(
                {"site": "s", "ts": idx.astype("datetime64[us]"), "value": 5.0}
            ).to_parquet(os.path.join(src, name))
        stream = spark.readStream.schema(
            "site string, ts timestamp, value double"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        alarms = stream_cusum(stream, ("site",), target_k=2.0, threshold_h=7.0)
        q = (
            alarms.writeStream.format("memory").queryName("cusum")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).outputMode("append").start()
        )
        q.awaitTermination(120)
        got = sorted(spark.sql("SELECT * FROM cusum").collect(),
                     key=lambda r: r["ts_us"])
        # sequential: s = 3,6,9,12,15,18 (thousandths: x1000) -> alarms
        # from event 3 onward; events 4-6 alarm ONLY if state crossed the
        # batch boundary (batch-2-alone would give s = 3,6,9)
        assert [r["cusum_q"] for r in got] == [9000, 12000, 15000, 18000]


class TestStreamIntervalJoin:
    def test_matches_within_window_only(self, spark, tmp_store_path):
        from holcstore_spark.streaming.ingest import stream_interval_join

        src = os.path.join(tmp_store_path, "sj_src")
        ckpt = os.path.join(tmp_store_path, "sj_ckpt")
        os.makedirs(src)
        base = pd.Timestamp("2024-01-01 10:00")
        rows = pd.DataFrame({
            "kind": ["l", "r", "r", "r"],
            "k": ["u"] * 4,
            "ts": [base, base - pd.Timedelta("30min"),
                   base - pd.Timedelta("3h"),       # outside 1h window
                   base + pd.Timedelta("1min")],    # after the left event
            "v": [1.0, 2.0, 3.0, 4.0],
        })
        rows["ts"] = rows["ts"].astype("datetime64[us]")
        rows.to_parquet(os.path.join(src, "a.parquet"))
        schema = "kind string, k string, ts timestamp, v double"
        left = (spark.readStream.schema(schema).parquet(src)
                .filter("kind = 'l'").select("k", "ts", "v"))
        right = (spark.readStream.schema(schema).parquet(src)
                 .filter("kind = 'r'")
                 .select("k", F.col("ts").alias("r_ts"), F.col("v").alias("rv")))
        joined = stream_interval_join(left, right, on=("k",), within_seconds=3600)
        q = (joined.writeStream.format("memory").queryName("sj")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).outputMode("append").start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM sj").collect()
        # only the -30min click is inside [t-1h, t]
        assert len(got) == 1 and got[0]["rv"] == 2.0


class TestChangesStreamSource:
    """Streaming CDC source (streaming/cdf_source.py): the transaction
    log as a Structured Streaming source with commit-version offsets."""

    def test_stream_resume_and_physical_delta(self, spark, tmp_store_path):
        import pandas as pd

        from holcstore_spark import ChunkStoreConfig
        from holcstore_spark.sources.chunk_store import ChunkStore
        from holcstore_spark.streaming.cdf_source import (
            ChunkStoreChangesDataSource,
        )

        try:
            spark.dataSource.register(ChunkStoreChangesDataSource)
        except Exception:
            pass
        p = tmp_store_path + "_cdfsrc"
        ck, sink = p + "_ck", p + "_sink"
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, p, cfg)

        def hourly(s, n, v):
            return pd.Series(
                float(v),
                index=pd.date_range(s, periods=n, freq="1h", tz="UTC"),
            )

        st.set_ts({"site": "a"}, hourly("2024-01-01", 24, 1.0))
        st.set_ts({"site": "a"}, hourly("2024-01-01 05:00", 3, 9.0),
                  update=True)

        def run_once():
            q = (
                spark.readStream.format("holc-changes")
                .option("path", p).option("startingVersion", "earliest")
                .load()
                .writeStream.format("parquet").option("path", sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(180)

        run_once()
        got = spark.read.parquet(sink)
        # earliest→head nets the intermediate rewrite away: one file,
        # 744 dense-January rows, all inserts, 3 of them patched
        assert got.filter("_change_type = 'delete'").count() == 0
        vals = {
            (r[0], r[1]) for r in got.filter("value is not null")
            .groupBy("value").count().collect()
        }
        assert vals == {(1.0, 21), (9.0, 3)}
        # a new commit streams INCREMENTALLY on checkpoint resume
        st.set_ts({"site": "b"}, hourly("2024-02-01", 24, 5.0))
        run_once()
        got = spark.read.parquet(sink)
        assert got.filter("value = 5.0").count() == 24   # only the delta
        assert got.filter("value = 1.0").count() == 21   # batch 1 not re-emitted
        # plain store refused
        import pytest as _pytest
        with _pytest.raises(Exception, match="not an ACID store"):
            (spark.readStream.format("holc-changes")
             .option("path", p + "_nope").load())


class TestChangesStreamSourceHardening:
    """Review r7b: earliest must emit the FULL table even past auto-
    checkpoints; pruned-away offsets must raise, not silently re-emit."""

    def _reader(self, spark, p, starting="earliest"):
        from holcstore_spark.streaming.cdf_source import (
            ChunkStoreChangesDataSource,
        )

        try:
            spark.dataSource.register(ChunkStoreChangesDataSource)
        except Exception:
            pass
        return (spark.readStream.format("holc-changes")
                .option("path", p).option("startingVersion", starting).load())

    def test_earliest_spans_auto_checkpoints(self, spark, tmp_store_path):
        # >32 commits → TxLog auto-checkpointed mid-log; 'earliest' must
        # still emit every live row (v0 = before-everything), not just
        # the post-checkpoint commits
        from holcstore_spark.sources.txlog import TxLog

        p = tmp_store_path + "_big"
        ck, sink = p + "_ck", p + "_sink"
        log = TxLog(p)  # raw-log store shape: one tiny parquet per commit
        import pyarrow as pa
        import pyarrow.parquet as pq

        from holcstore_spark import ChunkStoreConfig
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year",),
                               key_types={"site": "str"})
        cfg.save(p)
        schema = pa.schema([
            ("site", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("value", pa.float64()),
            ("chunk_index", pa.int32()),
        ])
        import datetime as dt
        for i in range(1, 40):
            absd, reld = log.new_staging_dir()
            os.makedirs(absd, exist_ok=True)
            f = os.path.join(absd, "part-0.parquet")
            pq.write_table(pa.table({
                "site": [f"s{i}"],
                "ts": [dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)],
                "value": [float(i)],
                "chunk_index": [1],
            }, schema=schema), f)
            from holcstore_spark.sources.txlog import file_entry
            log.commit(log.snapshot().version, "ins", i,
                       adds={"data": [file_entry(f, os.path.join(reld, "part-0.parquet"))]},
                       removes={})
        assert log._latest_checkpoint(fresh=True) == 32  # precondition
        q = (self._reader(spark, p).writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = spark.read.parquet(sink)
        assert got.count() == 39  # ALL commits, not just 33..39
        assert got.filter("_change_type = 'insert'").count() == 39

    def test_pruned_offset_raises_not_reemits(self, spark, tmp_store_path):
        import pandas as pd

        from holcstore_spark import ChunkStoreConfig
        from holcstore_spark.sources.chunk_store import ChunkStore
        from holcstore_spark.streaming.cdf_source import ChangesStreamReader

        p = tmp_store_path + "_pr"
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, p, cfg)
        for i in range(34):  # crosses the checkpoint interval
            st.set_ts({"site": f"s{i}"}, pd.Series(
                [1.0], index=pd.date_range("2024-01-01", periods=1,
                                           freq="1h", tz="UTC")))
        st._txlog.prune_log()
        rdr = ChangesStreamReader({"path": p})
        with pytest.raises(ValueError, match="no longer reconstructible"):
            rdr.partitions({"version": 5}, {"version": 34})
        with pytest.raises(ValueError, match="inverted offset range"):
            rdr.partitions({"version": 34}, {"version": 5})
        # v0 (earliest) stays valid on the pruned log: full-table batch
        parts = rdr.partitions({"version": 0}, {"version": 34})
        assert all(x.change_type == "insert" for x in parts)


class TestExactlyOnceStreamIngest:
    def test_insert_mode_survives_checkpoint_loss(self, spark, tmp_store_path):
        """The txn_app tier: losing the sink checkpoint replays every
        micro-batch from scratch (batch ids restart at 0) — the log's
        idempotence watermark must skip them all, even in append-mode
        'insert' which would otherwise refuse its own replay."""
        import shutil

        src = os.path.join(tmp_store_path, "eo_incoming")
        ckpt = os.path.join(tmp_store_path, "eo_ckpt")
        os.makedirs(src)
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "eo_store"), cfg)
        idx = pd.date_range("2024-01-01", periods=24, freq="1h", tz="UTC")
        ts_us = idx.tz_localize(None).astype("datetime64[us]")
        pd.DataFrame({"site": "a", "ts": ts_us, "value": 1.0}).to_parquet(
            os.path.join(src, "a.parquet")
        )
        stream = spark.readStream.schema(
            "site string, ts timestamp, value double"
        ).parquet(src)
        q = stream_ingest(st, stream, ckpt, mode="insert",
                          trigger_once=True, txn_app="eo_sink")
        assert q.awaitTermination(120)
        assert st.count_keys() == 1
        assert st.last_txn_version("eo_sink") == 0
        v0 = st._txlog.snapshot().version
        # driver crash-replay, worst case: the checkpoint is GONE
        shutil.rmtree(ckpt)
        q2 = stream_ingest(st, stream, ckpt, mode="insert",
                           trigger_once=True, txn_app="eo_sink")
        assert q2.awaitTermination(120)  # no KeyExistsError raised
        assert st._txlog.snapshot().version == v0  # zero new commits
        got = st.get_ts({"site": "a"})
        assert (got.dropna() == 1.0).all() and len(got.dropna()) == 24

    def test_update_mode_replay_commits_nothing(self, spark, tmp_store_path):
        """VERDICT r10 ask #5: update-mode foreachBatch with txn_app must
        be EXACTLY-once, not merely effectively-once-by-re-merge — a
        replayed batch is skipped by the watermark BEFORE it writes, so
        the log gains zero commits (a re-merge, even an idempotent one,
        would land a rewrite commit)."""
        import shutil

        src = os.path.join(tmp_store_path, "eu_incoming")
        ckpt = os.path.join(tmp_store_path, "eu_ckpt")
        os.makedirs(src)
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "eu_store"), cfg)
        idx = pd.date_range("2024-01-01", periods=24, freq="1h", tz="UTC")
        ts_us = idx.tz_localize(None).astype("datetime64[us]")
        pd.DataFrame({"site": "a", "ts": ts_us, "value": 2.0}).to_parquet(
            os.path.join(src, "a.parquet")
        )
        stream = spark.readStream.schema(
            "site string, ts timestamp, value double"
        ).parquet(src)
        q = stream_ingest(st, stream, ckpt, mode="update",
                          trigger_once=True, txn_app="eu_sink")
        assert q.awaitTermination(120)
        assert st.last_txn_version("eu_sink") == 0
        v0 = st._txlog.snapshot().version
        # checkpoint GONE: batch 0 replays — the watermark must skip it
        # whole, not re-merge it
        shutil.rmtree(ckpt)
        q2 = stream_ingest(st, stream, ckpt, mode="update",
                           trigger_once=True, txn_app="eu_sink")
        assert q2.awaitTermination(120)
        assert st._txlog.snapshot().version == v0  # zero new commits
        # CONTRAST (what makes this exactly-once, not effectively-once):
        # the txn-less tier re-merges the replay and lands a commit
        shutil.rmtree(ckpt)
        q3 = stream_ingest(st, stream, ckpt, mode="update",
                           trigger_once=True)
        assert q3.awaitTermination(120)
        assert st._txlog.snapshot().version > v0
        got = st.get_ts({"site": "a"})
        assert (got.dropna() == 2.0).all() and len(got.dropna()) == 24

    def test_replace_mode_replay_with_different_content_skipped(
        self, spark, tmp_store_path
    ):
        """Replace-mode batch replay carrying DIFFERENT content (the
        checkpoint-loss fold documented in stream_ingest) must be
        skipped whole by the watermark — a re-apply would silently
        shrink the stored span to the replayed frame."""
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "er_store"), cfg)
        idx = pd.date_range("2024-01-01", periods=6, freq="1h", tz="UTC")

        def batch(vals):
            return spark.createDataFrame(pd.DataFrame({
                "site": "a",
                "ts": idx[:len(vals)].tz_localize(None),
                "value": [float(v) for v in vals],
            }))

        st.ingest_long(batch([1, 1, 1, 1, 1, 1]), mode="insert",
                       txn_app="er_sink", txn_version=0)
        st.ingest_long(batch([5, 5, 5, 5, 5, 5]), mode="replace",
                       txn_app="er_sink", txn_version=1)
        v1 = st._txlog.snapshot().version
        # crash-replay of batch 1 with different (folded) content: the
        # watermark must refuse it BEFORE the rewrite
        st.ingest_long(batch([9, 9]), mode="replace",
                       txn_app="er_sink", txn_version=1)
        assert st._txlog.snapshot().version == v1
        got = st.get_ts({"site": "a"})
        assert list(got.dropna()) == [5.0] * 6
        assert st.last_txn_version("er_sink") == 1


class TestChangesRateLimit:
    """maxVersionsPerBatch (round 10): bounded catch-up micro-batches
    for the holc-changes source — Delta's maxFilesPerTrigger shape, in
    commit versions (the unit the offsets already use)."""

    def test_offset_protocol_advances_one_version_per_batch(
            self, spark, tmp_store_path):
        from holcstore_spark.streaming.cdf_source import ChangesStreamReader

        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "rl"), cfg)
        idx = pd.date_range("2024-01-01", periods=4, freq="1h", tz="UTC")
        for i in range(4):
            st.set_ts({"site": f"s{i}"}, pd.Series(1.0, index=idx))
        r = ChangesStreamReader({"path": st.path, "startingVersion": "0",
                                 "maxVersionsPerBatch": "1"})
        o = r.initialOffset()
        # the FIRST batch is uncapped (availableNow's single-batch
        # fallback must drain the whole backlog — review r10): the
        # 4-commit backlog goes in one batch
        n = r.latestOffset()
        assert (o["version"], n["version"]) == (0, 4)
        r.partitions(o, n)
        r.commit(n)
        o = n
        # new commits drain ONE version per batch from here on
        for i in range(3):
            st.set_ts({"site": f"x{i}"},
                      pd.Series(1.0, index=pd.date_range(
                          "2024-01-01", periods=4, freq="1h", tz="UTC")))
        seq = []
        for _ in range(5):
            n = r.latestOffset()
            seq.append((o["version"], n["version"]))
            r.partitions(o, n)
            r.commit(n)
            o = n
        assert seq == [(4, 5), (5, 6), (6, 7), (7, 7), (7, 7)], seq

    def test_unknown_cursor_never_caps_below_checkpointed_start(
            self, spark, tmp_store_path):
        # restart shape: Spark holds the checkpointed offset, the fresh
        # reader doesn't — the first latestOffset must NOT cap (a cap
        # from a guessed base could fall below the checkpointed start
        # and invert the range); the first partitions() call teaches the
        # cursor and every later batch is capped
        from holcstore_spark.streaming.cdf_source import ChangesStreamReader

        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "rl2"), cfg)
        idx = pd.date_range("2024-01-01", periods=4, freq="1h", tz="UTC")
        for i in range(3):
            st.set_ts({"site": f"s{i}"}, pd.Series(1.0, index=idx))
        r = ChangesStreamReader({"path": st.path,
                                 "maxVersionsPerBatch": "1"})
        assert r.latestOffset() == {"version": 3}  # uncapped: cursor unknown
        r.partitions({"version": 2}, {"version": 3})  # checkpoint resume
        st.set_ts({"site": "s9"}, pd.Series(1.0, index=idx))
        st.set_ts({"site": "s8"}, pd.Series(1.0, index=idx))
        assert r.latestOffset() == {"version": 4}  # capped from cursor 3

    def test_nonpositive_cap_rejected_and_guards_precede_replay_skip(
            self, spark, tmp_store_path):
        from holcstore_spark.sources.chunk_store import SyncGuardError
        from holcstore_spark.streaming.cdf_source import ChangesStreamReader

        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "rl3"), cfg)
        with pytest.raises(ValueError, match="positive"):
            ChangesStreamReader({"path": st.path, "maxVersionsPerBatch": "0"})
        with pytest.raises(ValueError, match="positive"):
            ChangesStreamReader({"path": st.path, "maxVersionsPerBatch": "-3"})
        # review r10: a replayed (app, version) must NOT mask argument
        # guards — the watermark proves a write landed, not that THIS
        # call is valid
        idx = pd.date_range("2024-01-01", periods=4, freq="1h", tz="UTC")
        batch = spark.createDataFrame(pd.DataFrame(
            {"site": "a", "ts": idx.tz_localize(None), "value": 1.0}))
        st.ingest_long(batch, mode="insert", txn_app="job", txn_version=7)
        with pytest.raises(ValueError, match="keys must be"):
            st.set_many_ts({("b",): pd.Series(1.0, index=idx)},
                           keys=("wrong",), txn_app="job", txn_version=7)


class TestStreamDomainCap:
    def test_quota_continues_across_micro_batches(self, spark, tmp_store_path):
        # two files -> two micro-batches; the per-domain quota must be
        # consumed ACROSS the boundary (batch 2 alone would admit 3)
        from holcstore_spark.streaming.stateful import stream_domain_cap

        src = os.path.join(tmp_store_path, "quota_src")
        ckpt = os.path.join(tmp_store_path, "quota_ckpt")
        os.makedirs(src)
        # domain d has 3 docs in file a and 3 in file b; cap 4 admits
        # all of batch 1 and only the FIRST (lowest-id) doc of batch 2
        pd.DataFrame({"doc_id": [1, 2, 3], "source": "d"}).to_parquet(
            os.path.join(src, "a.parquet"))
        pd.DataFrame({"doc_id": [6, 5, 4], "source": "d"}).to_parquet(
            os.path.join(src, "b.parquet"))
        stream = spark.readStream.schema(
            "doc_id long, source string"
        ).option("maxFilesPerTrigger", 1).parquet(src)
        kept = stream_domain_cap(stream, group="source", cap=4)
        q = (
            kept.writeStream.format("memory").queryName("quota")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).outputMode("append").start()
        )
        q.awaitTermination(120)
        got = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM quota").collect())
        # within-batch id sort admits 4 (not 6 or 5) from batch 2
        assert got == [1, 2, 3, 4]

    def test_quota_survives_checkpoint_resume(self, spark, tmp_store_path):
        # the state is durable: a SECOND availableNow run resuming the
        # same checkpoint sees the first run's admitted counts
        from holcstore_spark.streaming.stateful import stream_domain_cap

        src = os.path.join(tmp_store_path, "quota2_src")
        ckpt = os.path.join(tmp_store_path, "quota2_ckpt")
        sink = os.path.join(tmp_store_path, "quota2_sink")
        os.makedirs(src)

        def run_once():
            # a FILE sink — memory sinks refuse checkpoint recovery, and
            # resuming the checkpoint is the whole point here
            stream = spark.readStream.schema(
                "doc_id long, source string"
            ).parquet(src)
            q = (
                stream_domain_cap(stream, group="source", cap=2)
                .writeStream.format("parquet").option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).outputMode("append").start()
            )
            assert q.awaitTermination(120)

        pd.DataFrame({"doc_id": [10, 11], "source": "d"}).to_parquet(
            os.path.join(src, "a.parquet"))
        run_once()
        # quota for d is now exhausted; a resumed run must admit nothing
        pd.DataFrame({"doc_id": [1, 2], "source": "d"}).to_parquet(
            os.path.join(src, "b.parquet"))
        pd.DataFrame({"doc_id": [3], "source": "e"}).to_parquet(
            os.path.join(src, "c.parquet"))
        run_once()
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(sink).collect()
        )
        # d stays at its first-run admissions; fresh domain e admits
        assert got == [3, 10, 11]

    def test_cap_validated(self, spark, tmp_store_path):
        from holcstore_spark.streaming.stateful import stream_domain_cap

        empty = os.path.join(tmp_store_path, "quota_empty")
        os.makedirs(empty)
        with pytest.raises(ValueError, match="cap must be >= 1"):
            stream_domain_cap(
                spark.readStream.schema("doc_id long, source string")
                .parquet(empty), cap=0,
            )


class TestStreamPipeline:
    """The composed streaming corpus pipeline (VERDICT r14 ask #4):
    BandIndex near-dup gate → quality gates → GramIndex + LexicalIndex
    ingest, all inside one foreachBatch body, exactly-once across a
    checkpoint-loss replay."""

    def _write_batches(self, src, batches):
        import time
        now = time.time()
        for i, rows in enumerate(batches):
            f = os.path.join(src, f"{i:04d}.parquet")
            pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
                {"text": "object"}
            ).to_parquet(f, index=False)
            os.utime(f, (now + 100 * i, now + 100 * i))

    def _pipeline(self, spark, root):
        from holcstore_spark.sources.band_index import BandIndex
        from holcstore_spark.sources.gram_index import GramIndex
        from holcstore_spark.sources.lexical_index import LexicalIndex

        bi = BandIndex(spark, os.path.join(root, "band"))
        gi = GramIndex(spark, os.path.join(root, "gram"), k=4)
        li = LexicalIndex(spark, os.path.join(root, "lex"))

        def body(batch, batch_id):
            from holcstore_spark.operators.text import gopher_rules

            kept = bi.ingest(batch, txn_app="t", txn_version=batch_id)
            g = gopher_rules(kept).filter(
                "rule_mean_word_len AND rule_alpha_words"
            ).select(*kept.columns)
            gi.ingest(g, txn_app="t", txn_version=batch_id)
            li.ingest(g, txn_app="t", txn_version=batch_id)
            (
                g.select("doc_id").coalesce(1).write.mode("overwrite")
                .parquet(os.path.join(root, "out", f"b{batch_id}"))
            )

        return bi, gi, li, body

    def test_exactly_once_across_checkpoint_loss(self, spark, tmp_store_path):
        import shutil

        src = os.path.join(tmp_store_path, "incoming")
        ckpt = os.path.join(tmp_store_path, "ckpt")
        os.makedirs(src)
        # doc 2 exact-dups doc 1 (same batch, lower id wins); doc 11
        # dups the KEPT doc 1 across the batch boundary; doc 12 dups
        # the DROPPED doc 2 — still dropped (same content class); doc
        # 13 is novel; doc 3 fails the quality gate (mean word len)
        base = "alpha beta gamma delta epsilon zeta eta theta"
        self._write_batches(src, [
            [(1, base), (2, base), (3, "a b c d e f g h")],
            [(11, base), (12, base), (13, "totally different words here now")],
        ])
        bi, gi, li, body = self._pipeline(spark, tmp_store_path)

        def run():
            q = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1).parquet(src)
                .writeStream.foreachBatch(body)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            assert q.awaitTermination(300)

        run()
        kept = sorted(
            r["doc_id"] for r in spark.read.parquet(
                os.path.join(tmp_store_path, "out", "b0"),
                os.path.join(tmp_store_path, "out", "b1"),
            ).collect()
        )
        assert kept == [1, 13]  # 2,11,12 deduped; 3 quality-gated
        # the lexical index holds exactly the survivors
        assert sorted(
            r["doc_id"] for r in li.doc_lengths().collect()
        ) == [1, 13]
        versions = tuple(
            ix._txlog.snapshot().version for ix in (bi, gi, li)
        )
        # worst-case crash: checkpoint GONE, every micro-batch replays
        shutil.rmtree(ckpt)
        run()
        assert versions == tuple(
            ix._txlog.snapshot().version for ix in (bi, gi, li)
        ), "checkpoint-loss replay committed to an index log"
        kept2 = sorted(
            r["doc_id"] for r in spark.read.parquet(
                os.path.join(tmp_store_path, "out", "b0"),
                os.path.join(tmp_store_path, "out", "b1"),
            ).collect()
        )
        assert kept2 == kept
