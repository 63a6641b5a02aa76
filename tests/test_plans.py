"""Plan-shape regression tests: the physical-plan properties PLANS.md
documents are asserted here so a refactor that silently breaks pushdown,
adds a shuffle, or degrades a join to a nested loop fails CI — the scale
contract, executable."""

from __future__ import annotations

import contextlib
import io
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from holcstore_spark import ChunkStoreConfig
from holcstore_spark.sources.chunk_store import ChunkStore
from holcstore_spark.streaming.sync import SyncClient


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_nodes(txt: str, op: str) -> int:
    """Count physical-plan NODES of a type: formatted explain prints each
    node twice (tree sketch + '(id) Op' detail line), so count details."""
    import re

    return len(re.findall(rf"^\(\d+\) {op}\b", txt, flags=re.MULTILINE))


def hourly(start, periods, value=1.0):
    idx = pd.date_range(start, periods=periods, freq="1h", tz="UTC")
    return pd.Series(float(value), index=idx)


class TestStorePlans:
    def test_keyed_bounded_read_prunes_and_pushes(self, spark, tmp_store_path):
        # chunk pruning is manifest file skipping (asserted in
        # test_txlog.py); the key and bound predicates reach the scan
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "p"), cfg)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 24 * 60))
        txt = plan_text(
            st.alive_data({"site": "a"}, start="2024-02-01", end="2024-02-10")
        )
        # key, chunk and ts predicates must reach the parquet scan
        assert "PushedFilters" in txt
        assert "EqualTo(site,a)" in txt
        assert "GreaterThanOrEqual(chunk_index,24289)" in txt
        assert "LessThanOrEqual(chunk_index,24289)" in txt

    def test_tombstone_free_read_has_no_join(self, spark, tmp_store_path):
        # non-sync store with zero tombstones: physical rows ARE the alive
        # rows — no semi-join stage may appear
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year",), key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "nt"), cfg)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 48))
        assert n_nodes(plan_text(st.alive_data({"site": "a"})), r"\w*Join") == 0


class TestOperatorPlans:
    def test_asof_join_single_exchange_no_join(self, spark):
        from holcstore_spark.operators.asof import asof_join

        base = pd.Timestamp("2024-01-01", tz="UTC")
        left = spark.createDataFrame(pd.DataFrame(
            {"k": "a", "ts": [base], "lv": [1]}
        ))
        right = spark.createDataFrame(pd.DataFrame(
            {"k": "a", "ts": [base], "rv": [2]}
        ))
        txt = plan_text(asof_join(left, right, on="k"))
        assert n_nodes(txt, "Exchange") == 1, txt
        assert n_nodes(txt, r"\w*Join") == 0, txt

    def test_range_join_never_nested_loop(self, spark):
        from holcstore_spark.operators.intervals import point_in_interval_join

        points = spark.createDataFrame(pd.DataFrame({
            "user_id": [1], "ts": [pd.Timestamp("2024-01-01", tz="UTC")],
        }))
        iv = spark.createDataFrame(pd.DataFrame({
            "user_id": [1],
            "start_ts": [pd.Timestamp("2024-01-01", tz="UTC")],
            "end_ts": [pd.Timestamp("2024-01-02", tz="UTC")],
        }))
        txt = plan_text(point_in_interval_join(points, iv, on=("user_id",)))
        assert "BroadcastNestedLoopJoin" not in txt
        assert "CartesianProduct" not in txt

    def test_sessionize_single_exchange(self, spark):
        from holcstore_spark.operators.sessions import sessionize

        d = spark.createDataFrame(pd.DataFrame({
            "user_id": [1, 1],
            "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]),
        }))
        txt = plan_text(sessionize(d, ("user_id",), gap_seconds=1800))
        assert n_nodes(txt, "Exchange") == 1, txt

    def test_pack_manifest_no_global_window_over_corpus(self, spark):
        # the corpus-side cumsum must be partitioned by bucket; only the
        # one-row-per-bucket offsets frame may carry an unpartitioned
        # window. Verify the corpus window node carries the bucket key.
        from holcstore_spark.operators.packing import pack_manifest

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(10), "text": ["a b"] * 10
        }))
        txt = plan_text(pack_manifest(d, bucket_size=4))
        # broadcast of the bucket-offsets side keeps the big side unshuffled
        # beyond the bucket-partitioned window exchange
        assert "__bucket" in txt
        assert "BroadcastHashJoin" in txt or "BroadcastExchange" in txt

    def test_text_stats_zero_exchange(self, spark):
        from holcstore_spark.operators.text import text_stats

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1], "text": ["hello world"]
        }))
        assert "Exchange" not in plan_text(text_stats(d))

    def test_quality_threshold_mode_no_window_broadcast_cuts(self, spark):
        # the scale path must be window-free (a per-lang window funnels the
        # corpus through len(langs) tasks) with the cutoffs broadcast
        from holcstore_spark.operators.text import quality_top_fraction

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(8), "lang": ["en"] * 8,
            "quality": [i / 10 for i in range(8)],
        }))
        txt = plan_text(quality_top_fraction(d, 0.5, by="lang", mode="threshold"))
        assert n_nodes(txt, "Window") == 0, txt
        assert "BroadcastHashJoin" in txt or "BroadcastExchange" in txt

    def test_cluster_representatives_no_window(self, spark):
        # argmax via max_by aggregate (map-side combinable), never a window
        from holcstore_spark.operators.dedup import cluster_representatives

        comp = spark.createDataFrame(pd.DataFrame({
            "node": [1, 2], "comp": [1, 1]
        }))
        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2], "n_chars": [5, 9]
        }))
        txt = plan_text(cluster_representatives(comp, docs))
        assert n_nodes(txt, "Window") == 0, txt
        assert "max_by" in txt or "maxby" in txt.lower(), txt

    def test_hash_split_zero_exchange(self, spark):
        from holcstore_spark.operators.sampling import hash_split

        d = spark.createDataFrame(pd.DataFrame({"doc_id": [1]}))
        txt = plan_text(
            hash_split(d, ["doc_id"], {"train": 0.8, "valid": 0.1, "test": 0.1})
        )
        assert "Exchange" not in txt

    def test_doc_chunks_zero_exchange(self, spark):
        # chunking must pipeline into the scan: sequence+explode+substr
        # are narrow ops, any Exchange here would shuffle the whole corpus
        from holcstore_spark.operators.text import doc_chunks

        d = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x" * 400]}))
        assert "Exchange" not in plan_text(doc_chunks(d))

    def test_quantize_embeddings_zero_exchange(self, spark):
        from holcstore_spark.operators.similarity import quantize_embeddings

        d = spark.createDataFrame(pd.DataFrame({"vec_id": [1], "embedding": [[1.0, 0.5]]}))
        assert "Exchange" not in plan_text(quantize_embeddings(d))

    def test_value_histogram_single_exchange_partial_agg(self, spark):
        # one shuffle on (keys, bin); HashAggregate above AND below it
        # proves the count is map-side combined before the exchange
        from holcstore_spark.operators.stats import value_histogram

        d = spark.createDataFrame(pd.DataFrame({"g": ["a"], "value": [1.0]}))
        txt = plan_text(value_histogram(d, ("g",)))
        assert n_nodes(txt, "Exchange") == 1, txt
        assert n_nodes(txt, "HashAggregate") == 2, txt

    def test_percentile_rollup_single_exchange(self, spark):
        from holcstore_spark.operators.stats import percentile_rollup

        d = spark.createDataFrame(pd.DataFrame({"g": ["a"], "value": [1.0]}))
        txt = plan_text(percentile_rollup(d, ("g",)))
        assert n_nodes(txt, "Exchange") == 1, txt

    def test_operators_accept_timestamp_ntz_inputs(self, spark):
        # raw parquet reads often surface TIMESTAMP_NTZ; every epoch_us
        # consumer must analyze cleanly on NTZ (regression: unix_micros
        # rejects NTZ with DATATYPE_MISMATCH)
        from holcstore_spark.operators.asof import asof_join
        from holcstore_spark.operators.resample import (
            sliding_window_rollup, time_bucket_rollup,
        )
        from holcstore_spark.operators.sessions import session_stats

        d = spark.createDataFrame(
            pd.DataFrame({"k": ["a"], "ts": [pd.Timestamp("2024-01-01 05:30:00")],
                          "value": [1.0]})
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        assert dict(d.dtypes)["ts"] == "timestamp_ntz"
        assert sliding_window_rollup(d, ("k",), 7200, 3600).count() == 2
        assert time_bucket_rollup(d, ("k",), 3600).count() == 1
        assert session_stats(d, key="k", gap_seconds=60).count() == 1
        assert asof_join(d, d.withColumnRenamed("value", "rv"), on="k",
                         tolerance_seconds=60).count() == 1

    def test_normalize_zero_exchange(self, spark):
        from holcstore_spark.operators.text import normalize_text

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2], "lang": ["en", "fr"], "text": ["A b", "c D"]}))
        assert "Exchange" not in plan_text(normalize_text(d))

    def test_sampling_trio_never_collects_group_counts(self, spark,
                                                       monkeypatch):
        """r16 (VERDICT r15 perf-weak #1): temperature_sample,
        rebalance_mix and cluster_balanced_sample must derive their
        keep-thresholds DISTRIBUTIVELY — constructing the result may
        launch NO Spark action at all (a 100-TB corpus has 10^7-10^8
        domains; collecting per-domain counts is a driver bottleneck).
        Every driver-side materialization path is poisoned; the plans
        must still build."""
        from pyspark.sql import DataFrame

        from holcstore_spark.operators.sampling import (
            rebalance_mix, temperature_sample,
        )

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4], "lang": ["en", "fr", "en", "fr"]}))
        e = spark.createDataFrame(pd.DataFrame({
            "vec_id": [1, 2],
            "embedding": [[1.0] * 8, [0.5] * 8]}))

        def boom(self, *a, **k):  # pragma: no cover - must not fire
            raise AssertionError("driver-side materialization in a "
                                 "sampling operator")

        for name in ("collect", "toPandas", "count", "first", "head",
                     "take", "isEmpty", "toLocalIterator"):
            monkeypatch.setattr(DataFrame, name, boom)
        t = temperature_sample(d, "lang", ["doc_id"])
        r = rebalance_mix(d, "lang", {"en": 1, "fr": 1}, ["doc_id"])
        monkeypatch.undo()
        # the lazily-built plans execute correctly afterwards
        assert {x["lang"] for x in t.collect()} <= {"en", "fr"}
        assert r.count() == 4  # equal counts & weights: all kept

    def test_cluster_balanced_sample_bounded_driver_traffic(self, spark,
                                                            monkeypatch):
        """cluster_balanced_sample trains centroids (bounded:
        n_clusters×dim driver traffic is metadata) but the
        temperature-sampling stage must not collect per-cluster
        counts: only the centroid-fitting collect() is allowed."""
        from pyspark.sql import DataFrame

        from holcstore_spark.operators.similarity import (
            cluster_balanced_sample,
        )

        e = spark.createDataFrame(pd.DataFrame({
            "vec_id": list(range(8)),
            "embedding": [[float(i % 2)] * 4 for i in range(8)]}))
        calls = {"collect": 0}
        real_collect = DataFrame.collect

        def counted(self, *a, **k):
            calls["collect"] += 1
            return real_collect(self, *a, **k)

        def boom(self, *a, **k):  # pragma: no cover
            raise AssertionError("unexpected driver materialization")

        monkeypatch.setattr(DataFrame, "collect", counted)
        for name in ("toPandas", "count", "first", "head", "take"):
            monkeypatch.setattr(DataFrame, name, boom)
        out = cluster_balanced_sample(e, n_clusters=2, iters=1)
        centroid_collects = calls["collect"]
        monkeypatch.undo()
        # k-means fitting is allowed its bounded centroid collects;
        # nothing else (the old per-cluster counts collect is gone)
        assert centroid_collects <= 3, centroid_collects
        assert out.count() > 0

    def test_collocations_topk_never_global_window_over_corpus(self, spark):
        # top-k must be TakeOrderedAndProject; the only Window ranks the
        # <= k surviving rows after the limit
        from holcstore_spark.operators.text import bigram_collocations

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1], "text": ["a b a b a b a b a b"]}))
        txt = plan_text(bigram_collocations(d, min_count=1, k=5))
        assert "TakeOrderedAndProject" in txt, txt


class TestBatchReadPlans:
    def _composite_store(self, spark, tmp_store_path):
        cfg = ChunkStoreConfig(keys=("site", "meter"), freq="1h", tz="UTC",
                               chunk_axis=("year",),
                               key_types={"site": "str", "meter": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "bb"), cfg)
        st.set_many_ts({
            (s_, m_): hourly("2024-01-01", 24)
            for s_ in ("a", "b", "c") for m_ in ("x", "y", "z")
        })
        return st

    def test_sparse_composite_batch_returns_asked_tuples(self, spark, tmp_store_path):
        # 5 asked tuples whose per-column IN sets span 5 × 5 = 25 key
        # combinations, 13 of them stored: the read returns exactly the
        # asked tuples, each equal to its alive_data rows
        from holcstore_spark.edge.pandas_bridge import long_to_series

        st = self._composite_store(spark, tmp_store_path)
        st.set_many_ts({
            (s_, m_): hourly("2024-01-01", 24, value=10 * i + j)
            for i, s_ in enumerate(("d", "e"))
            for j, m_ in enumerate(("v", "w"))
        })
        tuples = [("a", "x"), ("b", "y"), ("c", "z"), ("d", "v"), ("e", "w")]
        got = st.get_batch_ts([{"site": s_, "meter": m_} for s_, m_ in tuples])
        assert set(got) == set(tuples)
        ref = st.alive_data({
            "site__in": [s_ for s_, _ in tuples],
            "meter__in": [m_ for _, m_ in tuples],
        }).toPandas()
        for (s_, m_), series in got.items():
            rows = ref[(ref["site"] == s_) & (ref["meter"] == m_)]
            want = long_to_series(rows.reset_index(drop=True), st.config.tz)
            valid = want.notna()  # the chunk grid's NaN bounds are trimmed
            want = want.loc[valid.idxmax(): valid[::-1].idxmax()]
            pd.testing.assert_series_equal(series, want, check_freq=False)

    def test_sparse_composite_batch_results_exact(self, spark, tmp_store_path):
        st = self._composite_store(spark, tmp_store_path)
        st.set_many_ts({
            (s_, m_): hourly("2024-01-01", 24)
            for s_ in ("d", "e") for m_ in ("v", "w")
        })
        asked = [{"site": s_, "meter": m_}
                 for s_, m_ in (("a", "x"), ("b", "y"), ("c", "z"),
                                 ("d", "v"), ("e", "w"))]
        got = st.get_batch_ts(asked)
        assert set(got) == {("a", "x"), ("b", "y"), ("c", "z"),
                            ("d", "v"), ("e", "w")}
        for series in got.values():
            assert series.notna().sum() == 24


def jobs_of(spark, fn) -> list:
    """Spark job ids ``fn`` launched, counted in a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def budget_store(spark, tmp_store_path, name):
    cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                           chunk_axis=("year", "month"),
                           key_types={"site": "str"})
    st = ChunkStore(spark, os.path.join(tmp_store_path, name), cfg)
    st.set_many_ts({
        (s_,): hourly("2024-01-01", 24 * 40, value=i)
        for i, s_ in enumerate(("a", "b", "c"))
    })
    return st


class TestKeyedReadJobBudget:
    def test_keyed_reads_launch_no_spark_job(self, spark, tmp_store_path):
        # the job budget of a keyed read is zero: get_ts, its alias and
        # get_batch_ts are answered on the driver, tombstones included
        st = budget_store(spark, tmp_store_path, "jobs")
        st.delete({"site": "c"})
        assert st._any_tombstones()

        def keyed_reads():
            assert (st.get_ts({"site": "a"}, "2024-01-02", "2024-01-03") == 0).all()
            assert st.get_ts_local({"site": "b"}) is not None
            got = st.get_batch_ts([{"site": s_} for s_ in ("a", "b", "c")])
            assert set(got) == {("a",), ("b",)}

        assert jobs_of(spark, keyed_reads) == []
        # the probe does see jobs: the Spark read path launches some
        assert jobs_of(spark, lambda: st.alive_data({"site": "a"}).count()) != []


class TestWriteJobBudget:
    def test_single_series_writes_launch_no_spark_job(self, spark, tmp_store_path):
        # set_ts in every mode and a keyed delete run on the driver: the
        # ACID store stages their files with Arrow, no Spark job
        st = budget_store(spark, tmp_store_path, "wjobs")
        assert jobs_of(spark, lambda: st.set_ts(
            {"site": "d"}, hourly("2024-01-01", 24, 4.0))) == []
        # the patch lands in the Spark-written file that holds a, b and c
        assert jobs_of(spark, lambda: st.set_ts(
            {"site": "a"}, hourly("2024-01-05", 24, 9.0), update=True)) == []
        # b's January chunk is tombstoned, its February chunk rewritten
        assert jobs_of(spark, lambda: st.set_ts(
            {"site": "b"}, hourly("2024-02-01", 24, 5.0), replace=True)) == []
        got = {}
        assert jobs_of(spark, lambda: got.update(n=st.delete({"site": "c"}))) == []
        assert got["n"] == 2

        a = st.get_ts({"site": "a"})
        assert (a["2024-01-05 00:00":"2024-01-05 23:00"] == 9.0).all()
        assert (a["2024-01-06":] == 0.0).all() and len(a) == 24 * 40
        b = st.get_ts({"site": "b"})
        assert (b == 5.0).all() and len(b) == 24
        assert st.get_ts({"site": "c"}) is None
        assert (st.get_ts({"site": "d"}) == 4.0).all()
        # control: a filter that does not pin the key stays distributed
        assert jobs_of(spark, lambda: st.delete({"site__startswith": "d"})) != []
        assert st.get_ts({"site": "d"}) is None


def _fragmented_table(spark, kind, path):
    """A manifest table of ``kind`` whose data files are fragmented
    enough for ``optimize(min_files=2)`` to repack something."""
    def docs(lo, hi):
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": range(lo, hi),
            "text": [" ".join(f"w{i}x{j}" for j in range(12))
                     for i in range(lo, hi)],
        }))

    if kind == "chunk_store":
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        t = ChunkStore(spark, path, cfg)
        for s_ in ("a", "b", "c"):
            t.set_ts({"site": s_}, hourly("2024-01-01", 24))
    elif kind == "kv_store":
        from holcstore_spark.sources.kv_store import KeyValueStore

        t = KeyValueStore(spark, path)
        for i in range(3):
            t.set_lc("p", hourly("2024-01-01", 24, value=i), client_id=1,
                     versionning=True)
    elif kind == "attr_store":
        from holcstore_spark.sources.attr_store import AttrStore

        t = AttrStore(spark, path, keys=("k",))
        for k in ("a", "b", "c"):
            t.set_ts({"k": k}, hourly("2024-01-01", 24))
    elif kind == "band_index":
        from holcstore_spark.operators.dedup import minhash_bands
        from holcstore_spark.sources.band_index import BandIndex

        t = BandIndex(spark, path)
        for v, (lo, hi) in enumerate(((0, 20), (20, 40))):
            t.append_bands(minhash_bands(docs(lo, hi)), txn_app="s",
                           txn_version=v)
    elif kind == "gram_index":
        from holcstore_spark.sources.gram_index import GramIndex

        t = GramIndex(spark, path, k=4)
        for v, (lo, hi) in enumerate(((0, 20), (20, 40))):
            t.ingest(docs(lo, hi), txn_app="s", txn_version=v).collect()
    elif kind == "lexical_index":
        from holcstore_spark.sources.lexical_index import LexicalIndex

        t = LexicalIndex(spark, path)
        for v, (lo, hi) in enumerate(((0, 20), (20, 40))):
            t.ingest(docs(lo, hi), txn_app="s", txn_version=v)
    else:
        from holcstore_spark.sources.vector_index import VectorIndex

        import numpy as np

        vecs = np.random.default_rng(0).standard_normal((200, 64))
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        t = VectorIndex(spark, path, n_lists=4, iters=2, dim=64)
        for v in (0, 1):
            t.append(emb.filter(F.col("vec_id") % 2 == v), txn_app="s",
                     txn_version=v)
    return t


class TestMaintenanceJobGroup:
    """perfbench attributes every Spark job to the verb that launched it
    through the caller's job group (``bench.unattributed_jobs``): the
    maintenance verbs of every manifest table must launch no job outside
    the group they are called in — the repack fan-out's pool threads
    included."""

    @pytest.mark.parametrize("kind", [
        "chunk_store", "kv_store", "attr_store", "band_index",
        "gram_index", "lexical_index", "vector_index",
    ])
    def test_optimize_and_vacuum_stay_in_caller_group(
        self, spark, tmp_store_path, kind
    ):
        t = _fragmented_table(spark, kind, os.path.join(tmp_store_path, kind))
        tracker = spark.sparkContext.statusTracker()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        got = {}
        in_group = jobs_of(spark, lambda: got.update(n=t.optimize(min_files=2)))
        in_group += jobs_of(spark, lambda: t.vacuum(retention_seconds=0))
        assert got["n"] >= 1, "optimize repacked nothing"
        outside = set(tracker.getJobIdsForGroup(None)) - ungrouped
        assert not outside, f"jobs outside the caller's group: {sorted(outside)}"
        assert in_group  # the repack's jobs, all attributed


def sync_pair(spark, tmp_store_path, name):
    cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                           chunk_axis=("year", "month"), allow_sync=True,
                           key_types={"site": "str"})
    root = os.path.join(tmp_store_path, name)
    return (ChunkStore(spark, os.path.join(root, "server"), cfg),
            ChunkStore(spark, os.path.join(root, "replica"), cfg))


def long_frame(spark, keys, start, hours, value):
    idx = pd.date_range(start, periods=hours, freq="1h", tz="UTC")
    return spark.createDataFrame(pd.concat(
        [pd.DataFrame({"site": k, "ts": idx, "value": float(value)})
         for k in keys], ignore_index=True))


class TestBulkJobBudget:
    """Upper bounds on the Spark jobs of the bulk write and sync verbs,
    counted in job groups (each AQE stage is a job). At or below
    APPEND_KEYS_CAP series the metadata plan runs on the driver, so the
    jobs left are the data plan's: the bounds collect and one staged
    write (its range-partition sample plus the write's stages). A
    metadata-only pull and the watermark run none."""

    def test_ingest_long_modes(self, spark, tmp_store_path):
        server, _ = sync_pair(spark, tmp_store_path, "ing")
        ins = ChunkStore(spark, os.path.join(tmp_store_path, "ins"), ChunkStoreConfig(
            keys=("site",), freq="1h", tz="UTC",
            chunk_axis=("year", "month"), key_types={"site": "str"}))
        five = [f"s{i}" for i in range(5)]
        jobs = {
            "insert": jobs_of(spark, lambda: ins.ingest_long(
                long_frame(spark, five, "2024-01-01", 24 * 40, 1.0))),
            "update_new": jobs_of(spark, lambda: server.ingest_long(
                long_frame(spark, five, "2024-01-01", 24 * 31, 1.0),
                mode="update")),
            # an update of existing chunks reads them back in its rewrite
            "update": jobs_of(spark, lambda: server.ingest_long(
                long_frame(spark, five[:2], "2024-01-05", 24 * 7, 2.0),
                mode="update")),
            "replace": jobs_of(spark, lambda: server.ingest_long(
                long_frame(spark, five[:1], "2024-02-03", 24 * 10, 3.0),
                mode="replace")),
        }
        budget = {"insert": 7, "update_new": 7, "update": 10, "replace": 7}
        counts = {k: len(v) for k, v in jobs.items()}
        assert all(counts[k] <= budget[k] for k in budget), counts
        a = server.get_ts({"site": "s0"})
        assert (a == 3.0).all() and len(a) == 24 * 10  # February only
        b = server.get_ts({"site": "s1"})
        assert (b["2024-01-05":"2024-01-11"] == 2.0).all()
        assert (b["2024-01-12":] == 1.0).all()

    def test_pull_paths(self, spark, tmp_store_path):
        server, replica = sync_pair(spark, tmp_store_path, "pull")
        sync = SyncClient(server, replica)
        five = [f"s{i}" for i in range(5)]
        got, counts = {}, {}

        def pull(name, n):
            counts[name] = len(jobs_of(spark, lambda: got.update(n=sync.pull())))
            assert got["n"] == n, name

        counts["watermark"] = len(jobs_of(spark, replica.last_updated_at))
        pull("empty", 0)
        server.ingest_long(long_frame(spark, five, "2024-01-01", 24 * 31, 1.0),
                           mode="update")
        pull("bulk", 5)                 # only new chunks arrive
        server.ingest_long(long_frame(spark, five[:2], "2024-01-05", 24, 2.0),
                           mode="update")
        pull("paged", 2)                # one page: the chunks exist on the replica
        server.delete({"site": "s4"})
        files = replica._txlog.snapshot().files["data"]
        pull("tombstones", 1)
        # the tombstone-only pull staged no (empty) data file
        assert replica._txlog.snapshot().files["data"] == files
        pull("empty_again", 0)
        counts["watermark_again"] = len(jobs_of(spark, replica.last_updated_at))
        budget = {"watermark": 0, "empty": 0, "bulk": 4, "paged": 4,
                  "tombstones": 0, "empty_again": 0, "watermark_again": 0}
        assert all(counts[k] <= budget[k] for k in budget), counts
        assert replica.last_updated_at() == server.last_updated_at()
        for k in five[:4]:
            pd.testing.assert_series_equal(
                replica.get_ts({"site": k}), server.get_ts({"site": k}),
                check_freq=False)
        assert replica.get_ts({"site": "s4"}) is None


class TestKvAttrJobBudget:
    """Upper bounds on the Spark jobs of the KeyValueStore and AttrStore
    verbs, which the benchmark does not run: their staged writes and
    manifest reads share the ChunkStore code, so a job added there shows
    here. Each verb is counted after one warm call of the same shape."""

    def test_kv_verbs(self, spark, tmp_store_path):
        from holcstore_spark.sources.kv_store import KeyValueStore

        kv = KeyValueStore(spark, os.path.join(tmp_store_path, "kvjobs"))
        s = hourly("2024-01-01", 24)
        counts = {}
        for p in ("warm", "p"):
            for verb, fn in (
                ("set_lc insert", lambda: kv.set_lc(p, s, client_id=1)),
                ("set_lc versioned", lambda: kv.set_lc(
                    p, s * 2, client_id=1, versionning=True)),
                ("set_lc overwrite", lambda: kv.set_lc(p, s * 3, client_id=1)),
                ("get_lc", lambda: kv.get_lc(p, 1)),
                ("clear", lambda: kv.clear([p], 1)),
            ):
                counts[verb] = len(jobs_of(spark, fn))
        budget = {"set_lc insert": 3, "set_lc versioned": 5,
                  "set_lc overwrite": 3, "get_lc": 4, "clear": 3}
        assert all(counts[k] <= budget[k] for k in budget), counts
        assert kv.get_lc("p", 1) == [] and kv.get_lc("warm", 1) == []

    def test_attr_verbs(self, spark, tmp_store_path):
        from holcstore_spark.sources.attr_store import AttrStore

        at = AttrStore(spark, os.path.join(tmp_store_path, "atjobs"),
                       keys=("k",))
        s = hourly("2024-01-01", 24)
        counts = {}
        for p in ("warm", "p"):
            for verb, fn in (
                ("set_ts insert", lambda: at.set_ts({"k": p}, s)),
                ("set_ts update", lambda: at.set_ts(
                    {"k": p}, s * 2, update=True)),
                ("set_ts replace", lambda: at.set_ts(
                    {"k": p}, s * 3, replace=True)),
                ("get_ts", lambda: at.get_ts({"k": p})),
                ("set_many_ts", lambda: at.set_many_ts(
                    {(f"{p}1",): s, (f"{p}2",): s})),
                ("delete", lambda: at.delete({"k": p})),
            ):
                counts[verb] = len(jobs_of(spark, fn))
        # reads carry the table schema, so no footer-inference job runs
        budget = {"set_ts insert": 5, "set_ts update": 8,
                  "set_ts replace": 5, "get_ts": 3, "set_many_ts": 7,
                  "delete": 5}
        assert all(counts[k] <= budget[k] for k in budget), counts
        assert at.get_ts({"k": "p"}) == []
        assert list(at.get_ts({"k": "p1"}, flat=True)) == [1.0] * 24


class TestAnalyticsJobBudget:
    """The hole chain of the analytics queries: read a versioned store,
    fold the versions, find the holes, merge them. The hole pass is one
    window over the overlay, so the store is scanned once and
    merge_intervals reuses its partitioning (no extra shuffle)."""

    S, E = "2024-01-03 00:00:00", "2024-02-02 00:00:00"

    @pytest.fixture()
    def versioned(self, spark, tmp_store_path):
        cfg = ChunkStoreConfig(keys=("site", "version"), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str", "version": "int"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "ana"), cfg)
        series = {}
        for i, site in enumerate(("a", "b", "c")):
            base = hourly("2024-01-01", 24 * 40, value=i)
            series[(site, 0)] = base.drop(base.index[100 + 30 * i:160 + 30 * i])
            series[(site, 1)] = hourly("2024-01-10", 24 * 5, value=9.0)
        st.set_many_ts(series)
        return st

    def _chain(self, store):
        from holcstore_spark.operators.grid import completeness_holes
        from holcstore_spark.operators.intervals import merge_intervals
        from holcstore_spark.operators.overlay import overlay_merge

        d = store.alive_data(None, self.S, self.E).filter(F.col("value").isNotNull())
        ov = overlay_merge(d, combined_by=("site",), order_by=("-version",))
        holes = completeness_holes(ov, ("site",), 3600, start=self.S,
                                   end=self.E, margin_seconds=3 * 3600)
        merged = merge_intervals(
            holes.select("site", F.col("hole_start").alias("start"),
                         F.col("hole_end").alias("end")),
            keys=("site",))
        return holes, merged

    def test_hole_chain_jobs_and_single_scan(self, spark, versioned):
        holes, merged = self._chain(versioned)
        got = {}
        counts = {
            "holes": len(jobs_of(spark, lambda: got.update(h=holes.collect()))),
            "merged": len(jobs_of(spark, lambda: got.update(m=merged.collect()))),
        }
        assert counts["holes"] <= 3 and counts["merged"] <= 3, counts
        # each site has one hole, its version-0 gap, so one merged interval
        assert sorted(r["site"] for r in got["h"]) == ["a", "b", "c"]
        assert len(got["m"]) == 3
        for df in (holes, merged):
            txt = plan_text(df)
            assert n_nodes(txt, "Scan parquet") == 1, txt
        # merge_intervals adds no exchange on top of the hole pass
        assert (n_nodes(plan_text(merged), "Exchange")
                == n_nodes(plan_text(holes), "Exchange"))

    def test_plan_build_skips_call_site_capture(self, spark, versioned,
                                                monkeypatch):
        import pyspark.errors.utils as perr

        assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
        assert perr.is_debugging_enabled() is False

        def capture(*_a, **_k):
            raise AssertionError("call site captured while building a plan")

        monkeypatch.setattr(perr, "_capture_call_site", capture)
        holes, merged = self._chain(versioned)
        plan_text(merged)


class TestArrowFilterParity:
    """One filter dialect on both engines: ``arrow_filter`` (driver-side
    pyarrow scans) selects the same rows as ``attrs_filter`` (Spark)."""

    LOOKUPS = [
        ({"s": "b"}, {"i": 3}),
        ({"s": None}, {"i": None}),
        ({"s__in": ["a", "c", "zz"]}, {"i__in": [-7, 3, 99]}),
        ({"s__gt": "b"}, {"i__gt": 0}),
        ({"s__gte": "b"}, {"i__gte": 3}),
        ({"s__lt": "c"}, {"i__lt": -3}),
        ({"s__lte": "c"}, {"i__lte": -3}),
        ({"s__ne": "b"}, {"i__ne": 3}),
        ({"s__isnull": True}, {"i__isnull": True}),
        ({"s__isnull": False}, {"i__isnull": False}),
        ({"s__contains": "b"}, {"i__contains": "1"}),
        ({"s__startswith": "a"}, {"i__startswith": "-"}),
        ({"s__startswith": "a", "s__ne": "ab"}, {"i__mod": (3, 1)}),
        ({"s__in": ["ab", "b"], "i__gte": 0}, {"i__mod": (3, -1)}),
        ({}, {"i__mod": (7, 0)}),
    ]

    @pytest.mark.parametrize("str_filter,int_filter", LOOKUPS)
    def test_same_rows(self, spark, str_filter, int_filter):
        import pyarrow as pa

        from holcstore_spark.plans.predicates import arrow_filter, attrs_filter

        s_ = ["a", "ab", "b", "bc", "c", None, "abc", "cb", "b", "ba"]
        i_ = [-7, -3, 0, 1, 3, None, 10, -10, 11, 4]
        tbl = pa.table({"row": pa.array(range(10), pa.int64()),
                        "s": pa.array(s_, pa.string()),
                        "i": pa.array(i_, pa.int64())})
        sdf = spark.createDataFrame(list(zip(range(10), s_, i_)),
                                    schema="row long, s string, i long")
        for flt in (str_filter, int_filter):
            want = sorted(r[0] for r in sdf.filter(attrs_filter(flt)).select("row").collect())
            expr = arrow_filter(flt)
            got = tbl if expr is None else tbl.filter(expr)
            assert sorted(got.column("row").to_pylist()) == want, flt


class TestModLookup:
    def test_mod_lookup_selects_cohort(self, spark):
        from holcstore_spark.plans.predicates import attrs_filter

        df = spark.range(0, 20).withColumnRenamed("id", "user_id")
        got = sorted(
            r[0] for r in
            df.filter(attrs_filter({"user_id__mod": (7, 2)})).collect()
        )
        assert got == [2, 9, 16]


class TestCdfPlans:
    def test_changes_between_reads_only_changed_files(self, spark, tmp_store_path):
        """The CDF contract's scale claim, plan-asserted: the physical
        plan scans ONLY the files the interval's commits touched (each
        side referenced by both exceptAll branches), never the table."""
        import pandas as pd

        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "cdfp"), cfg)

        def h(v):
            return pd.Series(float(v), index=pd.date_range(
                "2024-01-01", periods=24, freq="1h", tz="UTC"))

        for i in range(6):
            st.set_ts({"site": f"s{i}"}, h(1.0))
        v1 = st._txlog.snapshot().version
        st.set_ts({"site": "s0"}, h(9.0), replace=True)
        n_live = len(st._txlog.snapshot().files["data"])
        assert n_live >= 6  # the table is bigger than the delta
        txt = st.changes_between(v1)._jdf.queryExecution().executedPlan().toString()
        import re
        path_counts = [int(m) for m in re.findall(r"(\d+) paths", txt)]
        assert path_counts, "expected file-list scans in the plan"
        # every scan is bounded by the changed-file count (1 added + 1
        # removed here), far below the live table's file count
        assert max(path_counts) <= 2 < n_live


class TestKeyStatsFileSkipping:
    """Manifest key-stats file skipping on the READ path (round 10): a
    point lookup must open only the files whose per-file key range can
    hold the requested series — not every file of the chunk."""

    def _acid_store(self, spark, tmp_store_path, name):
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        return ChunkStore(spark, os.path.join(tmp_store_path, name), cfg)

    def test_point_lookup_opens_one_file(self, spark, tmp_store_path):
        st = self._acid_store(spark, tmp_store_path, "ks1")
        # 6 separate inserts -> 6 files in the SAME month chunk, each
        # with a tight single-site key range
        for s in ["alpha", "bravo", "carol", "delta", "echo", "fox"]:
            st.set_ts({"site": s}, hourly("2024-01-01", 24, value=1.0))
        n_live = len(st._txlog.snapshot().files["data"])
        assert n_live >= 6
        d = st.alive_data({"site": "delta"})
        opened = d.inputFiles()
        assert len(opened) < n_live, "no key-stats skipping happened"
        assert len(opened) <= 2  # the matching file (+1 stat overlap slack)
        got = st.get_ts({"site": "delta"})
        assert len(got) == 24 and (got == 1.0).all()

    def test_in_list_and_conservative_lookups(self, spark, tmp_store_path):
        st = self._acid_store(spark, tmp_store_path, "ks2")
        for s in ["alpha", "bravo", "carol", "delta"]:
            st.set_ts({"site": s}, hourly("2024-01-01", 24, value=2.0))
        n_live = len(st._txlog.snapshot().files["data"])
        # __in prunes to the matching subset
        d = st.alive_data({"site__in": ["alpha", "delta"]})
        assert len(d.inputFiles()) < n_live
        # 24 written hours per site (the chunk is dense-grid padded)
        assert d.filter(F.col("value").isNotNull()).count() == 48
        # a range lookup has no finite candidate set: every file opens,
        # and the result is still exact
        d2 = st.alive_data({"site__gte": "carol"})
        assert len(d2.inputFiles()) == n_live
        assert d2.select("site").distinct().count() == 2

    def test_null_and_type_mismatch_stay_conservative(self, spark,
                                                      tmp_store_path):
        from holcstore_spark.plans.pruning import key_equality_values
        from holcstore_spark.sources.txlog import entry_may_hold

        # None can hide in any file (stats ignore nulls): no pruning key
        assert key_equality_values({"site": None}) == {}
        assert key_equality_values({"site__in": ["a", None]}) == {}
        # conjunctive eq+in intersects; disjoint -> dropped (no pruning)
        kv = key_equality_values({"site": "a", "site__in": ["a", "b"]})
        assert kv == {"site": ["a"]}
        assert key_equality_values({"site": "a", "site__in": ["b"]}) == {}
        # incomparable stat/value types never skip
        e = {"key_stats": {"site": ["a", "c"]}}
        assert entry_may_hold(e, key_values={"site": [7]}) is True
        assert entry_may_hold(e, key_values={"site": ["b"]}) is True
        assert entry_may_hold(e, key_values={"site": ["z"]}) is False
        assert entry_may_hold({"key_stats": None}, key_values={"site": ["z"]}) is True


class TestKvKeyStatsFileSkipping:
    def test_kv_point_read_opens_matching_files_only(self, spark,
                                                     tmp_store_path):
        from holcstore_spark.sources.kv_store import KeyValueStore

        kv = KeyValueStore(spark, os.path.join(tmp_store_path, "kvks"))
        for cid in (1, 2):
            for p in ("pa", "pb", "pc"):
                # versioned appends: one immutable file per write, so the
                # table is fragmented across (tenant, prm) files
                kv.set_many_lc({p: hourly("2024-01-01", 4)}, client_id=cid,
                               versionning=True)
        n_live = len(kv._txlog.snapshot().files["data"])
        assert n_live >= 6
        d = kv._df_pruned(1, ["pb"])
        assert len(d.inputFiles()) < n_live
        # and the public read is exact through the pruned path
        got = kv.get_lc("pb", 1)
        assert len(got) == 1 and len(got[0]["data"]) == 4
        # absent key: zero files opened, empty result (not an error)
        assert kv.get_lc("zz", 1) == []


class TestAttrKeyStatsFileSkipping:
    def test_attr_point_read_opens_matching_files_only(self, spark,
                                                       tmp_store_path):
        from holcstore_spark.sources.attr_store import AttrStore

        at = AttrStore(spark, os.path.join(tmp_store_path, "atks"),
                       keys=("k",))
        for k in ("alpha", "bravo", "carol", "delta"):
            at.set_many_ts({(k,): hourly("2024-01-01", 4)})
        n_live = len(at._txlog.snapshot().files["data"])
        assert n_live >= 4
        d = at._df_pruned({"k": "bravo"})
        assert len(d.inputFiles()) < n_live
        got = at.get_ts({"k": "bravo"})
        assert len(got) == 1 and len(got[0]["data"]) == 4
        # a range lookup stays conservative AND exact
        got2 = at.get_ts({"k__gte": "carol"})
        assert sorted(e["k"] for e in got2) == ["carol", "delta"]


class TestPruningReviewFindings:
    def test_one_shot_iterator_in_lookup_survives(self, spark,
                                                  tmp_store_path):
        # review r10: key_equality_values must NOT consume a one-shot
        # iterable passed as __in — attrs_filter needs it unconsumed
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"site": "str"})
        st = ChunkStore(spark, os.path.join(tmp_store_path, "it"), cfg)
        st.set_ts({"site": "a"}, hourly("2024-01-01", 4))
        d = st.alive_data({"site__in": iter(["a"])})
        assert d.filter(F.col("value").isNotNull()).count() == 4

    def test_bool_txn_version_rejected(self, spark, tmp_store_path):
        # review r10: bool would persist as JSON true and dodge the
        # rebase-walk duplicate check — reject loudly everywhere
        import pytest as _pytest

        from holcstore_spark.sources.txlog import TxLog, resolve_txn

        with _pytest.raises(ValueError, match="integer"):
            resolve_txn("app", True)
        log = TxLog(os.path.join(tmp_store_path, "boollog"))
        with _pytest.raises(ValueError, match="integer"):
            log.commit(0, "x", 1, adds={"data": []}, removes={},
                       txn_app="app", txn_version=True)


class TestSemanticDedupPlan:
    def test_single_exchange_no_join(self, spark):
        # keep-set computed per cluster inside ONE applyInPandas group
        # pass: a pairs-materialize + anti-join formulation would show a
        # second exchange and a join
        from holcstore_spark.operators.similarity import semantic_dedup

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        txt = plan_text(semantic_dedup(e, n_clusters=4, threshold=0.5,
                                       iters=1))
        assert n_nodes(txt, "Exchange") == 1, txt
        assert n_nodes(txt, r"\w*Join") == 0, txt


class TestFilteredAnnPlan:
    def test_ivf_filter_pushed_to_candidate_scan_below_probe_join(
            self, spark):
        # round 12: ivf_topk(filters=) must place the attribute predicate
        # BELOW the probe-list join — i.e. pushed into the candidate
        # parquet scan (PushedFilters), so pruned rows are never
        # centroid-assigned, joined, or scored. A post-filter formulation
        # would show the label predicate in a Filter ABOVE the join and
        # no In(label,...) at any scan.
        from holcstore_spark.operators.similarity import ivf_topk

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 100 == 0)
        txt = plan_text(ivf_topk(e, q, k=3, n_lists=4, n_probe=2, iters=1,
                                 filters={"label__in": [2, 5, 7]}))
        assert "PushedFilters" in txt, txt
        assert "In(label, [2,5,7])" in txt, txt

    def test_pq_filter_pushed_to_candidate_scan_below_adc_join(self, spark):
        from holcstore_spark.operators.similarity import pq_topk

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 100 == 0)
        txt = plan_text(pq_topk(e, q, k=3, m=4, n_centroids=4, iters=1,
                                dim=64, filters={"label__gte": 5}))
        assert "GreaterThanOrEqual(label,5)" in txt, txt


class TestIncrementalDedupPlan:
    def test_bounded_exchanges_plus_broadcast_anti_join(self, spark):
        # round 11/13: the dropped-id set must reach the anti-join
        # WITHOUT its own distinct() shuffle (LeftAnti ignores
        # build-side duplicates) and via a broadcast. Exchanges: the
        # band-bucket groupBy plus one SIGNATURE-sized per-document
        # min-aggregate per live minhash_bands call (r13 — both sides
        # are computed live here; production reads the index side from
        # parquet, pre-hashed). The raw batch rows never shuffle.
        from pyspark.sql import functions as F

        from holcstore_spark.operators.dedup import (
            dedup_incremental,
            minhash_bands,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        history = docs.filter(F.col("doc_id") % 3 != 0)
        new = docs.filter(F.col("doc_id") % 3 == 0)
        index = minhash_bands(history, "text", "doc_id", 16, 4, 3)
        kept = dedup_incremental(new, index)
        txt = plan_text(kept)
        # single-frame batch — the classic shape: bucket groupBy + 2
        # live signature aggregates and no more (a distinct on the
        # dropped ids would add a fourth), the batch rows never
        # shuffle, broadcast anti-join, and no driver-built frame
        # (Scan ExistingRDD) anywhere in the lineage.
        assert n_nodes(txt, "Exchange") == 3, txt
        assert "BroadcastHashJoin LeftAnti" in txt, txt
        assert n_nodes(txt, "Scan ExistingRDD") == 0, txt
        # the signature aggregates are map-side combined: partial
        # HashAggregates appear below their Exchanges
        assert txt.count("partial_min") >= 1 or "partial" in txt.lower(), txt

    def test_signature_aggregate_is_hash_not_sort(self, spark):
        # r16: the per-document min-signature aggregate runs on BIGINT
        # hash values (order-preserving conv of the fixed-width hex), so
        # it stays a codegen HashAggregate — min(string) has no mutable
        # UnsafeRow buffer and demoted the whole aggregate to
        # Sort + SortAggregate over the exploded shingle-hash frame
        # (the largest intermediate of the minhash family).
        from holcstore_spark.operators.dedup import minhash_bands

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        txt = plan_text(minhash_bands(docs, "text", "doc_id", 16, 4, 3))
        assert n_nodes(txt, "SortAggregate") == 0, txt
        assert n_nodes(txt, "HashAggregate") >= 1, txt

    def test_dropped_pipeline_shared_across_union_branches(self, spark):
        # the entry fixture's _docs_with_dups shape: a 3-branch Union
        # batch. The optimizer pushes the dropped-id anti-join below
        # the union, so the LAZY plan carries one copy of the dropped
        # lineage per branch — but the copies are canonically
        # identical, and the ACTUALLY-EXECUTED plan must dedupe them
        # via exchange reuse so the band pipeline computes once.
        # Measurement trap this test pins against: .count()/.write()
        # build their OWN QueryExecution, so the executed plan must be
        # read after an action on THIS frame (collect), where
        # isFinalPlan=true and the reused copies show as
        # ReusedExchange.
        from pyspark.sql import functions as F

        from holcstore_spark.operators.dedup import (
            dedup_incremental,
            minhash_bands,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        batch = (
            docs.filter(F.col("doc_id") % 3 == 0)
            .unionByName(
                docs.filter(F.col("doc_id") % 3 == 1)
                .withColumn("doc_id", F.col("doc_id") + 1_000_000)
            )
            .unionByName(
                docs.filter(F.col("doc_id") % 3 == 2)
                .withColumn("doc_id", F.col("doc_id") + 2_000_000)
            )
        )
        index = minhash_bands(
            docs.filter(F.col("doc_id") % 7 == 0), "text", "doc_id", 16, 4, 3
        )
        kept = dedup_incremental(batch, index)
        kept.collect()
        executed = kept._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in executed, executed
        # the duplicated dropped-lineage copies must be runtime-reused,
        # not recomputed per branch: with 3 branches, at least 2 of the
        # 3 pushed-down anti-join build sides are ReusedExchange
        assert executed.count("ReusedExchange") >= 2, executed
        # and nothing got pinned into a driver-built frame to do it
        assert "Scan ExistingRDD" not in executed, executed


class TestKnnGraphPlan:
    def test_blocked_scoring_is_cogroup_never_pair_join(self, spark):
        # round 13: both knn_graph sides are corpus-sized. The per-list
        # scoring must be ONE FlatMapCoGroupsInPandas on the list id —
        # vectors cross the Arrow boundary once per (probe, list)
        # membership, never once per pair — with no join node of any
        # kind (a pair-materializing equi-join was measured 151 s vs
        # ~4 s at 50k×64-dim) and no cross join / corpus broadcast.
        # Exchanges: the two cogroup sides + the final top-k window.
        from holcstore_spark.operators.similarity import knn_graph

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        txt = plan_text(knn_graph(emb, k=2, n_lists=4, n_probe=2, iters=1))
        assert n_nodes(txt, "FlatMapCoGroupsInPandas") == 1, txt
        assert n_nodes(txt, r"\w*Join") == 0, txt
        assert n_nodes(txt, "CartesianProduct") == 0, txt
        assert n_nodes(txt, "Exchange") == 3, txt
        assert n_nodes(txt, "Window") == 1, txt

    def test_exact_mode_is_the_only_cross_join(self, spark):
        # the n² reference mode is explicit opt-in and must broadcast
        # one side rather than nested-loop both
        from holcstore_spark.operators.similarity import knn_graph

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        txt = plan_text(knn_graph(emb, k=2, exact=True))
        assert n_nodes(txt, "BroadcastNestedLoopJoin") + n_nodes(
            txt, "CartesianProduct") >= 1, txt


class TestBm25Plan:
    def test_topk_is_distributed_take_ordered(self, spark):
        # the k cut must be TakeOrdered (distributed partial top-k),
        # never an unpartitioned corpus-wide row_number window; the
        # rank window runs AFTER the limit, over <= k rows
        from holcstore_spark.operators.text import bm25_topk

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(20),
            "text": [f"alpha beta w{i}" for i in range(20)],
        }))
        txt = plan_text(bm25_topk(d, ["alpha", "beta"], k=3))
        assert "TakeOrdered" in txt, txt
        # NO Window node at all (r15): the <= k survivors are ranked by
        # the bounded_rank sort_array fold (collect_list aggregate +
        # posexplode Generate), which never triggers WindowExec's
        # single-partition warning; the Generate sits ABOVE the
        # TakeOrdered in the tree (formatted explain prints root first)
        assert n_nodes(txt, "Window") == 0, txt
        assert "Generate" in txt, txt
        assert txt.index("Generate") < txt.index("TakeOrdered"), txt

    def test_collocations_and_rrf_are_window_free(self, spark):
        # the other two r15 bounded_rank sites: same contract — a
        # distributed TakeOrdered cut, zero Window nodes anywhere
        from holcstore_spark.operators.similarity import rrf_fuse
        from holcstore_spark.operators.text import bigram_collocations

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(10),
            "text": [f"alpha beta gamma w{i}" for i in range(10)],
        }))
        txt = plan_text(bigram_collocations(d, k=5))
        assert "TakeOrdered" in txt, txt
        assert n_nodes(txt, "Window") == 0, txt
        r1 = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3], "rank": [1, 2, 3]})
        )
        r2 = spark.createDataFrame(
            pd.DataFrame({"doc_id": [3, 1, 2], "rank": [1, 2, 3]})
        )
        txt = plan_text(rrf_fuse([r1, r2], k=3))
        assert "TakeOrdered" in txt, txt
        assert n_nodes(txt, "Window") == 0, txt

    def test_pack_manifest_has_no_unpartitioned_window(self, spark):
        # every Window in the prefix-sum pipeline is PARTITIONED (the
        # bucket / super-bucket cumsums); the only global step is the
        # sorted-array fold over super-bucket totals
        from holcstore_spark.operators.packing import pack_manifest

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(30),
            "text": ["tok " * (i % 5 + 1) for i in range(30)],
        }))
        txt = plan_text(pack_manifest(d, block_tokens=8, bucket_size=4))
        import re

        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", txt):
            spec = m.group(1)
            # a partitioned spec lists partition cols before the sort
            # spec; an empty partition starts with the order column's
            # ASC/DESC marker only — assert the partition column is
            # present (the spec must reference __bucket or __sbucket)
            assert "__bucket" in spec or "__sbucket" in spec, txt
