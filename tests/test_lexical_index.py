"""LexicalIndex: the managed BM25 postings index (round 14).

The contract under test is VERDICT r13 gap #2: bm25_topk re-tokenized
the corpus per query; the index must (a) return BIT-IDENTICAL rankings
to the scan operator (shared scoring tail), (b) read only the query
terms' bucket files plus the stats stripe (manifest prune — the whole
point of persisting postings), (c) ingest exactly once under replay,
and (d) follow the documented Lucene deletion semantics.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from holcstore_spark.sources.lexical_index import (
    _STATS_BUCKET,
    LexicalIndex,
    term_bucket,
)


def docs_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


@pytest.fixture()
def corpus(spark):
    return docs_df(spark, [
        (1, "hash join scan hash hash filter"),
        (2, "join join join order by key"),
        (3, "scan only here with filler words"),
        (4, "nothing relevant in this document at all"),
        (5, "hash once then a very long tail of padding tokens here"),
    ])


def rank_rows(df):
    return [
        (r["doc_id"], r["n_terms"], r["score_micro"], r["rank"])
        for r in df.orderBy("rank").collect()
    ]


class TestIndexedEqualsScan:
    def test_topk_matches_bm25_operator_exactly(self, spark,
                                                tmp_store_path, corpus):
        from holcstore_spark.operators.text import bm25_topk

        idx = LexicalIndex(spark, tmp_store_path)
        assert idx.ingest(corpus, txn_app="s", txn_version=0)
        got = rank_rows(idx.topk(["hash", "join", "scan"], k=10))
        want = rank_rows(bm25_topk(corpus, ["hash", "join", "scan"], k=10))
        assert got == want
        # single-term too (different bucket set)
        assert rank_rows(idx.topk(["join"], k=3)) == rank_rows(
            bm25_topk(corpus, ["join"], k=3)
        )

    def test_multi_ingest_stats_accumulate(self, spark, tmp_store_path,
                                           corpus):
        from holcstore_spark.operators.text import bm25_topk

        first = corpus.filter(F.col("doc_id") <= 3)
        second = corpus.filter(F.col("doc_id") > 3)
        idx = LexicalIndex(spark, tmp_store_path)
        assert idx.ingest(first, txn_app="s", txn_version=0)
        assert idx.ingest(second, txn_app="s", txn_version=1)
        # two commits must equal one-shot indexing of the union
        got = rank_rows(idx.topk(["hash", "scan"], k=10))
        want = rank_rows(bm25_topk(corpus, ["hash", "scan"], k=10))
        assert got == want
        s = idx.stats().collect()[0]
        assert s["__n_docs"] == 5

    def test_null_and_empty_text_count_in_n_docs(self, spark,
                                                 tmp_store_path):
        from holcstore_spark.operators.text import bm25_topk

        d = docs_df(spark, [(1, "hash join"), (2, None), (3, "")]).withColumn(
            "text", F.when(F.col("doc_id") == 2, F.lit(None)).otherwise(
                F.col("text"))
        )
        idx = LexicalIndex(spark, tmp_store_path)
        idx.ingest(d, txn_app="s", txn_version=0)
        assert idx.stats().collect()[0]["__n_docs"] == 3
        assert rank_rows(idx.topk(["hash"], k=5)) == rank_rows(
            bm25_topk(d, ["hash"], k=5)
        )


class TestBucketPruning:
    def test_query_reads_only_matching_buckets_and_stripe(
        self, spark, tmp_store_path, corpus
    ):
        idx = LexicalIndex(spark, tmp_store_path)
        idx.ingest(corpus, txn_app="s", txn_version=0)
        snap = idx._txlog.snapshot()
        by_path = {
            os.path.join(idx.path, e["path"]): (e["chunk_min"], e["chunk_max"])
            for e in snap.files["data"]
        }
        # the corpus spreads terms over several buckets; pick one term
        terms = ["join"]
        want = {term_bucket(t) for t in terms}
        read = {
            "/" + p.split("://", 1)[-1].lstrip("/")
            for p in idx.postings(terms).inputFiles()
        }
        by_path = {
            "/" + p.split("://", 1)[-1].lstrip("/"): v
            for p, v in by_path.items()
        }
        for p in read:
            lo, hi = by_path[p]
            assert any(lo <= b <= hi for b in want), (
                f"postings read file of bucket [{lo},{hi}] "
                f"outside query buckets {want}"
            )
        # at least one OTHER bucket exists and was NOT read
        other = [p for p, (lo, hi) in by_path.items()
                 if not any(lo <= b <= hi for b in want)
                 and (lo, hi) != (_STATS_BUCKET, _STATS_BUCKET)]
        assert other, "test corpus must span several buckets"
        assert not (set(other) & read)

    def test_driver_bucket_matches_engine_bucket(self, spark, corpus):
        for nb in (16, 64, 257):
            rows = (
                corpus.select(F.explode(F.split("text", " ")).alias("t"))
                .distinct()
                .select(
                    "t",
                    (
                        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10)
                        .cast("long") % F.lit(nb)
                    ).cast("int").alias("b"),
                )
                .collect()
            )
            for r in rows:
                assert term_bucket(r["t"], nb) == r["b"], (nb, r["t"])

    def test_configurable_bucket_fanout(self, spark, tmp_store_path,
                                        corpus):
        """r15: n_buckets is a frozen per-index knob — a 64-bucket
        index returns the identical ranking (layout-only change) and a
        query still opens only its terms' buckets + the stripe."""
        from holcstore_spark.operators.text import bm25_topk

        idx = LexicalIndex(
            spark, os.path.join(tmp_store_path, "b64"), n_buckets=64
        )
        assert idx.ingest(corpus, txn_app="s", txn_version=0)
        q = ["hash", "join", "scan"]
        assert rank_rows(idx.topk(q, k=10)) == rank_rows(
            bm25_topk(corpus, q, k=10)
        )
        opened = len(idx.topk(q, k=10).inputFiles())
        assert opened <= len(q) + 1  # term buckets + stats stripe
        # the fan-out is frozen: re-opening at another count refuses
        with pytest.raises(ValueError, match="incompatible"):
            LexicalIndex(
                spark, os.path.join(tmp_store_path, "b64"), n_buckets=16
            )
        with pytest.raises(ValueError, match="n_buckets"):
            LexicalIndex(
                spark, os.path.join(tmp_store_path, "bad"), n_buckets=0
            )
        # recompute_stats composes with the wider fan-out
        assert idx.delete([1])
        assert idx.recompute_stats() is True
        assert idx.stats().collect()[0]["__n_docs"] == 4


class TestExactlyOnce:
    def test_replayed_ingest_commits_nothing(self, spark, tmp_store_path,
                                             corpus):
        idx = LexicalIndex(spark, tmp_store_path)
        assert idx.ingest(corpus, txn_app="s", txn_version=0)
        v = idx._txlog.snapshot().version
        n = idx.stats().collect()[0]["__n_docs"]
        assert not idx.ingest(corpus, txn_app="s", txn_version=0)
        assert idx._txlog.snapshot().version == v
        assert idx.stats().collect()[0]["__n_docs"] == n
        assert idx.last_txn_version("s") == 0


class TestLuceneDeletes:
    def test_deleted_doc_vanishes_df_updates_stats_hold(
        self, spark, tmp_store_path, corpus
    ):
        idx = LexicalIndex(spark, tmp_store_path)
        idx.ingest(corpus, txn_app="s", txn_version=0)
        before = {r["doc_id"] for r in idx.topk(["hash"], k=10).collect()}
        assert {1, 5} <= before
        assert idx.delete([1])
        after = idx.topk(["hash"], k=10).collect()
        assert 1 not in {r["doc_id"] for r in after}
        # df now counts live docs only (hash: was 2 docs, now 1)
        df_hash = idx.postings(["hash"]).groupBy("term").count().collect()
        assert df_hash[0]["count"] == 1
        # N keeps the ingested total (documented Lucene semantics)
        assert idx.stats().collect()[0]["__n_docs"] == 5

    def test_optimize_erases_postings_but_preserves_stripe(
        self, spark, tmp_store_path, corpus
    ):
        idx = LexicalIndex(spark, tmp_store_path)
        idx.ingest(corpus, txn_app="s", txn_version=0)
        assert idx.delete([2])
        assert idx.optimize(min_files=1) > 0
        snap = idx._txlog.snapshot()
        raw = spark.read.schema(idx._schema()).parquet(
            *snap.paths("data", idx.path)
        )
        assert raw.filter(F.col("doc_id") == 2).count() == 0
        stripe = raw.filter(F.col("bucket") == _STATS_BUCKET).collect()
        assert len(stripe) == 1 and stripe[0]["tf"] == 5


class TestRecomputeStats:
    def test_post_erasure_topk_equals_fresh_build(
        self, spark, tmp_store_path, corpus
    ):
        """The r14 verdict's done-gate: after delete + recompute_stats
        the index's topk must equal a FRESH index built over only the
        surviving documents, bit-exactly — N/avgdl no longer carry the
        deleted mass."""
        idx = LexicalIndex(spark, os.path.join(tmp_store_path, "a"))
        idx.ingest(corpus, txn_app="s", txn_version=0)
        assert idx.delete([2, 5])
        assert idx.recompute_stats() is True
        fresh = LexicalIndex(spark, os.path.join(tmp_store_path, "b"))
        fresh.ingest(
            corpus.filter(~F.col("doc_id").isin(2, 5)),
            txn_app="s", txn_version=0,
        )
        q = ["hash", "join", "scan"]
        assert rank_rows(idx.topk(q, k=10)) == rank_rows(fresh.topk(q, k=10))
        # the stripe now reads the live totals and the tombstoned rows
        # are physically gone
        s = idx.stats().collect()[0]
        fs = fresh.stats().collect()[0]
        assert (s["__n_docs"], s["__total_dl"]) == (
            fs["__n_docs"], fs["__total_dl"])
        snap = idx._txlog.snapshot()
        raw = spark.read.schema(idx._schema()).parquet(
            *snap.paths("data", idx.path)
        )
        assert raw.filter(F.col("doc_id").isin(2, 5)).count() == 0

    def test_idempotent_and_noop_paths(self, spark, tmp_store_path, corpus):
        idx = LexicalIndex(spark, tmp_store_path)
        idx.ingest(corpus, txn_app="s", txn_version=0)
        # no tombstones: nothing to do, nothing committed
        v0 = idx._txlog.snapshot().version
        assert idx.recompute_stats() is False
        assert idx._txlog.snapshot().version == v0
        assert idx.delete([1])
        assert idx.recompute_stats() is True
        n1 = idx.stats().collect()[0]["__n_docs"]
        assert n1 == 4
        # second call: the erased rows are unattributable AND already
        # subtracted — must find nothing and commit nothing
        v1 = idx._txlog.snapshot().version
        assert idx.recompute_stats() is False
        assert idx._txlog.snapshot().version == v1
        assert idx.stats().collect()[0]["__n_docs"] == 4
        # deleting a never-ingested id pre-forgets it; recompute finds
        # no physical rows for it and stays a no-op
        assert idx.delete([999])
        assert idx.recompute_stats() is False

    def test_optimize_flag_delegates(self, spark, tmp_store_path, corpus):
        idx = LexicalIndex(spark, tmp_store_path)
        idx.ingest(corpus, txn_app="s", txn_version=0)
        assert idx.delete([3])
        idx.optimize(min_files=1, recompute_stats=True)
        assert idx.stats().collect()[0]["__n_docs"] == 4

    def test_multi_ingest_partial_delete(self, spark, tmp_store_path):
        """Correction across several ingest commits (several stripe
        rows collapse into one corrected row) and a delete that spans
        batches."""
        idx = LexicalIndex(spark, os.path.join(tmp_store_path, "a"))
        b1 = docs_df(spark, [(1, "alpha beta"), (2, "beta gamma gamma")])
        b2 = docs_df(spark, [(3, "alpha alpha"), (4, "delta")])
        idx.ingest(b1, txn_app="s", txn_version=0)
        idx.ingest(b2, txn_app="s", txn_version=1)
        assert idx.delete([2, 3])
        assert idx.recompute_stats() is True
        s = idx.stats().collect()[0]
        # live: doc 1 (2 tokens) + doc 4 (1 token)
        assert (s["__n_docs"], s["__total_dl"]) == (2, 3)
        fresh = LexicalIndex(spark, os.path.join(tmp_store_path, "b"))
        fresh.ingest(
            docs_df(spark, [(1, "alpha beta"), (4, "delta")]),
            txn_app="s", txn_version=0,
        )
        assert rank_rows(idx.topk(["alpha", "delta"], k=10)) == \
            rank_rows(fresh.topk(["alpha", "delta"], k=10))


class TestGuards:
    def test_param_mismatch_refused(self, spark, tmp_store_path):
        LexicalIndex(spark, tmp_store_path, sep=" ")
        with pytest.raises(ValueError, match="token universe"):
            LexicalIndex(spark, tmp_store_path, sep=",")

    def test_empty_query_refused(self, spark, tmp_store_path, corpus):
        idx = LexicalIndex(spark, tmp_store_path)
        idx.ingest(corpus, txn_app="s", txn_version=0)
        with pytest.raises(ValueError, match="at least one"):
            idx.topk([])
        with pytest.raises(ValueError, match="at least one"):
            idx.postings([])


class TestConcurrentWriters:
    def test_racing_ingests_both_commit_and_stats_sum(
        self, spark, tmp_store_path, corpus
    ):
        """Two writers ingesting DIFFERENT batches at once (each now
        fans its bucket staging out over driver threads internally):
        pure appends commute, so both commits must land, the stats
        stripe must sum both batches' N/Σdl, and every posting must be
        queryable — the txlog rebase walk under real thread overlap."""
        from concurrent.futures import ThreadPoolExecutor

        first = corpus.filter(F.col("doc_id") <= 3)
        second = corpus.filter(F.col("doc_id") > 3)
        idx = LexicalIndex(spark, tmp_store_path)

        def ingest(args):
            batch, app = args
            return idx.ingest(batch, txn_app=app, txn_version=0)

        with ThreadPoolExecutor(max_workers=2) as ex:
            results = list(ex.map(ingest, [(first, "w1"), (second, "w2")]))
        assert results == [True, True]
        s = idx.stats().collect()[0]
        assert s["__n_docs"] == 5
        # both batches' postings are live and consistent
        from holcstore_spark.operators.text import bm25_topk

        got = [(r["doc_id"], r["score_micro"]) for r in
               idx.topk(["hash", "join", "scan"], k=10).orderBy("rank")
               .collect()]
        want = [(r["doc_id"], r["score_micro"]) for r in
                bm25_topk(corpus, ["hash", "join", "scan"], k=10)
                .orderBy("rank").collect()]
        assert got == want


class TestLegacyBucketScheme:
    """The term→bucket scheme is recorded in every index config. A config
    written before it was (r15: ``n_buckets``, no ``bucket_scheme``) is
    refused at open and moved over by ``upgrade_format``; one written
    before ``n_buckets`` existed (first-hex-digit buckets) is refused by
    the upgrade too, with a pointer to a rebuild."""

    @staticmethod
    def _write_legacy_config(path, params):
        import json

        from holcstore_spark.sources.txlog import TxLog

        TxLog(path)  # the index's (current) log
        with open(os.path.join(path, "_index_config.json"), "w") as f:
            json.dump(params, f, indent=1, sort_keys=True)

    def test_pre_r15_config_adopts_nibble_scheme(self, spark,
                                                 tmp_store_path):
        """Refused at open, refused by the upgrade (a rebuild is the
        way over), and left untouched by both."""
        from holcstore_spark import upgrade_format

        cfg = {"id_col": "doc_id", "id_type": "long", "sep": " "}
        self._write_legacy_config(tmp_store_path, cfg)
        with pytest.raises(ValueError, match="upgrade_format"):
            LexicalIndex(spark, tmp_store_path)
        with pytest.raises(ValueError, match="Rebuild"):
            upgrade_format(tmp_store_path)
        with open(os.path.join(tmp_store_path, "_index_config.json")) as f:
            assert json.load(f) == cfg

    def test_r15_config_keeps_md5h8(self, spark, tmp_store_path):
        """An r15-era config (n_buckets present, no scheme key) was
        built under md5h8: the upgrade records exactly that."""
        from holcstore_spark import upgrade_format

        self._write_legacy_config(tmp_store_path, {
            "id_col": "doc_id", "id_type": "long", "sep": " ",
            "n_buckets": 64,
        })
        with pytest.raises(ValueError, match="upgrade_format"):
            LexicalIndex(spark, tmp_store_path, n_buckets=64)
        upgrade_format(tmp_store_path)
        idx = LexicalIndex(spark, tmp_store_path, n_buckets=64)
        assert idx.params["bucket_scheme"] == "md5h8"
        with open(os.path.join(tmp_store_path, "_index_config.json")) as f:
            assert json.load(f)["bucket_scheme"] == "md5h8"

    def test_new_index_persists_scheme(self, spark, tmp_store_path):
        LexicalIndex(spark, tmp_store_path)
        with open(os.path.join(tmp_store_path,
                               "_index_config.json")) as f:
            assert json.load(f)["bucket_scheme"] == "md5h8"


class TestSuggestNBuckets:
    def test_sizing_rule(self):
        from holcstore_spark.sources.lexical_index import suggest_n_buckets

        # floor at the default fan-out
        assert suggest_n_buckets(0) == 16
        assert suggest_n_buckets(16 << 24) == 16      # exactly full: stay
        assert suggest_n_buckets((16 << 24) + 1) == 32
        # ~2^24 tokens per bucket at scale
        assert suggest_n_buckets(10**9) == 64         # 1G/64 ≈ 15.6M
        assert suggest_n_buckets(10**11) == 8192      # 100G/8192 ≈ 12.2M
        # hard cap matches the constructor's validation ceiling
        assert suggest_n_buckets(10**15) == 65536
        with pytest.raises(ValueError):
            suggest_n_buckets(-1)

    def test_suggestion_is_constructible(self, spark, tmp_store_path):
        from holcstore_spark.sources.lexical_index import (
            LexicalIndex, suggest_n_buckets,
        )

        nb = suggest_n_buckets(10**9)
        idx = LexicalIndex(spark, tmp_store_path, n_buckets=nb)
        assert idx.params["n_buckets"] == nb
