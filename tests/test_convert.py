"""convert_to_acid on stores written by the retired plain layout, and
upgrade_format on older formats of the transaction-log layout.

The fixtures under ``tests/fixtures/legacy/`` were written by the last
library version that still read each format, together with the rows
that version read back from them (``expected/``): ``alive_data`` and the
full ``latest_meta`` of each ChunkStore, ``df()`` of the KeyValueStore and
the AttrStore, and the reads of each index. A converted or upgraded
directory must read back exactly those rows.

Older transaction-log formats:

- ``chunk_json_checkpoint``: the only checkpoint is JSON without replay
  provenance, and the records it summarizes are pruned (ignoring it
  would lose rows);
- ``chunk_presidecar``: no orphan sidecars and no marker, plus an
  unreferenced staged file no sidecar names;
- ``lexical_r15`` / ``gram_r15``: configs with ``n_buckets`` but no
  ``bucket_scheme``; ``vector_r15``: ``attr_cols`` as a list and no PQ
  or ``train_sample`` keys;
- ``lexical_pre_r15``: built before ``n_buckets`` (first-hex-digit
  buckets), which only a rebuild moves over.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from holcstore_spark import ChunkStoreConfig, convert_to_acid, upgrade_format
from holcstore_spark.sources.attr_store import AttrStore
from holcstore_spark.sources.chunk_store import ChunkStore
from holcstore_spark.sources.gram_index import GramIndex
from holcstore_spark.sources.kv_store import KeyValueStore
from holcstore_spark.sources.lexical_index import LexicalIndex
from holcstore_spark.sources.txlog import TxLog
from holcstore_spark.sources.vector_index import VectorIndex

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "legacy")

#: the plain ChunkStore fixture's config; ``meter`` is an undeclared key
#: the plain layout wrote as a string column (an undeclared key took the
#: string default on a store's first write)
CHUNK_CFG = ChunkStoreConfig(keys=("site", "meter"), freq="1h",
                             tz="Europe/Paris", key_types={"site": "str"})
ACID_CFG = ChunkStoreConfig(keys=("site",), freq="1h", tz="Europe/Paris",
                            key_types={"site": "str"})


def expected(name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(FIXTURES, "expected", f"{name}.parquet"))


def assert_rows_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Equal as row sets: same columns, same dtypes, and the same rows
    once both are sorted by every column."""
    cols = list(want.columns)
    assert sorted(got.columns) == sorted(cols)

    def canon(df):
        return df[cols].sort_values(cols).reset_index(drop=True)

    pd.testing.assert_frame_equal(canon(got), canon(want))


@pytest.fixture()
def legacy(tmp_path):
    """Copy one fixture store into a temp dir; the copy is the source."""
    def copy(name: str) -> str:
        dst = str(tmp_path / name)
        shutil.copytree(os.path.join(FIXTURES, name), dst)
        return dst

    return copy


def open_store(spark, kind: str, path: str):
    if kind == "chunk_plain":
        return ChunkStore(spark, path, CHUNK_CFG)
    if kind == "kv_plain":
        return KeyValueStore(spark, path, attr_cols=("kind",))
    return AttrStore(spark, path, keys=("site", "n"))


class TestLegacyRefusal:
    @pytest.mark.parametrize("kind", ["chunk_plain", "kv_plain", "attr_plain"])
    def test_opening_legacy_dir_raises_and_names_converter(self, spark, legacy, kind):
        src = legacy(kind)
        before = sorted(os.listdir(src))
        with pytest.raises(ValueError, match="convert_to_acid"):
            open_store(spark, kind, src)
        # the refused open wrote nothing into the legacy directory
        assert sorted(os.listdir(src)) == before


class TestConvert:
    def test_chunk_store_round_trip(self, spark, legacy, tmp_path):
        src = legacy("chunk_plain")
        dst = ChunkStore(spark, str(tmp_path / "dst"), CHUNK_CFG)
        convert_to_acid(src, dst)

        want_meta = expected("chunk_plain_latest_meta")
        assert_rows_equal(dst.alive_data().toPandas(), expected("chunk_plain_alive_data"))
        assert_rows_equal(dst.latest_meta().toPandas(), want_meta)
        assert [r.op for r in dst.history().collect()] == ["convert"]
        # the sync watermark carries over with the verbatim meta rows
        assert dst.last_updated_at() == pd.Timestamp(want_meta["updated_at"].max(), tz="UTC")

        # a later write outranks every converted row of its key
        key = {"site": "A", "meter": "1"}
        before = dst.get_ts(key)
        idx = pd.date_range("2024-03-30", periods=48, freq="1h", tz="Europe/Paris")
        dst.set_ts(key, pd.Series(np.full(len(idx), 100.0), index=idx), update=True)
        after = dst.get_ts(key)
        assert (after.loc[idx] == 100.0).all()
        rest = before.index.difference(idx)
        pd.testing.assert_series_equal(after.loc[rest], before.loc[rest], check_freq=False)
        latest = dst.latest_meta(key).toPandas().set_index("chunk_index")
        assert (latest.loc[[24290, 24291], "op_id"] > want_meta["op_id"].max()).all()
        # the source was only read
        assert sorted(os.listdir(src)) == sorted(
            os.listdir(os.path.join(FIXTURES, "chunk_plain"))
        )

    def test_commit_outranks_future_stamped_rows(self, spark, legacy, tmp_path):
        # op_ids written on a host whose clock ran ahead: the convert
        # commit is stamped above them, so a later write still wins
        import glob

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        src = legacy("chunk_plain")
        ahead = 10**17  # about three years of nanoseconds
        for f in glob.glob(os.path.join(src, "meta", "*.parquet")):
            t = pq.read_table(f)
            i = t.schema.get_field_index("op_id")
            t = t.set_column(i, "op_id", pc.add(t["op_id"], ahead))
            pq.write_table(t, f, use_deprecated_int96_timestamps=True)
        top = int(expected("chunk_plain_latest_meta")["op_id"].max()) + ahead
        dst = ChunkStore(spark, str(tmp_path / "dst"), CHUNK_CFG)
        convert_to_acid(src, dst)
        assert dst.history().collect()[0]["op_id"] > top
        key = {"site": "A", "meter": "1"}
        idx = pd.date_range("2024-03-30", periods=48, freq="1h", tz="Europe/Paris")
        dst.set_ts(key, pd.Series(np.full(len(idx), 100.0), index=idx), update=True)
        assert (dst.get_ts(key).loc[idx] == 100.0).all()

    def test_kv_round_trip(self, spark, legacy, tmp_path):
        src = legacy("kv_plain")
        dst = KeyValueStore(spark, str(tmp_path / "dst"), attr_cols=("kind",))
        convert_to_acid(src, dst)
        want = expected("kv_plain_df")
        # the plain layout inferred client_id from its partition directory
        # names (int32); the store schema declares it LongType
        want["client_id"] = want["client_id"].astype("int64")
        assert_rows_equal(dst.df().toPandas(), want)
        assert [r.op for r in dst.history().collect()] == ["convert"]
        got = dst.get_lc("p1", 1)[0]
        assert got["version"] == 1 and len(got["data"]) == 72

    def test_attr_round_trip(self, spark, legacy, tmp_path):
        src = legacy("attr_plain")
        dst = AttrStore(spark, str(tmp_path / "dst"), keys=("site", "n"))
        convert_to_acid(src, dst)
        assert_rows_equal(dst.df().toPandas(), expected("attr_plain_df"))
        assert [r.op for r in dst.history().collect()] == ["convert"]
        assert dst.count() == 2

    def test_guards(self, spark, legacy, tmp_path):
        src = legacy("chunk_plain")
        dst = ChunkStore(spark, str(tmp_path / "dst"), CHUNK_CFG)
        convert_to_acid(src, dst)
        with pytest.raises(ValueError, match="empty destination"):
            convert_to_acid(src, dst)
        # the source holds `meter` as a string column: a destination
        # declaring it int is refused instead of cast
        typed = ChunkStore(spark, str(tmp_path / "typed"), ChunkStoreConfig(
            keys=("site", "meter"), freq="1h", tz="Europe/Paris",
            key_types={"site": "str", "meter": "int"},
        ))
        with pytest.raises(ValueError, match="key column types"):
            convert_to_acid(src, typed)
        assert [r.op for r in typed.history().collect()] == []
        empty = str(tmp_path / "empty")
        os.makedirs(empty)
        with pytest.raises(ValueError, match="no plain-layout"):
            convert_to_acid(empty, ChunkStore(spark, str(tmp_path / "d2"), CHUNK_CFG))

    def test_acid_flagged_store_opens_unchanged(self, spark, legacy):
        path = legacy("chunk_acid")
        with open(os.path.join(path, "_store_config.json")) as f:
            assert json.load(f)["acid"] is True
        st = ChunkStore(spark, path, ACID_CFG)
        assert_rows_equal(st.alive_data().toPandas(), expected("chunk_acid_alive_data"))
        assert_rows_equal(st.latest_meta().toPandas(), expected("chunk_acid_latest_meta"))
        assert len(st.history().collect()) == 4


#: the config every old-format ChunkStore fixture was written with
UPGRADE_CFG = ChunkStoreConfig(keys=("site",), freq="1h", tz="Europe/Paris",
                               key_types={"site": "str"})
OLD_FORMATS = ["chunk_json_checkpoint", "chunk_presidecar", "lexical_r15",
               "gram_r15", "vector_r15", "lexical_pre_r15"]
UPGRADABLE = OLD_FORMATS[:-1]
QUERY_TERMS = ["hash", "join", "scan"]


def open_current(spark, kind: str, path: str):
    if kind.startswith("chunk_"):
        return ChunkStore(spark, path, UPGRADE_CFG)
    if kind == "lexical_r15":
        return LexicalIndex(spark, path, n_buckets=4)
    if kind == "lexical_pre_r15":
        return LexicalIndex(spark, path)
    if kind == "gram_r15":
        return GramIndex(spark, path, k=4, n_buckets=4)
    return VectorIndex(spark, path, n_lists=2, iters=2, dim=64,
                       attr_cols=("lang",))


def tree(path: str) -> dict:
    """Every file under ``path`` with its size and mtime."""
    out = {}
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            st = os.stat(os.path.join(dp, fn))
            out[os.path.relpath(os.path.join(dp, fn), path)] = (
                st.st_size, st.st_mtime_ns,
            )
    return out


class TestOldFormatRefusal:
    @pytest.mark.parametrize("kind", OLD_FORMATS)
    def test_open_refused_names_upgrade_format(self, spark, legacy, kind):
        src = legacy(kind)
        before = tree(src)
        with pytest.raises(ValueError, match=r"holcstore_spark\.upgrade_format"):
            open_current(spark, kind, src)
        assert tree(src) == before  # the refused open wrote nothing

    def test_empty_log_without_marker_is_stamped_not_refused(self, tmp_path):
        # what a creator racing another creator of the same store sees
        os.makedirs(tmp_path / "s" / "_txlog")
        TxLog(str(tmp_path / "s"))
        assert os.path.exists(tmp_path / "s" / "_txlog" / "_orphans" / ".migrated")

    def test_index_built_before_n_buckets_needs_a_rebuild(self, legacy):
        src = legacy("lexical_pre_r15")
        before = tree(src)
        with pytest.raises(ValueError, match="Rebuild"):
            upgrade_format(src)
        assert tree(src) == before

    @pytest.mark.parametrize("kind", UPGRADABLE)
    def test_second_upgrade_is_a_no_op(self, legacy, kind):
        src = legacy(kind)
        upgrade_format(src)
        once = tree(src)
        upgrade_format(src)
        assert tree(src) == once


class TestUpgradeFormat:
    def test_json_checkpoint(self, spark, legacy):
        src = legacy("chunk_json_checkpoint")
        upgrade_format(src)
        log = TxLog(src)
        names = os.listdir(log.dir)
        assert not [n for n in names if n.endswith(".json") and "checkpoint" in n]
        assert log._read_checkpoint(4)["replayed"] == []  # "not observed"
        assert log._read_checkpoint_pointer() == 4
        st = open_current(spark, "chunk_json_checkpoint", src)
        assert_rows_equal(st.alive_data().toPandas(),
                          expected("chunk_json_checkpoint_alive_data"))
        assert_rows_equal(st.latest_meta().toPandas(),
                          expected("chunk_json_checkpoint_latest_meta"))
        # commits continue, and the next checkpoint is parquet with
        # provenance
        st._txlog.CHECKPOINT_INTERVAL = 4
        idx = pd.date_range("2024-03-10", periods=24, freq="1h", tz="Europe/Paris")
        for site in ("f", "g"):
            st.set_ts({"site": site}, pd.Series(np.full(len(idx), 5.0), index=idx))
        cp = st._txlog._read_checkpoint(8)
        assert cp["base"] == 4
        assert [v for v, _ in cp["replayed"]] == [5, 6, 7, 8]
        st = open_current(spark, "chunk_json_checkpoint", src)
        assert sorted(st.latest_meta().toPandas()["site"]) == list("abcdefg")

    def test_presidecar_store(self, spark, legacy):
        import time

        src = legacy("chunk_presidecar")
        stale = os.path.join(src, "files", "0badc0de0badc0de0badc0de0badc0de",
                             "part-00000.zstd.parquet")
        old = time.time() - 7200
        os.utime(stale, (old, old))
        upgrade_format(src)
        assert not os.path.exists(stale)
        assert os.path.exists(os.path.join(src, "_txlog", "_orphans", ".migrated"))
        st = open_current(spark, "chunk_presidecar", src)
        assert_rows_equal(st.alive_data().toPandas(),
                          expected("chunk_presidecar_alive_data"))
        assert_rows_equal(st.latest_meta().toPandas(),
                          expected("chunk_presidecar_latest_meta"))
        idx = pd.date_range("2024-03-10", periods=24, freq="1h", tz="Europe/Paris")
        st.set_ts({"site": "b"}, pd.Series(np.full(len(idx), 6.0), index=idx),
                  update=True)
        assert (st.get_ts({"site": "b"}).loc[idx] == 6.0).all()

    def test_lexical_index(self, spark, legacy):
        src = legacy("lexical_r15")
        upgrade_format(src)
        idx = open_current(spark, "lexical_r15", src)
        assert_rows_equal(idx.topk(QUERY_TERMS, k=10).toPandas(),
                          expected("lexical_r15_topk"))
        assert_rows_equal(idx.doc_lengths().toPandas(),
                          expected("lexical_r15_doc_lengths"))

    def test_gram_index(self, spark, legacy):
        src = legacy("gram_r15")
        upgrade_format(src)
        idx = open_current(spark, "gram_r15", src)
        assert_rows_equal(idx.df().toPandas(), expected("gram_r15_df"))

    def test_vector_index(self, spark, legacy):
        src = legacy("vector_r15")
        upgrade_format(src)
        with open(os.path.join(src, "_index_config.json")) as f:
            cfg = json.load(f)
        assert cfg["attr_cols"] == {"lang": "string"}
        assert (cfg["pq_m"], cfg["pq_centroids"], cfg["train_sample"]) == (None, 16, 0)
        vi = open_current(spark, "vector_r15", src)
        got = vi.df().drop("embedding").toPandas()
        want = expected("vector_r15_df")
        for df in (got, want):
            df["vec_q"] = df["vec_q"].map(tuple)
        assert_rows_equal(got, want)
        # the query vectors the expected top-k was computed for
        q = spark.read.parquet(
            os.path.join(FIXTURES, "expected", "vector_r15_queries.parquet")
        )
        assert_rows_equal(vi.topk(q, k=3, n_probe=2).toPandas(),
                          expected("vector_r15_topk"))
