"""convert_to_acid on stores written by the retired plain layout.

The fixtures under ``tests/fixtures/legacy/`` were written by the last
library version that still had the plain layout, together with the rows
that version read back from them (``expected/``): ``alive_data`` and the
full ``latest_meta`` of each ChunkStore, ``df()`` of the KeyValueStore and
the AttrStore. A converted store must read back exactly those rows.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from holcstore_spark import ChunkStoreConfig, convert_to_acid
from holcstore_spark.sources.attr_store import AttrStore
from holcstore_spark.sources.chunk_store import ChunkStore
from holcstore_spark.sources.kv_store import KeyValueStore

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
