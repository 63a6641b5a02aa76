"""Single-series writes staged with Arrow on the driver.

``set_ts`` and the keyed ``delete`` write their files with pyarrow into
the same ACID transaction the Spark verbs use. These tests pin that the
two writers make one table: equal parquet physical schemas, and a store
written by both that agrees with a dict-of-Series model of the
reference semantics (``update`` is ``new.combine_first(existing)``,
``replace`` tombstones the chunks outside the new span) through every
read surface.
"""

from __future__ import annotations

import collections
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from holcstore_spark import ChunkStoreConfig
from holcstore_spark.sources.chunk_store import (
    ChunkStore,
    KeyExistsError,
    SyncGuardError,
)
from holcstore_spark.streaming.sync import SyncClient

TZ = "Europe/Paris"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="holc_aw_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def store(spark, tmpdir, name, keys=("site",), allow_sync=False, key_types=None):
    cfg = ChunkStoreConfig(
        keys=keys, freq="1h", tz=TZ, chunk_axis=("year", "month"),
        key_types=key_types or {k: "str" for k in keys},
        allow_sync=allow_sync,
    )
    return ChunkStore(spark, os.path.join(tmpdir, name), cfg)


def series(start, hours, seed, holes=True):
    idx = pd.date_range(pd.Timestamp(start, tz=TZ), periods=hours, freq="1h")
    v = np.round(np.random.RandomState(seed).rand(hours) * 100, 3)
    if holes:
        v[hours // 3: hours // 3 + 5] = np.nan
    return pd.Series(v, index=idx)


class Model:
    """What the store must hold: per key tuple, the non-NaN points as a
    UTC-indexed Series."""

    def __init__(self, keys):
        self.keys = tuple(keys)
        self.s: dict[tuple, pd.Series] = {}

    def write(self, kt, serie, mode):
        new = serie.tz_convert("UTC").dropna()
        if mode == "update" and kt in self.s:
            new = new.combine_first(self.s[kt])
        self.s[kt] = new

    def delete(self, kt):
        self.s.pop(kt, None)

    def window(self, kt, start=None, end=None):
        s = self.s.get(kt, pd.Series(dtype="float64"))
        lo = None if start is None else pd.Timestamp(start, tz=TZ).tz_convert("UTC")
        hi = None if end is None else pd.Timestamp(end, tz=TZ).tz_convert("UTC")
        return s.loc[lo:hi]


def check_get_ts(st, model, start=None, end=None):
    for kt in model.s:
        attrs = dict(zip(model.keys, kt))
        want = model.window(kt, start, end)
        got = st.get_ts(attrs, start, end)
        if want.empty:
            assert got is None, kt
            continue
        got = got.dropna()
        assert str(got.index.tz) == TZ
        assert (got.index.tz_convert("UTC") == want.index).all(), kt
        np.testing.assert_array_equal(got.to_numpy(), want.to_numpy())


def alive_points(st, keys) -> dict[tuple, pd.Series]:
    pdf = st.alive_data().toPandas().dropna(subset=["value"])
    out = {}
    for kt, g in pdf.groupby(list(keys)):
        kt = kt if isinstance(kt, tuple) else (kt,)
        idx = pd.DatetimeIndex(pd.to_datetime(g["ts"], utc=True))
        out[kt] = pd.Series(g["value"].to_numpy(), index=idx).sort_index()
    return out


def check_alive_data(st, model):
    got = alive_points(st, model.keys)
    assert set(got) == set(model.s)
    for kt, want in model.s.items():
        assert (got[kt].index == want.index).all(), kt
        np.testing.assert_array_equal(got[kt].to_numpy(), want.to_numpy())


def physical_rows(sdf, cols) -> collections.Counter:
    pdf = sdf.select(*cols).toPandas()
    pdf["value"] = pdf["value"].astype(object).where(pdf["value"].notna(), None)
    return collections.Counter(pdf.itertuples(index=False, name=None))


class TestWriterParity:
    def test_arrow_and_spark_files_share_physical_schema(self, spark, tmpdir):
        st = store(spark, tmpdir, "parity", keys=("site", "meter"),
                   key_types={"site": "str", "meter": "int"})
        st.set_ts({"site": "a", "meter": 1}, series("2024-01-01", 24 * 40, 1))
        st.set_ts({"site": "b", "meter": 2}, series("2024-01-01", 48, 2))
        st.delete({"site": "b", "meter": 2})
        arrow = st._txlog.snapshot()
        st.compact()  # Spark restages every live file
        spark_snap = st._txlog.snapshot()

        def footer(entry):
            return pq.ParquetFile(os.path.join(st.path, entry["path"])).metadata

        def physical(entry):
            sch = footer(entry).schema
            return tuple(
                (c.name, c.physical_type, c.max_definition_level)
                for c in (sch.column(i) for i in range(len(sch)))
            )

        for table in ("data", "meta"):
            a = {physical(e) for e in arrow.files[table]}
            s = {physical(e) for e in spark_snap.files[table]}
            assert len(a) == 1 and a == s, table
            # the two sides really come from different writers
            assert all(
                b"org.apache.spark.version" not in (footer(e).metadata or {})
                for e in arrow.files[table]
            )
            assert all(
                b"org.apache.spark.version" in footer(e).metadata
                for e in spark_snap.files[table]
            )
        # the same rows (a's series) take no more bytes in the Arrow file
        def size(entry):
            return os.path.getsize(os.path.join(st.path, entry["path"]))

        a_file = [e for e in arrow.files["data"] if e["key_stats"]["site"][0] == "a"]
        assert len(a_file) == 1 and len(spark_snap.files["data"]) == 1
        assert a_file[0]["rows"] == spark_snap.files["data"][0]["rows"]
        assert size(a_file[0]) <= size(spark_snap.files["data"][0])


class TestMixedWriterModel:
    def test_single_series_writes_match_model(self, spark, tmpdir):
        keys = ("site", "meter")
        st = store(spark, tmpdir, "mix", keys=keys)
        model = Model(keys)
        # Spark writes three series of the same chunks into shared files
        rows = []
        for i, kt in enumerate([("s", "m1"), ("s", "m2"), ("t", "m1")]):
            ser = series("2024-03-20", 24 * 20, seed=i)
            model.write(kt, ser, "insert")
            pts = ser.dropna()
            rows.append(pd.DataFrame({"site": kt[0], "meter": kt[1],
                                      "ts": pts.index.tz_convert("UTC"),
                                      "value": pts.to_numpy()}))
        st.ingest_long(spark.createDataFrame(pd.concat(rows, ignore_index=True)))
        shared = st._txlog.snapshot().files["data"]
        assert any(e["key_stats"]["meter"] == ["m1", "m2"] for e in shared)

        # update across the DST change of 2024-03-31: the affected file
        # also holds the other two series, whose rows must come back as-is
        patch = series("2024-03-30 12:00", 36, seed=10)
        st.set_ts({"site": "s", "meter": "m1"}, patch, update=True)
        model.write(("s", "m1"), patch, "update")
        check_get_ts(st, model, "2024-03-30", "2024-04-01")
        check_alive_data(st, model)
        with pytest.raises(KeyExistsError):
            st.set_ts({"site": "s", "meter": "m1"}, patch)

        # a key deleted, then written again over one of its chunks: the
        # deleted rows of that chunk stay gone, its other chunk stays dead
        assert st.delete({"site": "s", "meter": "m2"}) == 2
        model.delete(("s", "m2"))
        again = series("2024-03-05", 24 * 3, seed=11)
        st.set_ts({"site": "s", "meter": "m2"}, again)
        model.write(("s", "m2"), again, "insert")

        # replace tombstones the chunks outside the new span
        v_before = st._txlog.snapshot().version
        rep = series("2024-04-02", 24 * 2, seed=12, holes=False)
        st.set_ts({"site": "t", "meter": "m1"}, rep, replace=True)
        model.write(("t", "m1"), rep, "replace")
        assert st.count_chunks({"site": "t", "meter": "m1"}) == 1

        check_get_ts(st, model)
        check_get_ts(st, model, "2024-03-31", "2024-04-03 12:00")
        check_alive_data(st, model)
        got = st.get_batch_ts([dict(zip(keys, kt)) for kt in model.s])
        assert set(got) == set(model.s)

        # a time-travel view serves the old state and refuses writes
        view = st.time_travel(v_before)
        assert len(view.get_ts({"site": "t", "meter": "m1"}).dropna()) > 48
        with pytest.raises(ValueError, match="read-only"):
            view.set_ts({"site": "t", "meter": "m1"}, rep, update=True)
        with pytest.raises(ValueError, match="read-only"):
            view.delete({"site": "t", "meter": "m1"})

    def test_sync_store_guards_plain_insert(self, spark, tmpdir):
        st = store(spark, tmpdir, "guard", allow_sync=True)
        with pytest.raises(SyncGuardError):
            st.set_ts({"site": "a"}, series("2024-01-01", 24, 1))
        st.set_ts({"site": "a"}, series("2024-01-01", 24, 1), update=True)
        assert st.get_ts({"site": "a"}) is not None

    def test_spark_and_arrow_verbs_interleave(self, spark, tmpdir):
        keys = ("site",)
        st = store(spark, tmpdir, "server", allow_sync=True)
        model = Model(keys)
        rows = []
        for i in range(4):
            ser = series("2024-01-10", 24 * 40, seed=20 + i)
            model.write((f"k{i}",), ser, "insert")
            pts = ser.dropna()
            rows.append(pd.DataFrame({"site": f"k{i}",
                                      "ts": pts.index.tz_convert("UTC"),
                                      "value": pts.to_numpy()}))
        st.ingest_long(spark.createDataFrame(pd.concat(rows, ignore_index=True)),
                       mode="update")
        v1 = st._txlog.snapshot().version
        cols = ["site", "ts", "value", "chunk_index"]
        rows_v1 = physical_rows(st.data(), cols)

        # Arrow: updates, a replace, a keyed delete, new single-chunk keys
        for i, (start, hours) in enumerate([("2024-01-20", 48), ("2024-02-03", 24)]):
            patch = series(start, hours, seed=30 + i)
            st.set_ts({"site": "k0"}, patch, update=True)
            model.write(("k0",), patch, "update")
        rep = series("2024-02-05", 24 * 3, seed=40)
        st.set_ts({"site": "k1"}, rep, replace=True)
        model.write(("k1",), rep, "replace")
        assert st.delete({"site__in": ["k2"]}) == 2
        model.delete(("k2",))
        for i in range(3):
            new = series("2024-02-12", 24, seed=50 + i, holes=False)
            st.set_ts({"site": f"n{i}"}, new, update=True)
            model.write((f"n{i}",), new, "update")

        # Spark: bin-pack, compact, vacuum
        assert st.optimize(min_files=2) >= 1
        st.compact()
        st.vacuum()

        check_get_ts(st, model)
        check_get_ts(st, model, "2024-01-25", "2024-02-06")
        check_alive_data(st, model)
        # the change feed since the Spark ingest nets to today's rows
        feed = st.changes_between(v1)
        ins = physical_rows(feed.filter("_change_type = 'insert'"), cols)
        dels = physical_rows(feed.filter("_change_type = 'delete'"), cols)
        assert rows_v1 - dels + ins == physical_rows(st.data(), cols)
        # a replica pulled from the store agrees with the model
        replica = store(spark, tmpdir, "replica", allow_sync=True)
        assert SyncClient(st, replica).pull() > 0
        check_get_ts(replica, model)
        check_alive_data(replica, model)
