"""ChunkStore semantics matrix.

Ports the reference's parameterized scenarios
(hostore/tests/test_chunk_timeserie_store.py:73-401): chunk axis ×
store tz × input tz × NaN-hole patterns; round-trip equality, range
filters incl. NaT/None/mixed-tz bounds, update/replace chains ≡
ts_combine_first folds, set_many/yield_many, blind-overwrite and
partial-attrs errors, max horodate, tombstones.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from holcstore_spark import ChunkStoreConfig
from holcstore_spark.edge.pandas_bridge import long_to_series
from holcstore_spark.sources.chunk_store import ChunkStore, KeyExistsError, SyncGuardError


def make_store(spark, tmpdir, tz="Europe/Paris", axis=("year", "month"), freq="1h",
               allow_sync=False):
    path = os.path.join(tmpdir, f"store_{tz.replace('/', '_')}_{'_'.join(axis)}")
    cfg = ChunkStoreConfig(
        keys=("site", "meter"), freq=freq, tz=tz, chunk_axis=axis,
        allow_sync=allow_sync,
        key_types={"site": "str", "meter": "str"},
    )
    return ChunkStore(spark, path, cfg)


def hourly(start, periods, tz="Europe/Paris", value=None, seed=0):
    idx = pd.date_range(start, periods=periods, freq="1h", tz=tz)
    rng = np.random.RandomState(seed)
    vals = rng.rand(periods) if value is None else np.full(periods, float(value))
    return pd.Series(vals, index=idx)


ATTRS = {"site": "s1", "meter": "m1"}


def assert_series_equal_on_grid(got: pd.Series, expected: pd.Series, store_tz: str):
    exp = expected.tz_convert(store_tz).sort_index()
    sub = got.reindex(exp.index)
    pd.testing.assert_series_equal(
        sub.dropna(), exp.dropna(), check_freq=False, check_names=False
    )


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="holc_cs_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("store_tz", ["Europe/Paris", "UTC"])
@pytest.mark.parametrize("axis", [("year",), ("year", "month")])
class TestRoundTripMatrix:
    def test_roundtrip(self, spark, tmpdir, store_tz, axis):
        st = make_store(spark, tmpdir, tz=store_tz, axis=axis)
        s = hourly("2024-11-20", 24 * 50, tz="Europe/Paris", seed=1)
        st.set_ts(ATTRS, s)
        got = st.get_ts(ATTRS)
        assert got is not None
        assert str(got.index.tz) == store_tz
        assert_series_equal_on_grid(got, s, store_tz)
        # bounds trimmed to data extent (drop_bounds_na)
        assert got.index.min() == s.index.min().tz_convert(store_tz)
        assert got.index.max() == s.index.max().tz_convert(store_tz)

    def test_chunk_counts(self, spark, tmpdir, store_tz, axis):
        st = make_store(spark, tmpdir, tz=store_tz, axis=axis)
        # span Nov 20 → ~Jan 8: 2 years; 3 months
        s = hourly("2024-11-20", 24 * 50, tz=store_tz, value=1.0)
        st.set_ts(ATTRS, s)
        expected = 2 if axis == ("year",) else 3
        assert st.count_chunks(dict(ATTRS)) == expected
        assert st.count_keys() == 1

    def test_naive_input_localized(self, spark, tmpdir, store_tz, axis):
        st = make_store(spark, tmpdir, tz=store_tz, axis=axis)
        idx = pd.date_range("2024-03-01", periods=48, freq="1h")  # naive
        with pytest.warns(UserWarning):
            st.set_ts(ATTRS, pd.Series(2.0, index=idx))
        got = st.get_ts(ATTRS)
        assert got.index.min() == pd.Timestamp("2024-03-01", tz=store_tz)


class TestDstAndFreq:
    def test_roundtrip_across_dst_spring_forward(self, spark, tmpdir):
        # Europe/Paris 2024-03-31: 02:00→03:00 skipped; the local calendar
        # chunk boundaries must stay DST-aware (reference normalizes in
        # STORE_TZ, chunk_timeserie_store.py:731-742)
        st = make_store(spark, tmpdir, tz="Europe/Paris", axis=("year", "month"))
        idx = pd.date_range("2024-03-30 20:00", periods=24, freq="1h", tz="Europe/Paris")
        s = pd.Series(np.arange(24, dtype=float), index=idx)
        st.set_ts(ATTRS, s)
        got = st.get_ts(ATTRS)
        pd.testing.assert_series_equal(
            got.dropna(), s, check_freq=False, check_names=False
        )
        # the DST-transition day is 23 hours long in the grid: count the
        # stored slots falling on 2024-03-31 local
        day = got[(got.index >= pd.Timestamp("2024-03-31 00:00", tz="Europe/Paris"))
                  & (got.index < pd.Timestamp("2024-04-01 00:00", tz="Europe/Paris"))]
        assert len(day) <= 23

    def test_15min_freq_roundtrip(self, spark, tmpdir):
        # the reference's heavy load shape uses 15-min cadence
        st = make_store(spark, tmpdir, freq="15min")
        idx = pd.date_range("2024-06-01", periods=4 * 48, freq="15min",
                            tz="Europe/Paris")
        s = pd.Series(np.random.RandomState(7).rand(len(idx)), index=idx)
        st.set_ts(ATTRS, s)
        got = st.get_ts(ATTRS)
        pd.testing.assert_series_equal(
            got.dropna(), s, check_freq=False, check_names=False
        )
        # off-grid labels drop out (reindex, never resample)
        st2_attrs = {"site": "x", "meter": "y"}
        off = pd.Series([1.0, 2.0], index=pd.DatetimeIndex([
            pd.Timestamp("2024-06-01 00:07", tz="Europe/Paris"),
            pd.Timestamp("2024-06-01 00:15", tz="Europe/Paris"),
        ]))
        st.set_ts(st2_attrs, off)
        got2 = st.get_ts(st2_attrs)
        assert len(got2.dropna()) == 1  # only the on-grid label survives


class TestRangeReads:
    def test_mixed_tz_bounds(self, spark, tmpdir):
        # reference: test_chunk_timeserie_store.py:178-209 — str / NaT /
        # None / aware bounds in any tz
        st = make_store(spark, tmpdir)
        s = hourly("2024-01-01", 24 * 30, value=3.0)
        st.set_ts(ATTRS, s)
        full = st.get_ts(ATTRS)
        assert st.get_ts(ATTRS, start=None, end=None).equals(full)
        assert st.get_ts(ATTRS, start=pd.NaT, end=pd.NaT).equals(full)
        a = st.get_ts(ATTRS, start="2024-01-10", end="2024-01-20")
        b = st.get_ts(
            ATTRS,
            start=pd.Timestamp("2024-01-10", tz="Europe/Paris").tz_convert("Asia/Tokyo"),
            end=pd.Timestamp("2024-01-20", tz="Europe/Paris"),
        )
        assert a.equals(b)
        assert a.index.min() == pd.Timestamp("2024-01-10", tz="Europe/Paris")
        assert a.index.max() == pd.Timestamp("2024-01-20", tz="Europe/Paris")

    def test_get_many_ts_matches_per_key_get_ts(self, spark, tmpdir):
        # one batched job ≡ N sequential get_ts calls, including range
        # bounds, NaN-bound trim, deleted and absent keys (composite key
        # store: the coarse per-column IN pushdown over-selects — e.g.
        # requesting (s1,m1) and (s2,m2) also scans (s1,m2) — and the
        # edge split must drop the residue)
        st = make_store(spark, tmpdir)
        s1 = hourly("2024-01-01", 24 * 10, seed=1)
        s2 = hourly("2024-02-01", 24 * 10, seed=2)
        s3 = hourly("2024-01-15", 24 * 10, value=7.0)
        s3.iloc[:5] = np.nan  # leading NaNs -> trimmed
        st.set_ts({"site": "s1", "meter": "m1"}, s1)
        st.set_ts({"site": "s2", "meter": "m2"}, s2)
        st.set_ts({"site": "s1", "meter": "m3"}, s3)
        st.set_ts({"site": "sdel", "meter": "m1"}, s1)
        st.delete({"site": "sdel", "meter": "m1"})

        asked = [
            {"site": "s1", "meter": "m1"},
            {"site": "s2", "meter": "m2"},
            {"site": "s1", "meter": "m3"},
            {"site": "sdel", "meter": "m1"},   # deleted -> absent
            {"site": "zz", "meter": "m9"},     # never existed -> absent
        ]
        got = st.get_many_ts(asked)
        assert set(got) == {("s1", "m1"), ("s2", "m2"), ("s1", "m3")}
        for a in asked[:3]:
            kt = (a["site"], a["meter"])
            pd.testing.assert_series_equal(got[kt], st.get_ts(a))
        # cross-product residue must NOT appear even though (s1, m2)
        # passes the coarse per-column IN filters
        assert ("s1", "m2") not in got

        bounded = st.get_many_ts(asked[:2], start="2024-01-03", end="2024-02-05")
        pd.testing.assert_series_equal(
            bounded[("s1", "m1")],
            st.get_ts(asked[0], start="2024-01-03", end="2024-02-05"),
        )
        assert st.get_many_ts([]) == {}

    def test_absent_key_returns_none(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        st.set_ts(ATTRS, hourly("2024-01-01", 24))
        assert st.get_ts({"site": "zz", "meter": "m1"}) is None

    def test_partial_attrs_raises(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        with pytest.raises(ValueError):
            st.get_ts({"site": "s1"})
        with pytest.raises(ValueError):
            st.set_ts({"site": "s1"}, hourly("2024-01-01", 24))

    def test_nan_holes_preserved_and_trimmed(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        s = hourly("2024-01-01", 48, value=1.0)
        s.iloc[10:20] = np.nan
        st.set_ts(ATTRS, s)
        got = st.get_ts(ATTRS)
        assert got.isna().sum() == 10
        # all-NaN series refused
        with pytest.raises(ValueError):
            st.set_ts({"site": "x", "meter": "y"}, s * np.nan)


class TestWriteSemantics:
    def test_blind_overwrite_raises(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        st.set_ts(ATTRS, hourly("2024-01-01", 24))
        with pytest.raises(KeyExistsError):
            st.set_ts(ATTRS, hourly("2024-01-01", 24))

    def test_update_and_replace_mutually_exclusive(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        with pytest.raises(ValueError):
            st.set_ts(ATTRS, hourly("2024-01-01", 24), update=True, replace=True)

    def test_update_chain_is_combine_first_fold(self, spark, tmpdir):
        # reference: test_chunk_timeserie_store.py:262-281 — chained updates
        # ≡ ts_combine_first([s3, s2, s1])
        st = make_store(spark, tmpdir)
        s1 = hourly("2024-01-01", 72, value=1.0)
        s2 = hourly("2024-01-02", 72, value=2.0)
        s2.iloc[5:10] = np.nan
        s3 = hourly("2024-01-03", 72, value=3.0)
        st.set_ts(ATTRS, s1)
        st.set_ts(ATTRS, s2, update=True)
        st.set_ts(ATTRS, s3, update=True)
        got = st.get_ts(ATTRS)
        expected = s3.combine_first(s2).combine_first(s1)
        assert_series_equal_on_grid(got, expected.dropna(), "Europe/Paris")

    def test_replace_overwrites_span_and_tombstones_rest(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        jan = hourly("2024-01-01", 24 * 20, value=1.0)
        feb = hourly("2024-02-01", 24 * 10, value=2.0)
        both = pd.concat([jan, feb])
        st.set_ts(ATTRS, both)
        assert st.count_chunks(dict(ATTRS)) == 2
        st.set_ts(ATTRS, feb * 2, replace=True)
        got = st.get_ts(ATTRS)
        # january chunk tombstoned, feb replaced
        assert got.index.min() >= pd.Timestamp("2024-02-01", tz="Europe/Paris")
        assert (got.dropna() == 4.0).all()
        assert st.count_chunks(dict(ATTRS)) == 1

    def test_set_many_and_yield_many(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        mapping = {
            ("s1", "m1"): hourly("2024-01-01", 48, value=1.0),
            ("s1", "m2"): hourly("2024-01-01", 48, value=2.0),
            ("s2", "m1"): hourly("2024-02-01", 48, value=3.0),
        }
        st.set_many_ts(mapping)
        out = list(st.yield_many_ts())
        assert len(out) == 3
        got = {tuple(k[c] for c in ("site", "meter")): s for s, k in out}
        for k, src in mapping.items():
            assert (got[k].dropna() == src.iloc[0]).all()
        # duplicate keys in a second bulk → error, nothing written
        with pytest.raises(KeyExistsError):
            st.set_many_ts({("s1", "m1"): hourly("2024-03-01", 24)})
        # filtered yield
        only_s1 = list(st.yield_many_ts({"site": "s1"}))
        assert len(only_s1) == 2

    def test_mixed_key_batch_preserves_uncovered_chunks(self, spark, tmpdir):
        # regression for the (keys, chunk_index) anti-join fix
        st = make_store(spark, tmpdir, tz="UTC")
        may = hourly("2024-05-01", 48, tz="UTC", value=5.0)
        jun = hourly("2024-06-01", 48, tz="UTC", value=6.0)
        st.set_ts(ATTRS, pd.concat([may, jun]))
        batch = pd.concat([
            pd.DataFrame({"site": "s1", "meter": "m1", "ts": may.index.tz_convert("UTC"), "value": 7.0}),
            pd.DataFrame({"site": "other", "meter": "m9", "ts": jun.index.tz_convert("UTC"), "value": 8.0}),
        ])
        st.ingest_long(spark.createDataFrame(batch), mode="update")
        got = st.get_ts(ATTRS)
        jun_part = got[got.index >= pd.Timestamp("2024-06-01", tz="UTC")].dropna()
        assert (jun_part == 6.0).all() and len(jun_part) == 48


def spark_reference(st, attrs, start=None, end=None, drop_bounds_na=True):
    """What a keyed read must return, computed on the Spark path:
    ``alive_data`` collected, rendered and NaN-bound trimmed."""
    pdf = st.alive_data(attrs, start, end).select("ts", "value").toPandas()
    s = long_to_series(pdf, st.config.tz)
    if s is None or not drop_bounds_na:
        return s
    valid = s.notna()
    if not valid.any():
        return None
    return s.loc[valid.idxmax(): valid[::-1].idxmax()]


PART = {"site": "p1", "meter": "m1"}   # one chunk deleted, then rewritten
GONE = {"site": "zz", "meter": "q"}    # fully tombstoned
READ_KEYS = [ATTRS, PART, GONE]
READ_WINDOWS = [
    {},
    {"start": "2024-01-10", "end": "2024-01-25"},
    {"drop_bounds_na": False},
    # crosses the Europe/Paris spring-forward change (2024-03-31 02:00)
    {"start": "2024-03-30 12:00",
     "end": pd.Timestamp("2024-04-01 06:00", tz="Europe/Paris")},
    # spans PART's alive February and its tombstoned March
    {"start": "2024-02-20", "end": pd.Timestamp("2024-03-10", tz="UTC")},
]


def write_read_matrix(st) -> int:
    """Writes the keyed-read cases; returns the log version after the
    first write."""
    kw = {"update": True} if st.config.allow_sync else {}
    s = hourly("2024-01-01", 24 * 121, seed=3)
    s.iloc[:5] = np.nan
    s.iloc[50:60] = np.nan
    st.set_ts(ATTRS, s, **kw)
    first = st._txlog.snapshot().version
    st.set_ts(ATTRS, hourly("2024-01-20", 24 * 5, value=7.0), update=True)
    st.set_ts(PART, hourly("2024-01-01", 24 * 121, seed=4), **kw)
    # replace keeps February and tombstones January, March and April
    st.set_ts(PART, hourly("2024-02-01", 24 * 29, value=2.0), replace=True)
    # January comes back; March and April stay deleted
    st.set_ts(PART, hourly("2024-01-05", 24 * 3, value=5.0), update=True)
    st.set_ts(GONE, hourly("2024-01-01", 24), **kw)
    st.delete({"site": "zz"})
    return first


def assert_keyed_reads_match_spark(st) -> None:
    keys = st.config.keys
    for kw in READ_WINDOWS:
        want = {
            tuple(a[k] for k in keys): spark_reference(st, a, **kw)
            for a in READ_KEYS
        }
        for a in READ_KEYS:
            ref = want[tuple(a[k] for k in keys)]
            for got in (st.get_ts(a, **kw), st.get_ts_local(a, **kw)):
                if ref is None:
                    assert got is None, (a, kw)
                else:
                    pd.testing.assert_series_equal(got, ref, check_freq=False)
        batch = st.get_batch_ts(READ_KEYS, **kw)
        assert set(batch) == {kt for kt, r in want.items() if r is not None}
        for kt, got in batch.items():
            pd.testing.assert_series_equal(got, want[kt], check_freq=False)


class TestLocalRead:
    def test_get_ts_local_equals_spark_path(self, spark, tmpdir):
        # the keyed reads (get_ts, its get_ts_local alias, get_batch_ts)
        # are served by arrow on the driver; the Spark alive_data path is
        # their oracle, on every store flavour
        from holcstore_spark.streaming.sync import SyncClient

        st = make_store(spark, tmpdir)
        first = write_read_matrix(st)
        assert st.get_ts(PART) is not None
        assert st.get_ts(GONE) is None
        assert_keyed_reads_match_spark(st)
        view = st.time_travel(first)
        assert view.get_ts(PART) is None  # not yet written at that version
        assert_keyed_reads_match_spark(view)

        def sync_store(name):
            cfg = ChunkStoreConfig(
                keys=("site", "meter"), freq="1h", tz="Europe/Paris",
                chunk_axis=("year", "month"), allow_sync=True,
                key_types={"site": "str", "meter": "str"},
            )
            return ChunkStore(spark, os.path.join(tmpdir, name), cfg)

        server = sync_store("server")
        write_read_matrix(server)
        replica = sync_store("replica")
        assert SyncClient(server, replica).pull() > 0
        assert_keyed_reads_match_spark(replica)

    def test_tombstone_gate_on_many_tombstones(self, spark, tmpdir):
        import pyarrow.dataset as pads

        st = make_store(spark, tmpdir)
        st.set_many_ts({
            (f"s{i}", "m"): hourly("2024-01-01", 24 * 40) for i in range(12)
        })
        assert st._any_tombstones() is False
        for i in range(0, 12, 2):
            st.delete({"site": f"s{i}"})
        # the early-exit gate gives the full scan's answer
        full = pads.dataset(st._snapshot().paths("meta", st.path)).to_table(
            columns=["is_deleted"], filter=pads.field("is_deleted") == True,  # noqa: E712
        )
        assert full.num_rows == 12
        assert st._any_tombstones() is True
        assert st.get_ts({"site": "s0", "meter": "m"}) is None
        assert st.get_ts({"site": "s1", "meter": "m"}) is not None


class TestAggregates:
    def test_max_horodate_ignores_nan_tail(self, spark, tmpdir):
        # reference: test_chunk_timeserie_store.py:244-254
        st = make_store(spark, tmpdir)
        s = hourly("2024-01-01", 48, value=1.0)
        s.iloc[-5:] = np.nan
        st.set_ts(ATTRS, s)
        assert st.get_max_horodate(dict(ATTRS)) == s.index[-6].tz_convert("Europe/Paris")
        assert st.get_max_horodate({"site": "none"}) is None

    def test_max_horodate_all_nan_tail_chunks(self, spark, tmpdir):
        # the tail-chunk-pruned scan must fall back to the full history when
        # BOTH tail chunks hold only NaN (pathological, but must stay correct)
        st = make_store(spark, tmpdir)
        s = hourly("2024-01-30", 24 * 35, value=1.0)  # spans Jan..Mar chunks
        s[s.index >= pd.Timestamp("2024-01-31 12:00", tz="Europe/Paris")] = np.nan
        st.set_ts(ATTRS, s)
        expect = s[s.notna()].index[-1].tz_convert("Europe/Paris")
        assert st.get_max_horodate(dict(ATTRS)) == expect

    def test_last_chunk_index_and_list_updates(self, spark, tmpdir):
        st = make_store(spark, tmpdir, tz="UTC")
        s = hourly("2024-01-15", 24 * 40, tz="UTC", value=1.0)  # jan+feb
        st.set_ts(ATTRS, s)
        assert st.last_chunk_index(dict(ATTRS)) == 2024 * 12 + 2 - 1
        assert st.last_chunk_index({"site": "none"}) is None
        page = st.list_updates(limit=1)
        assert len(page) == 1
        rest = st.list_updates(limit=10, offset=1)
        assert len(rest) == 1  # two chunks total

    def test_last_updated_at_default_epoch(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        assert st.last_updated_at() == pd.Timestamp("2000-01-01", tz="UTC")
        st.set_ts(ATTRS, hourly("2024-01-01", 24))
        assert st.last_updated_at() > pd.Timestamp("2020-01-01", tz="UTC")


class TestDelete:
    def test_tombstone_delete_and_compact(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        st.set_ts(ATTRS, hourly("2024-01-01", 48))
        st.set_ts({"site": "s2", "meter": "m1"}, hourly("2024-01-01", 48))
        n = st.delete({"site": "s1"})
        assert n == 1
        assert st.get_ts(ATTRS) is None
        assert st.count_keys() == 1
        # tombstones remain in the change feed
        feed = st.updates().collect()
        assert any(r["is_deleted"] for r in feed)
        st.compact()
        assert st.get_ts(ATTRS) is None
        assert st.get_ts({"site": "s2", "meter": "m1"}) is not None

    def test_untracked_delete_erases_all_trace(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        st.set_ts(ATTRS, hourly("2024-01-01", 48))
        st.delete({"site": "s1"}, keep_tracking=False)
        assert st.meta().count() == 0
        assert st.data().count() == 0
        # a later set_ts takes the clean insert path — no duplicates
        st.set_ts(ATTRS, hourly("2024-01-01", 48, value=9.0))
        got = st.get_ts(ATTRS)
        assert (got.dropna() == 9.0).all()
        dup = (
            st.alive_data(dict(ATTRS))
            .groupBy("ts").agg(F.count("*").alias("n")).filter("n > 1").count()
        )
        assert dup == 0


class TestSyncGuards:
    def test_guards(self, spark, tmpdir):
        st = make_store(spark, tmpdir, allow_sync=True)
        with pytest.raises(SyncGuardError):
            st.set_ts(ATTRS, hourly("2024-01-01", 24))
        with pytest.raises(SyncGuardError):
            st.set_many_ts({("a", "b"): hourly("2024-01-01", 24)})
        st.set_ts(ATTRS, hourly("2024-01-01", 24), update=True)
        with pytest.raises(SyncGuardError):
            st.delete({"site": "s1"}, keep_tracking=False)


class TestConfig:
    def test_frozen_config_mismatch_raises(self, spark, tmpdir):
        make_store(spark, tmpdir, freq="1h")
        with pytest.raises(ValueError):
            make_store(spark, tmpdir, freq="15min")

    def test_attrs_dict_order_irrelevant(self, spark, tmpdir):
        # regression: positional createDataFrame must not swap key values
        st = make_store(spark, tmpdir)
        st.set_ts({"meter": "mm", "site": "ss"}, hourly("2024-01-01", 24, value=1.0))
        assert st.get_ts({"site": "ss", "meter": "mm"}) is not None
        assert st.get_ts({"site": "mm", "meter": "ss"}) is None


class TestDistributedMeta:
    def test_bulk_ingest_meta_stays_distributed(self, spark, tmpdir):
        """ingest_long at 100k+ keys: the meta changelog is written as a
        Spark aggregate — no per-(key, chunk) driver collect (VERDICT r2 #1).
        Guarded by monkeypatching the driver-side meta-row builders of
        single-series writes and keyed deletes to raise."""
        path = os.path.join(tmpdir, "bulk")
        cfg = ChunkStoreConfig(
            keys=("k",), freq="1D", tz="UTC", chunk_axis=("year", "month"),
            key_types={"k": "int"},
        )
        st = ChunkStore(spark, path, cfg)

        def boom(*a, **k):  # any driver-side meta path in a bulk write is a bug
            raise AssertionError("driver-side meta materialization in bulk path")

        st._series_meta_rows = boom
        st._tombstone_rows = boom
        n_keys = 120_000
        src = (
            spark.range(n_keys)
            .select(
                F.col("id").alias("k"),
                F.to_timestamp(F.lit("2024-03-05")).alias("ts"),
                (F.col("id") % 97).cast("double").alias("value"),
            )
        )
        st.ingest_long(src, mode="insert")
        meta = st.latest_meta()
        assert meta.count() == n_keys           # one chunk per key
        assert st.count_keys() == n_keys
        # the dense grid padded each key to the full March chunk
        assert st.data().count() == n_keys * 31

        # distributed tombstoning: delete half the keys, still no collect
        n = st.delete({"k__lt": 60_000})
        assert n == 60_000
        assert st.count_keys() == 60_000

    def test_overlapped_acid_staging_failure_aborts_cleanly(
        self, spark, tmpdir, monkeypatch
    ):
        """A failure in ingest_long's meta staging — on the driver at or
        below APPEND_KEYS_CAP, in the thread that overlaps the data write
        above it (guide §2.6) — must abort the transaction (no visible
        rows, no phantom meta), and the store must accept the retried
        ingest afterwards."""
        cfg = ChunkStoreConfig(
            keys=("k",), freq="1h", tz="UTC", chunk_axis=("year", "month"),
            key_types={"k": "int"},
        )
        idx = pd.date_range("2024-01-10", periods=12, freq="1h", tz="UTC")
        src = spark.createDataFrame(
            [(1, t.to_pydatetime(), float(i)) for i, t in enumerate(idx)],
            schema="k long, ts timestamp, value double",
        )
        orig = ChunkStore._stage_into_txn

        def boom(self, frame, table, *a, **k):
            if table == "meta":
                raise RuntimeError("injected meta failure")
            return orig(self, frame, table, *a, **k)

        for cap in (ChunkStore.APPEND_KEYS_CAP, 0):
            st = ChunkStore(spark, os.path.join(tmpdir, f"ovfail{cap}"), cfg)
            st.APPEND_KEYS_CAP = cap
            monkeypatch.setattr(ChunkStore, "_stage_into_txn", boom)
            with pytest.raises(Exception, match="injected meta failure"):
                st.ingest_long(src, mode="insert")
            monkeypatch.setattr(ChunkStore, "_stage_into_txn", orig)
            assert st.alive_data().count() == 0      # nothing leaked visible
            assert st.latest_meta().count() == 0     # no phantom meta
            st.ingest_long(src, mode="insert")       # retry lands
            assert st.alive_data().filter(
                F.col("value").isNotNull()).count() == 12

    def test_ingest_narrow_key_dtype_casts_to_canonical(self, spark, tmpdir):
        """A caller frame with int32 keys must not poison the parquet logs:
        the declared key type is LongType, and parquet refuses mixed
        INT32/INT64 physical types across files of one table. Both the data
        and meta writes funnel through _cast_canonical (regression: a
        set_ts-then-ingest_long store raised FAILED_READ_FILE on meta)."""
        path = os.path.join(tmpdir, "narrow")
        cfg = ChunkStoreConfig(keys=("k",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"k": "int"})
        st = ChunkStore(spark, path, cfg)
        idx = pd.date_range("2024-01-10", periods=24, freq="1h", tz="UTC")
        st.set_ts({"k": 1}, pd.Series(1.0, index=idx))  # meta/data as long
        src = spark.createDataFrame(
            [(7, t.to_pydatetime(), 2.0) for t in idx],
            schema="k int, ts timestamp, value double",  # int32 keys
        )
        st.ingest_long(src, mode="insert")
        # both logs stay readable and typed long
        assert dict(st.meta().dtypes)["k"] == "bigint"
        assert dict(st.data().dtypes)["k"] == "bigint"
        assert st.count_keys() == 2
        assert len(st.get_ts({"k": 7}).dropna()) == 24
        # rewrite path (update into the existing chunk) with int32 keys too
        src2 = spark.createDataFrame(
            [(9, t.to_pydatetime(), 3.0) for t in idx],
            schema="k int, ts timestamp, value double",
        )
        st.ingest_long(src2, mode="update")
        assert st.count_keys() == 3
        assert len(st.get_ts({"k": 1}).dropna()) == 24  # survived the rewrite

    @pytest.mark.parametrize(
        "freq,freq_s,tz,axis",
        [
            ("1h", 3600, "UTC", ("year", "month")),
            ("7h", 7 * 3600, "Europe/Paris", ("year", "month")),   # odd freq + DST spring
            ("30min", 1800, "America/New_York", ("year", "month")),  # DST fall
            ("1D", 86400, "Europe/Paris", ("year", "month")),      # 1d grid over a 23h day
            ("1h", 3600, "Asia/Kolkata", ("year",)),               # +5:30 offset, year chunks
            ("11h", 11 * 3600, "UTC", ("year",)),                  # freq not dividing chunk
        ],
    )
    def test_meta_from_bounds_matches_grid_aggregate(
        self, spark, tmpdir, freq, freq_s, tz, axis
    ):
        """The arithmetic meta rows of ingest_long (_meta_from_bounds, zero
        data passes) must be row-identical to the aggregate of the dense
        grid on both sides of APPEND_KEYS_CAP — pandas bounds converted on
        the driver, Spark bounds through mapInPandas — for every
        freq/tz/chunk-axis combination, including freqs that don't divide
        the chunk length and DST-shifted chunks."""
        from datetime import datetime, timezone

        from holcstore_spark.functions.scalar import chunk_index_col
        from holcstore_spark.operators.grid import (
            chunk_aligned_bounds,
            reindex_to_chunk_grid,
        )

        cfg = ChunkStoreConfig(keys=("k",), freq=freq, tz=tz, chunk_axis=axis,
                               key_types={"k": "int"})
        st = ChunkStore(spark, os.path.join(tmpdir, "meq"), cfg)
        rows = []
        spans = [(1, ("2024-01-15", "2024-03-20")), (2, ("2024-01-15", "2024-01-20"))]
        for k, (s, e) in spans:
            for t in pd.date_range(s, e, freq="13h", tz="UTC"):
                rows.append((k, t.to_pydatetime(), 1.0))
        sdf = spark.createDataFrame(rows, schema="k int, ts timestamp, value double")
        bounds = chunk_aligned_bounds(sdf, ("k",), axis, tz, freq_s)
        dense = reindex_to_chunk_grid(
            sdf, ("k",), axis, tz, freq_s, bounds=bounds
        ).withColumn("chunk_index", chunk_index_col("ts", axis, tz)).toPandas()
        want = (
            dense.groupby(["k", "chunk_index"])["ts"]
            .agg(start_ts="min", n_points="count").reset_index()
        )
        ua = datetime(2026, 1, 1, tzinfo=timezone.utc)
        cols = ["k", "chunk_index", "start_ts", "n_points"]
        driver = st._meta_from_bounds(bounds.toPandas(), ua, 1)
        spark_side = st._meta_from_bounds(bounds, ua, 1).toPandas()
        for got in (driver, spark_side):
            assert (got["op_id"] == 1).all() and not got["is_deleted"].any()
            got = got[cols].assign(
                start_ts=pd.to_datetime(got["start_ts"], utc=True).dt.tz_localize(None)
            ).sort_values(["k", "chunk_index"]).reset_index(drop=True)
            pd.testing.assert_frame_equal(
                got, want[cols].reset_index(drop=True), check_dtype=False
            )


class TestDeleteBefore:
    def test_tracked_retention_tombstones_old_chunks(self, spark, tmpdir):
        st = make_store(spark, tmpdir)  # month chunks, Europe/Paris
        st.set_ts(ATTRS, hourly("2024-01-01", 24))                # Jan chunk
        st.set_ts(ATTRS, hourly("2024-02-05", 24), update=True)   # Feb chunk
        st.set_ts(ATTRS, hourly("2024-03-05", 24), update=True)   # Mar chunk
        n = st.delete_before(pd.Timestamp("2024-03-01", tz="Europe/Paris"))
        assert n == 2
        got = st.get_ts(ATTRS)
        assert got.dropna().index.min() >= pd.Timestamp(
            "2024-03-01", tz="Europe/Paris"
        )
        # tombstones propagate through the change feed
        assert any(r["is_deleted"] for r in st.updates().collect())
        # idempotent: nothing left below the cutoff
        assert st.delete_before(pd.Timestamp("2024-03-01", tz="Europe/Paris")) == 0

    def test_untracked_retention_forbidden_on_sync_store(self, spark, tmpdir):
        st = make_store(spark, tmpdir, allow_sync=True)
        with pytest.raises(SyncGuardError):
            st.delete_before("2024-01-01", keep_tracking=False)

    def test_naive_cutoff_localizes_to_store_tz(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        st.set_ts(ATTRS, hourly("2024-01-15", 24))
        # naive cutoff in the store zone: Jan chunk is NOT wholly before
        # a mid-January cutoff's chunk, so nothing is deleted
        assert st.delete_before("2024-01-20") == 0
        assert st.delete_before("2024-02-01") == 1


class TestDescribeChunks:
    def test_reports_series_points_files_and_bytes(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        st.set_ts(ATTRS, hourly("2024-01-01", 24))
        st.set_ts({"site": "s2", "meter": "m1"}, hourly("2024-01-01", 24))
        st.set_ts(ATTRS, hourly("2024-02-05", 24), update=True)
        st.delete({"site": "s2"})
        rows = {r["chunk_index"]: r for r in st.describe_chunks().collect()}
        jan, feb = 2024 * 12 + 0, 2024 * 12 + 1
        assert rows[jan]["n_series"] == 1 and rows[jan]["n_tombstoned"] == 1
        assert rows[feb]["n_series"] == 1 and rows[feb]["n_tombstoned"] == 0
        # real grid points and real parquet files with bytes
        assert rows[jan]["n_points"] > 0
        assert rows[jan]["n_files"] >= 1 and rows[jan]["n_bytes"] > 0
        assert rows[jan]["avg_bytes_per_file"] > 0

    def test_empty_store_yields_empty_report(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        assert st.describe_chunks().count() == 0


class TestGroupedMaxHorodate:
    def test_matches_per_key_calls(self, spark, tmpdir):
        # the grouped one-scan path must agree with N per-key aggregates,
        # including a key whose tail hours are NaN padding
        st = make_store(spark, tmpdir)
        s1 = hourly("2024-01-01", 48, value=1.0)
        s1.iloc[-5:] = np.nan
        st.set_ts(ATTRS, s1)
        st.set_ts({"site": "s2", "meter": "m1"}, hourly("2024-02-10", 24))
        got = {
            (r["site"], r["meter"]): pd.Timestamp(r["max_ts"], tz="UTC")
            for r in st.get_max_horodates().collect()
        }
        assert set(got) == {("s1", "m1"), ("s2", "m1")}
        for k in got:
            attrs = {"site": k[0], "meter": k[1]}
            assert got[k] == st.get_max_horodate(attrs).tz_convert("UTC")

    def test_all_nan_tail_chunks_fall_back(self, spark, tmpdir):
        # one key's BOTH tail chunks are pure NaN: the pruned scan finds
        # nothing for it and the per-key fallback scan must answer it
        st = make_store(spark, tmpdir)
        s = hourly("2024-01-30", 24 * 35, value=1.0)  # Jan..Mar chunks
        s[s.index >= pd.Timestamp("2024-01-31 12:00", tz="Europe/Paris")] = np.nan
        st.set_ts(ATTRS, s)
        st.set_ts({"site": "s2", "meter": "m1"}, hourly("2024-03-01", 24))
        got = {
            (r["site"], r["meter"]): pd.Timestamp(r["max_ts"], tz="UTC")
            for r in st.get_max_horodates().collect()
        }
        expect = s[s.notna()].index[-1].tz_convert("UTC")
        assert got[("s1", "m1")] == expect

    def test_filters_and_empty(self, spark, tmpdir):
        st = make_store(spark, tmpdir)
        assert st.get_max_horodates().count() == 0
        st.set_ts(ATTRS, hourly("2024-01-01", 24))
        assert st.get_max_horodates({"site": "none"}).count() == 0
        assert st.get_max_horodates({"site": "s1"}).count() == 1


class TestMetaCacheRefresh:
    def test_second_instance_sees_write_after_refresh(self, spark, tmpdir):
        # cross-process staleness: instance B populated its latest_meta
        # cache, instance A writes, B is stale until refresh()
        a = make_store(spark, tmpdir)
        a.set_ts(ATTRS, hourly("2024-01-01", 24))
        b = ChunkStore(spark, a.path, a.config)
        assert b.count_chunks() == 1  # populates b's cache
        a.set_ts({"site": "s2", "meter": "m1"}, hourly("2024-01-01", 24))
        # NOTE: in-session Spark may already invalidate the relation cache
        # (same SparkSession wrote the path); true cross-process readers
        # stay stale — refresh() is the guaranteed escape hatch either way
        b.refresh()
        assert b.count_chunks() == 2
        assert b.get_ts({"site": "s2", "meter": "m1"}) is not None


class TestInsertAfterDelete:
    def test_insert_into_tombstoned_chunk_drops_dead_rows(
        self, spark, tmpdir, monkeypatch
    ):
        """ingest_long(insert) of a deleted key whose chunks still hold
        its tombstoned rows rewrites those chunks: the dead rows must not
        come back alive beside the new ones (on both sides of
        APPEND_KEYS_CAP)."""
        cfg = ChunkStoreConfig(keys=("k",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"),
                               key_types={"k": "str"})
        idx = pd.date_range("2024-01-10", periods=5, freq="1h", tz="UTC")

        def src(v):
            return spark.createDataFrame(
                pd.DataFrame({"k": "a", "ts": idx, "value": v}))

        for cap in (ChunkStore.APPEND_KEYS_CAP, 0):
            st = ChunkStore(spark, os.path.join(tmpdir, f"iad{cap}"), cfg)
            st.APPEND_KEYS_CAP = cap
            st.ingest_long(src(1.0), mode="insert")
            st.delete({"k": "a"})
            st.ingest_long(src(2.0), mode="insert")
            assert st.alive_data().count() == 31 * 24
            got = st.get_ts({"k": "a"})
            assert len(got) == 5 and (got == 2.0).all()


class TestUndeclaredKeyTypes:
    """A key column without a declared type is written with the type of
    the first written frame (then read back from the files' footers), on
    the driver write path and the Spark bulk path alike."""

    @pytest.mark.parametrize("path_kind", ["set_ts", "ingest_long"])
    def test_int_key_round_trips_as_int(self, spark, tmp_store_path, path_kind):
        cfg = ChunkStoreConfig(keys=("site",), freq="1h", tz="UTC",
                               chunk_axis=("year", "month"))
        st = ChunkStore(spark, os.path.join(tmp_store_path, path_kind), cfg)
        serie = hourly("2024-01-01", 24, tz="UTC", value=3.0)
        if path_kind == "set_ts":
            st.set_ts({"site": 7}, serie)
        else:
            st.ingest_long(spark.createDataFrame(pd.DataFrame({
                "site": 7, "ts": serie.index.tz_localize(None),
                "value": serie.to_numpy(),
            })))
        assert dict(st.alive_data().dtypes)["site"] == "bigint"
        # a fresh instance types the key from the written files
        again = ChunkStore(spark, st.path, cfg)
        for s in (st, again):
            got = s.get_ts({"site": 7})
            assert len(got) == 24 and (got == 3.0).all()
        # a later write of the same key type keeps working
        again.set_ts({"site": 8}, hourly("2024-01-01", 24, tz="UTC", value=4.0))
        assert (again.get_ts({"site": 8}) == 4.0).all()
        assert again.count_keys() == 2
