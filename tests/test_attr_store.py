"""AttrStore semantics (reference TimeseriesStore,
tests/tests_timeseries_store.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from holcstore_spark.sources.attr_store import AttrStore


def s(vals, start="2024-01-01"):
    idx = pd.date_range(start, periods=len(vals), freq="1h", tz="UTC")
    return pd.Series([float(v) if v is not None else np.nan for v in vals], index=idx)


@pytest.fixture()
def store(spark, tmp_store_path):
    return AttrStore(spark, tmp_store_path, keys=("year", "kind"))


class TestAttrStore:
    def test_set_get_full_and_partial(self, store):
        store.set_ts({"year": "2024", "kind": "a"}, s([1, 2]))
        store.set_ts({"year": "2024", "kind": "b"}, s([3, 4]))
        full = store.get_ts({"year": "2024", "kind": "a"})
        assert len(full) == 1 and full[0]["kind"] == "a"
        partial = store.get_ts({"year": "2024"})
        assert len(partial) == 2

    def test_flat_errors(self, store):
        store.set_ts({"year": "2024", "kind": "a"}, s([1]))
        store.set_ts({"year": "2024", "kind": "b"}, s([1]))
        with pytest.raises(ValueError):
            store.get_ts({"year": "2024"}, flat=True)       # >1 match
        with pytest.raises(ValueError):
            store.get_ts({"year": "1999"}, flat=True)       # 0 matches
        one = store.get_ts({"year": "2024", "kind": "a"}, flat=True)
        assert isinstance(one, pd.Series)

    def test_set_over_existing_raises(self, store):
        store.set_ts({"year": "2024", "kind": "a"}, s([1]))
        with pytest.raises(ValueError):
            store.set_ts({"year": "2024", "kind": "a"}, s([2]))

    def test_update_is_combine_first(self, store):
        # reference tests_timeseries_store.py:130-149: new wins, old fills
        old = s([1, 1, 1])
        new = s([None, 2, None], start="2024-01-01")
        store.set_ts({"year": "2024", "kind": "a"}, old)
        store.set_ts({"year": "2024", "kind": "a"}, new, update=True)
        got = store.get_ts({"year": "2024", "kind": "a"}, flat=True)
        assert list(got.values) == [1.0, 2.0, 1.0]

    def test_replace(self, store):
        store.set_ts({"year": "2024", "kind": "a"}, s([1, 1, 1]))
        store.set_ts({"year": "2024", "kind": "a"}, s([5]), replace=True)
        got = store.get_ts({"year": "2024", "kind": "a"}, flat=True)
        assert list(got.values) == [5.0]

    def test_delete_and_count(self, store):
        store.set_ts({"year": "2024", "kind": "a"}, s([1]))
        store.set_ts({"year": "2025", "kind": "a"}, s([1]))
        assert store.count() == 2
        store.delete({"year": "2024"})
        assert store.count() == 1

    def test_update_replace_exclusive(self, store):
        with pytest.raises(ValueError):
            store.set_ts({"year": "2024", "kind": "a"}, s([1]), update=True, replace=True)


class TestSetManyTs:
    def test_bulk_insert_and_read(self, store):
        store.set_many_ts({
            ("2024", "a"): s([1, 2]),
            ("2024", "b"): s([3, 4]),
            ("2025", "a"): s([5, 6], start="2025-01-01"),
        })
        assert store.count() == 3
        flat = store.get_ts({"year": "2024", "kind": "a"}, flat=True)
        assert list(flat) == [1.0, 2.0]

    def test_bulk_insert_existing_raises(self, store):
        store.set_ts({"year": "2024", "kind": "a"}, s([1, 2]))
        with pytest.raises(ValueError, match="already exist"):
            store.set_many_ts({("2024", "a"): s([9, 9]),
                               ("2024", "b"): s([3, 4])})
        # nothing from the failed batch landed
        assert store.count() == 1

    def test_bulk_update_is_combine_first(self, store):
        # bulk update must equal per-series set_ts(update=True):
        # new wins at overlapping stamps, old fills the rest
        store.set_many_ts({("2024", "a"): s([1, 2, 3]),
                           ("2024", "b"): s([10, 20, 30])})
        store.set_many_ts(
            {("2024", "a"): s([100], start="2024-01-01 01:00"),
             ("2024", "c"): s([7, 8])},  # brand-new key rides along
            update=True,
        )
        a = store.get_ts({"year": "2024", "kind": "a"}, flat=True)
        assert list(a) == [1.0, 100.0, 3.0]
        b = store.get_ts({"year": "2024", "kind": "b"}, flat=True)
        assert list(b) == [10.0, 20.0, 30.0]
        c = store.get_ts({"year": "2024", "kind": "c"}, flat=True)
        assert list(c) == [7.0, 8.0]

    def test_bulk_replace_drops_old_span(self, store):
        store.set_many_ts({("2024", "a"): s([1, 2, 3])})
        store.set_many_ts({("2024", "a"): s([9], start="2024-06-01")},
                          replace=True)
        a = store.get_ts({"year": "2024", "kind": "a"}, flat=True)
        assert list(a) == [9.0]

    def test_update_replace_exclusive_and_empty(self, store):
        with pytest.raises(ValueError, match="mutually exclusive"):
            store.set_many_ts({("2024", "a"): s([1])}, update=True, replace=True)
        store.set_many_ts({})  # no-op
        assert store.count() == 0


@pytest.fixture()
def acid_store_attr(spark, tmp_store_path):
    return AttrStore(spark, tmp_store_path + "_acid", keys=("year", "kind"))


class TestAttrStoreAcid:
    """Full semantics matrix on the manifest backend — writes must behave
    exactly like the plain overwrite layout."""

    def test_roundtrip_update_replace_delete(self, acid_store_attr):
        st = acid_store_attr
        st.set_ts({"year": "2024", "kind": "a"}, s([1, 2, 3]))
        with pytest.raises(ValueError, match="already exists"):
            st.set_ts({"year": "2024", "kind": "a"}, s([9]))
        st.set_ts({"year": "2024", "kind": "a"},
                  s([100], start="2024-01-01 01:00"), update=True)
        assert list(st.get_ts({"year": "2024", "kind": "a"}, flat=True)) == \
            [1.0, 100.0, 3.0]
        st.set_ts({"year": "2024", "kind": "a"}, s([7]), replace=True)
        assert list(st.get_ts({"year": "2024", "kind": "a"}, flat=True)) == [7.0]
        st.set_ts({"year": "2024", "kind": "b"}, s([5, 6]))
        st.delete({"year": "2024", "kind": "a"})
        assert st.get_ts({"year": "2024", "kind": "a"}) == []
        assert st.count() == 1

    def test_bulk_paths_and_partial_delete(self, acid_store_attr):
        st = acid_store_attr
        st.set_many_ts({("2024", "a"): s([1, 2]),
                        ("2024", "b"): s([3, 4]),
                        ("2025", "a"): s([5], start="2025-01-01")})
        st.set_many_ts({("2024", "a"): s([9], start="2024-01-01 01:00")},
                       update=True)
        assert list(st.get_ts({"year": "2024", "kind": "a"}, flat=True)) == \
            [1.0, 9.0]
        st.delete({"kind": "a"})  # partial attrs: both years' 'a' series
        assert st.count() == 1
        assert list(st.get_ts({"year": "2024", "kind": "b"}, flat=True)) == \
            [3.0, 4.0]

    def test_wide_partial_delete_bounded_or_loud(
        self, acid_store_attr, monkeypatch
    ):
        # VERDICT r10 "what's wrong #1": the partial-attr key-tuple
        # resolve must never materialize an unbounded key catalog on the
        # driver — above DELETE_KEYS_CAP the delete refuses loudly,
        # naming the narrower-filter / ChunkStore escape hatches. The
        # collect itself is limit(CAP+1)-bounded, so even the refusal
        # holds at most CAP+1 tuples.
        st = acid_store_attr
        st.set_many_ts({(str(2020 + i), k): s([float(i)])
                        for i in range(3) for k in ("a", "b")})
        monkeypatch.setattr(type(st), "DELETE_KEYS_CAP", 4)
        with pytest.raises(ValueError, match="DELETE_KEYS_CAP"):
            st.delete({})  # matches all 6 series > cap 4
        assert st.count() == 6  # nothing was deleted
        # at-or-below the cap the delete proceeds unchanged
        st.delete({"kind": "a"})  # 3 series <= cap
        assert st.count() == 3

    def test_concurrent_disjoint_key_rewrites_both_land(
        self, spark, tmp_store_path, monkeypatch
    ):
        import holcstore_spark.sources.attr_store as as_mod

        a = AttrStore(spark, tmp_store_path + "_cc", keys=("k",))
        b = AttrStore(spark, a.path, keys=("k",))
        a.set_ts({"k": "x"}, s([1, 2]))
        b.set_ts({"k": "y"}, s([3, 4]))
        orig = as_mod.AttrStore._stage
        state = {"fired": False}

        def inject(self_, df):
            out = orig(self_, df)
            if self_ is a and not state["fired"]:
                state["fired"] = True
                b.set_ts({"k": "y"}, s([30], start="2024-01-01 01:00"),
                         update=True)
            return out

        monkeypatch.setattr(as_mod.AttrStore, "_stage", inject)
        a.set_ts({"k": "x"}, s([10], start="2024-01-01 01:00"), update=True)
        monkeypatch.setattr(as_mod.AttrStore, "_stage", orig)
        assert list(a.get_ts({"k": "x"}, flat=True)) == [1.0, 10.0]
        assert list(a.get_ts({"k": "y"}, flat=True)) == [3.0, 30.0]

    def test_concurrent_same_key_rewrite_conflicts(
        self, spark, tmp_store_path, monkeypatch
    ):
        from holcstore_spark.sources.chunk_store import ConcurrentWriteError
        import holcstore_spark.sources.attr_store as as_mod

        a = AttrStore(spark, tmp_store_path + "_cf", keys=("k",))
        b = AttrStore(spark, a.path, keys=("k",))
        a.set_ts({"k": "x"}, s([1, 2]))
        orig = as_mod.AttrStore._stage
        state = {"fired": False}

        def inject(self_, df):
            out = orig(self_, df)
            if self_ is a and not state["fired"]:
                state["fired"] = True
                b.set_ts({"k": "x"}, s([7]), replace=True)
            return out

        monkeypatch.setattr(as_mod.AttrStore, "_stage", inject)
        with pytest.raises(ConcurrentWriteError):
            a.set_ts({"k": "x"}, s([8]), replace=True)
        monkeypatch.setattr(as_mod.AttrStore, "_stage", orig)
        # the winner's replacement is intact
        assert list(a.get_ts({"k": "x"}, flat=True)) == [7.0]

    def test_vacuum_reclaims_superseded(self, acid_store_attr):
        st = acid_store_attr
        st.set_ts({"year": "2024", "kind": "a"}, s([1, 2]))
        st.set_ts({"year": "2024", "kind": "a"}, s([9]), replace=True)
        assert st.vacuum(retention_seconds=0) >= 1
        assert list(st.get_ts({"year": "2024", "kind": "a"}, flat=True)) == [9.0]


class TestAttrAcidSnapshotPinning:
    """ADVICE-r6 medium: the existence check and the commit base must
    come from ONE snapshot — an insert landing between them used to be
    adopted as a fresher base and never conflict-checked, so two
    concurrent same-key inserts both landed (duplicate rows)."""

    def test_interleave_between_exists_check_and_commit_conflicts(
        self, spark, tmp_store_path, monkeypatch
    ):
        from holcstore_spark.sources.chunk_store import ConcurrentWriteError
        import holcstore_spark.sources.attr_store as attr_mod

        a = AttrStore(spark, tmp_store_path + "_pin", keys=("k",))
        b = AttrStore(spark, a.path, keys=("k",))
        orig = attr_mod.AttrStore._to_pdf
        state = {"fired": False}

        def inject(self_, attrs, serie):
            # fires after a's exists-check (which saw no rows), before
            # its stage+commit — the exact window the pin closes
            if self_ is a and not state["fired"]:
                state["fired"] = True
                b.set_ts({"k": "x"}, s([2.0]))
            return orig(self_, attrs, serie)

        monkeypatch.setattr(attr_mod.AttrStore, "_to_pdf", inject)
        with pytest.raises(ConcurrentWriteError):
            a.set_ts({"k": "x"}, s([3.0]))
        monkeypatch.setattr(attr_mod.AttrStore, "_to_pdf", orig)
        # exactly one series landed — no duplicate-key rows
        got = a.get_ts({"k": "x"}, flat=True)
        assert list(got) == [2.0]

    def test_update_reads_back_from_pinned_snapshot(self, spark, tmp_store_path):
        st = AttrStore(spark, tmp_store_path + "_rb", keys=("k",))
        st.set_ts({"k": "x"}, s([1.0, 2.0]))
        st.set_ts({"k": "x"}, s([9.0]), update=True)
        assert list(st.get_ts({"k": "x"}, flat=True)) == [9.0, 2.0]


class TestAttrKeyStatsPruning:
    def test_rewrite_skips_files_disjoint_on_secondary_key(
        self, spark, tmp_store_path
    ):
        """_may_contain prunes on ALL key columns: two series sharing the
        first key but differing on the second, staged into separate
        commits (separate files), must not rewrite each other."""
        st = AttrStore(spark, tmp_store_path + "_bb", keys=("site", "kind"))
        st.set_ts({"site": "x", "kind": "a"}, s([1.0]))
        st.set_ts({"site": "x", "kind": "b"}, s([2.0]))
        snap_before = st._txlog.snapshot()
        file_of_b = {
            e["path"] for e in snap_before.files["data"]
            if (e.get("key_stats") or {}).get("kind", ["", ""])[0] == "b"
        }
        assert file_of_b, "precondition: b's file carries kind stats"
        st.set_ts({"site": "x", "kind": "a"}, s([9.0]), replace=True)
        live = {e["path"] for e in st._txlog.snapshot().files["data"]}
        assert file_of_b <= live, "disjoint-on-kind file was rewritten"
        assert list(st.get_ts({"site": "x", "kind": "a"}, flat=True)) == [9.0]
        assert list(st.get_ts({"site": "x", "kind": "b"}, flat=True)) == [2.0]

    def test_many_tuple_rewrite_skips_files_disjoint_on_one_key(
        self, spark, tmp_store_path
    ):
        """A rewrite of several tuples tests each key column against the
        tuples' values on that column: a file whose ``kind`` range holds
        none of them stays live. A file that matches on every column
        without matching one tuple ((x, b) against (x, a) and (y, b)) may
        be rewritten; its rows ride through unchanged."""
        st = AttrStore(spark, tmp_store_path + "_mt", keys=("site", "kind"))
        for site, kind, v in (("x", "a", 1.0), ("y", "b", 2.0),
                              ("x", "c", 3.0), ("x", "b", 4.0)):
            st.set_ts({"site": site, "kind": kind}, s([v, v + 10]))
        file_of_c = {
            e["path"] for e in st._txlog.snapshot().files["data"]
            if (e.get("key_stats") or {}).get("kind") == ["c", "c"]
        }
        assert len(file_of_c) == 1, "precondition: (x, c) has its own file"
        st.set_many_ts({("x", "a"): s([9.0]), ("y", "b"): s([8.0])},
                       update=True)
        live = {e["path"] for e in st._txlog.snapshot().files["data"]}
        assert file_of_c <= live, "file disjoint on kind was rewritten"
        got = {(e["site"], e["kind"]): list(e["data"]) for e in st.get_ts({})}
        assert got == {("x", "a"): [9.0, 11.0], ("y", "b"): [8.0, 12.0],
                       ("x", "c"): [3.0, 13.0], ("x", "b"): [4.0, 14.0]}


class TestAttrChangesBetween:
    def test_update_delta(self, spark, tmp_store_path):
        st = AttrStore(spark, tmp_store_path + "_cdf", keys=("k",))
        st.set_ts({"k": "x"}, s([1.0, 2.0]))
        v1 = st._txlog.snapshot().version
        st.set_ts({"k": "x"}, s([9.0]), update=True)
        ch = st.changes_between(v1).collect()
        got = sorted((r["_change_type"], r["value"]) for r in ch)
        # hour 0 changed 1.0 -> 9.0; hour 1 (2.0) carried through and cancels
        assert got == [("delete", 1.0), ("insert", 9.0)]


class TestAttrCdfDeleteOnlyKeepsKeyType:
    def test_delete_only_interval_long_keys(self, spark, tmp_store_path):
        # int-keyed store: a delete-only interval builds the empty
        # 'added' side AFTER removed's schema is known, so the key stays
        # bigint instead of coercing to string via the declared default
        import pandas as pd

        st = AttrStore(spark, tmp_store_path + "_ik", keys=("year",))
        st.set_ts({"year": 2024}, s([1.0, 2.0]))
        v1 = st._txlog.snapshot().version
        st.delete({"year": 2024})
        ch = st.changes_between(v1)
        assert dict(ch.dtypes)["year"] == "bigint"
        rows = ch.collect()
        assert all(r["_change_type"] == "delete" and r["year"] == 2024
                   for r in rows)
        assert sorted(r["value"] for r in rows) == [1.0, 2.0]


class TestAttrTimeTravel:
    def test_as_of_view_and_write_refusal(self, spark, tmp_store_path):
        st = AttrStore(spark, tmp_store_path + "_tt", keys=("k",))
        st.set_ts({"k": "x"}, s([1.0]))
        v1 = st._txlog.snapshot().version
        st.set_ts({"k": "x"}, s([9.0]), replace=True)
        assert list(st.get_ts({"k": "x"}, flat=True)) == [9.0]
        old = st.time_travel(v1)
        assert list(old.get_ts({"k": "x"}, flat=True)) == [1.0]
        with pytest.raises(ValueError, match="read-only"):
            old.set_ts({"k": "y"}, s([2.0]))
        with pytest.raises(ValueError, match="read-only"):
            old.delete({"k": "x"})
