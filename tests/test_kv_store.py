"""KeyValueStore semantics (reference Store tests: tests_basics.py,
tests_with_attributes.py, tests_slice_with_delay.py, tests_find_groups.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from holcstore_spark.operators.intervals import Range
from holcstore_spark.sources.kv_store import KeyValueStore


def dt_series(vals, start="2024-01-01", freq="1D"):
    idx = pd.date_range(start, periods=len(vals), freq=freq, tz="UTC")
    return pd.Series([float(v) if v is not None else np.nan for v in vals], index=idx)


@pytest.fixture()
def kv(spark, tmp_store_path):
    return KeyValueStore(spark, tmp_store_path)


class TestCrud:
    def test_roundtrip_datetime_index(self, kv):
        s = dt_series([1, 2, 3])
        kv.set_lc("p1", s, client_id=7)
        got = kv.get_lc("p1", 7)
        assert len(got) == 1
        pd.testing.assert_series_equal(got[0]["data"], s, check_names=False, check_freq=False)

    def test_roundtrip_integer_index(self, kv):
        # reference stores integer-indexed series (tests_basics.py:29)
        s = pd.Series([1.0, 2.0, 3.0], index=[0, 1, 2])
        kv.set_lc("p1", s, client_id=1)
        got = kv.get_lc("p1", 1)[0]["data"]
        assert list(got.index) == [0, 1, 2]
        assert list(got.values) == [1.0, 2.0, 3.0]

    def test_replace_non_versioned(self, kv):
        kv.set_lc("p1", dt_series([1, 2]), client_id=1)
        kv.set_lc("p1", dt_series([9, 9]), client_id=1)
        got = kv.get_lc("p1", 1)
        assert len(got) == 1
        assert (got[0]["data"] == 9.0).all()

    def test_rejections(self, kv):
        with pytest.raises(ValueError):
            kv.set_lc("p1", dt_series([None, None]), client_id=1)
        with pytest.raises(ValueError):
            kv.set_lc("p1", "not a series", client_id=1)

    def test_count_clear(self, kv):
        kv.set_lc("p1", dt_series([1]), client_id=1)
        kv.set_lc("p2", dt_series([1]), client_id=1)
        kv.set_lc("p1", dt_series([1]), client_id=2)
        assert kv.count() == 3
        assert kv.count(client_id=1) == 2
        kv.clear(["p1"], client_id=1)
        assert kv.count(client_id=1) == 1
        kv.clear_all(client_id=2)
        assert kv.count() == 1
        kv.clear_all()
        assert kv.count() == 0
        assert kv.get_lc("p1", 1) == []

    def test_rewrites_scoped_to_tenant_partition(self, kv, tmp_store_path):
        """Non-versioned writes and clears must not touch other tenants'
        files (VERDICT r2 #7): assert by the live manifest paths (files
        are immutable, so an untouched tenant keeps its exact paths)."""
        def part_files(cid):
            return {
                e["path"] for e in kv._txlog.snapshot().files["data"]
                if e.get("rows") and e["chunk_min"] <= cid <= e["chunk_max"]
            }

        kv.set_lc("p1", dt_series([1, 2]), client_id=1)
        kv.set_lc("p1", dt_series([3, 4]), client_id=2)
        before = part_files(2)
        assert before
        # writes + clear for client 1 leave client 2's files untouched
        kv.set_lc("p2", dt_series([5]), client_id=1)
        kv.set_many_lc({"p3": dt_series([6]), "p4": dt_series([7])}, client_id=1)
        kv.clear(["p1"], client_id=1)
        kv.clear_all(client_id=1)
        assert part_files(2) == before
        assert not part_files(1)
        # client 2 still reads back intact
        got = kv.get_lc("p1", 2)
        assert len(got) == 1 and list(got[0]["data"].values) == [3.0, 4.0]


class TestVersioning:
    def test_auto_increment_and_combined_read(self, kv):
        # reference tests_basics.py:86-137
        v0 = dt_series([1, 1, 1, None])
        v1 = dt_series([None, 2, 2, 2])
        kv.set_lc("p1", v0, client_id=1, versionning=True)
        kv.set_lc("p1", v1, client_id=1, versionning=True)
        raw = kv.get_lc("p1", 1, combined_versions=False)
        assert [e["version"] for e in raw] == [1, 0]
        comb = kv.get_lc("p1", 1)
        assert len(comb) == 1
        assert comb[0]["version"] == 1  # reports latest version
        expected = v1.combine_first(v0)
        pd.testing.assert_series_equal(
            comb[0]["data"], expected, check_names=False, check_freq=False
        )

    def test_specific_version_read(self, kv):
        kv.set_lc("p1", dt_series([1]), client_id=1, versionning=True)
        kv.set_lc("p1", dt_series([2]), client_id=1, versionning=True)
        got = kv.get_lc("p1", 1, combined_versions=False, version=0)
        assert len(got) == 1 and got[0]["data"].iloc[0] == 1.0

    def test_combined_by_custom_attrs(self, kv, spark, tmp_store_path):
        # reference tests_with_attributes.py:35-85: overlay per (prm, year)
        kv2 = KeyValueStore(spark, tmp_store_path + "_attrs", attr_cols=("year",))
        kv2.set_lc("p1", dt_series([1, 1]), client_id=1, versionning=True,
                   attributes_to_set={"year": "2023"})
        kv2.set_lc("p1", dt_series([2, 2]), client_id=1, versionning=True,
                   attributes_to_set={"year": "2024"})
        comb = kv2.get_lc("p1", 1, combined_by=("prm", "year"))
        assert len(comb) == 2
        years = sorted(e["year"] for e in comb)
        assert years == ["2023", "2024"]

    def test_combined_delay(self, kv):
        # reference tests_slice_with_delay.py:31-54 — each version loses its
        # first `delay` before the overlay
        v0 = dt_series([10, 10, 10, 10], start="2024-01-01")
        v1 = dt_series([2, 2], start="2024-01-01")
        kv.set_lc("p1", v0, client_id=1, versionning=True)
        kv.set_lc("p1", v1, client_id=1, versionning=True)
        comb = kv.get_lc("p1", 1, combined_delay="1D")[0]["data"]
        # v1 contributes only Jan 2 (its first day cut); v0 only Jan 2-4
        assert comb.loc[pd.Timestamp("2024-01-02", tz="UTC")] == 2.0
        assert comb.loc[pd.Timestamp("2024-01-03", tz="UTC")] == 10.0
        assert pd.Timestamp("2024-01-01", tz="UTC") not in comb.index


class TestBulk:
    def test_set_many_versioned_single_write(self, kv):
        kv.set_lc("a", dt_series([0]), client_id=1, versionning=True)
        kv.set_many_lc({"a": dt_series([1]), "b": dt_series([2])},
                       client_id=1, versionning=True)
        raw = kv.df().select("prm", "version").distinct().collect()
        got = sorted((r["prm"], r["version"]) for r in raw)
        assert got == [("a", 0), ("a", 1), ("b", 0)]

    def test_get_many(self, kv):
        kv.set_many_lc({"a": dt_series([1]), "b": dt_series([2])}, client_id=1)
        out = kv.get_many_lc(["a", "b", "absent"], client_id=1)
        assert set(out) == {"a", "b"}

    def test_set_many_versioned_null_scope_attr(self, kv, spark, tmp_store_path):
        """ADVICE r2: versionning_by includes an attr the caller leaves unset
        (NULL). The bulk path must null-safe-join against existing NULL rows
        like set_lc does, not silently restart versions at 0."""
        kv2 = KeyValueStore(spark, tmp_store_path + "_nullscope", attr_cols=("year",))
        kv2.set_many_lc({"p1": dt_series([1])}, client_id=1, versionning=True,
                        versionning_by=("prm", "year"))          # year unset -> NULL
        kv2.set_many_lc({"p1": dt_series([2])}, client_id=1, versionning=True,
                        versionning_by=("prm", "year"))
        raw = kv2.df().select("prm", "version").distinct().collect()
        assert sorted((r["prm"], r["version"]) for r in raw) == [("p1", 0), ("p1", 1)]
        # overlay read is deterministic: latest version wins
        got = kv2.get_lc("p1", 1)
        assert len(got) == 1 and got[0]["version"] == 1
        assert got[0]["data"].iloc[0] == 2.0

    def test_edge_row_cap_fails_loudly_not_oom(self, kv):
        # the pandas edge buffers the whole combined frame by contract; a
        # multi-get past max_edge_rows must raise EdgeMemoryError (via a
        # limit(n+1) sentinel, no extra count job), not OOM the driver
        from holcstore_spark.sources.kv_store import EdgeMemoryError

        kv.set_many_lc(
            {f"p{i}": dt_series([1, 2, 3]) for i in range(4)}, client_id=1
        )
        kv.max_edge_rows = 5  # 4 prms x 3 rows = 12 > 5
        with pytest.raises(EdgeMemoryError, match="max_edge_rows"):
            kv.get_many_lc([f"p{i}" for i in range(4)], client_id=1)
        with pytest.raises(EdgeMemoryError, match="max_edge_rows"):
            kv.get_many_lc([f"p{i}" for i in range(4)], client_id=1,
                           combined_versions=False)
        # under the cap both paths still work
        kv.max_edge_rows = 10_000_000
        assert set(kv.get_many_lc([f"p{i}" for i in range(4)], 1)) == {
            "p0", "p1", "p2", "p3"
        }

    def test_find_holes_rejects_extra_combined_by(self, kv):
        kv.set_lc("p1", dt_series([1, 2]), client_id=1)
        with pytest.raises(ValueError, match="combined_by"):
            list(kv.find_holes(["p1"], 1, "2024-01-01", "2024-01-05",
                               combined_by=("prm", "version")))


class TestHoles:
    def test_find_holes_patterns(self, kv):
        # reference tests_basics.py:197-243: 0, 1, 2 holes + absent prm
        full = dt_series([1] * 10)
        one_hole = dt_series([1, 1, None, None, 1, 1, 1, 1, 1, 1])
        two_holes = dt_series([1, None, 1, 1, None, None, 1, 1, 1, 1])
        kv.set_lc("full", full, client_id=1)
        kv.set_lc("one", one_hole, client_id=1)
        kv.set_lc("two", two_holes, client_id=1)
        sd, ed = "2024-01-01", "2024-01-10"
        holes = dict(kv.find_holes(["full", "one", "two", "absent"], 1, sd, ed))
        assert holes["full"] == []
        assert len(holes["one"]) == 1
        assert len(holes["two"]) == 2
        assert holes["absent"] == [
            Range(pd.Timestamp(sd, tz="UTC"), pd.Timestamp(ed, tz="UTC"))
        ]
        h = holes["one"][0]
        assert h.sd == pd.Timestamp("2024-01-03", tz="UTC")
        assert h.ed == pd.Timestamp("2024-01-04", tz="UTC")

    def test_find_holes_margin_and_all_prms(self, kv):
        # freq_margin widens holes (reference utils/timeseries.py:42-64);
        # prms=None scans every prm of the client
        kv.set_lc("m", dt_series([1, 1, None, 1, 1]), client_id=1)
        holes = dict(kv.find_holes(None, 1, "2024-01-01", "2024-01-05",
                                   freq_margin="1D"))
        assert set(holes) == {"m"}
        h = holes["m"][0]
        assert h.sd == pd.Timestamp("2024-01-02", tz="UTC")
        assert h.ed == pd.Timestamp("2024-01-04", tz="UTC")

    def test_find_groups(self, kv):
        kv.set_lc("a", dt_series([1] * 5), client_id=1)
        kv.set_lc("b", dt_series([1, 1, None, 1, 1]), client_id=1)
        data, groups = kv.find_groups(["a", "b", "c"], 1, "2024-01-01", "2024-01-05")
        assert set(data) == {"a", "b"}
        # c missing everywhere; b has the middle hole
        all_ranges = {r for rs in groups for r in [rs]}
        assert any("c" in prms for prms in groups.values())
        assert any("b" in prms for prms in groups.values())


@pytest.fixture()
def kv_acid(spark, tmp_store_path):
    return KeyValueStore(spark, tmp_store_path + "_acid")


class TestKvAcid:
    """KV semantics on the manifest backend (client_id = chunk role,
    prm = key role in the transaction log)."""

    def test_versioned_overlay_roundtrip(self, kv_acid):
        kv = kv_acid
        kv.set_lc("p1", dt_series([1, 2, None]), client_id=7, versionning=True)
        kv.set_lc("p1", dt_series([None, 20, 30]), client_id=7, versionning=True)
        got = kv.get_lc("p1", 7)[0]["data"]  # latest wins, older fills holes
        assert list(got) == [1.0, 20.0, 30.0]

    def test_nonversioned_replace_and_clear(self, kv_acid):
        kv = kv_acid
        kv.set_lc("p1", dt_series([1, 2]), client_id=1)
        kv.set_lc("p1", dt_series([9, 9]), client_id=1)  # replaces v0
        assert list(kv.get_lc("p1", 1)[0]["data"]) == [9.0, 9.0]
        kv.set_lc("p2", dt_series([5]), client_id=1)
        kv.clear(["p1"], client_id=1)
        assert kv.get_lc("p1", 1) == []
        assert list(kv.get_lc("p2", 1)[0]["data"]) == [5.0]

    def test_bulk_and_clear_all(self, kv_acid):
        kv = kv_acid
        kv.set_many_lc({"a": dt_series([1]), "b": dt_series([2])}, client_id=3,
                       versionning=True)
        kv.set_many_lc({"a": dt_series([10])}, client_id=3, versionning=True)
        assert list(kv.get_lc("a", 3)[0]["data"]) == [10.0]
        kv.clear_all(client_id=3)
        assert kv.count(3) == 0
        # a fully-emptied acid store still reads as empty, not an error
        assert kv.get_lc("a", 3) == []

    def test_concurrent_different_prms_both_land(
        self, spark, tmp_store_path, monkeypatch
    ):
        import holcstore_spark.sources.kv_store as kv_mod

        a = KeyValueStore(spark, tmp_store_path + "_cc")
        b = KeyValueStore(spark, a.path)
        orig = kv_mod.KeyValueStore._stage
        state = {"fired": False}

        def inject(self_, df):
            out = orig(self_, df)
            if self_ is a and not state["fired"]:
                state["fired"] = True
                b.set_lc("py", dt_series([2]), client_id=1, versionning=True)
            return out

        monkeypatch.setattr(kv_mod.KeyValueStore, "_stage", inject)
        a.set_lc("px", dt_series([1]), client_id=1, versionning=True)
        monkeypatch.setattr(kv_mod.KeyValueStore, "_stage", orig)
        assert list(a.get_lc("px", 1)[0]["data"]) == [1.0]
        assert list(a.get_lc("py", 1)[0]["data"]) == [2.0]

    def test_concurrent_same_prm_versioned_appends_conflict(
        self, spark, tmp_store_path, monkeypatch
    ):
        # both writers would compute the SAME next version from a shared
        # base — exactly the silent lost-update the digests must catch
        from holcstore_spark.sources.chunk_store import ConcurrentWriteError
        import holcstore_spark.sources.kv_store as kv_mod

        a = KeyValueStore(spark, tmp_store_path + "_cf")
        b = KeyValueStore(spark, a.path)
        a.set_lc("p", dt_series([0]), client_id=1, versionning=True)
        orig = kv_mod.KeyValueStore._stage
        state = {"fired": False}

        def inject(self_, df):
            out = orig(self_, df)
            if self_ is a and not state["fired"]:
                state["fired"] = True
                b.set_lc("p", dt_series([2]), client_id=1, versionning=True)
            return out

        monkeypatch.setattr(kv_mod.KeyValueStore, "_stage", inject)
        with pytest.raises(ConcurrentWriteError):
            a.set_lc("p", dt_series([3]), client_id=1, versionning=True)
        monkeypatch.setattr(kv_mod.KeyValueStore, "_stage", orig)
        # the winner's version landed; no duplicate-version rows
        got = a.get_lc("p", 1)[0]["data"]
        assert list(got) == [2.0]

    def test_vacuum(self, kv_acid):
        kv = kv_acid
        kv.set_lc("p1", dt_series([1, 2]), client_id=1)
        kv.set_lc("p1", dt_series([9, 9]), client_id=1)
        assert kv.vacuum(retention_seconds=0) >= 1
        assert list(kv.get_lc("p1", 1)[0]["data"]) == [9.0, 9.0]

    def test_cross_client_isolation(self, kv_acid):
        # regression: manifest entries must carry client_id as their
        # chunk stats — without them every rewrite treated ALL files as
        # affected and one tenant's write clobbered the others
        kv = kv_acid
        kv.set_many_lc({"a": dt_series([1]), "b": dt_series([2])}, client_id=1)
        kv.set_many_lc({"a": dt_series([3])}, client_id=2)
        assert list(kv.get_lc("a", 1)[0]["data"]) == [1.0]
        assert list(kv.get_lc("b", 1)[0]["data"]) == [2.0]
        assert list(kv.get_lc("a", 2)[0]["data"]) == [3.0]
        kv.clear(["a"], client_id=1)
        assert kv.get_lc("a", 1) == []
        assert list(kv.get_lc("a", 2)[0]["data"]) == [3.0]
        kv.clear_all(client_id=2)
        assert kv.count(1) == 1 and kv.count(2) == 0


class TestKvAcidAdviceR6:
    """Round-7 fixes: shared-file bystander preservation and
    one-snapshot-per-operation pinning (ADVICE-r6 high/medium)."""

    def test_shared_file_rewrite_preserves_other_tenants(
        self, spark, tmp_store_path
    ):
        # Force a single staged file spanning BOTH clients (clear_all's
        # full-table restage with one shuffle partition), then rewrite
        # one tenant: the other tenant's rows live only in the shared
        # file and must ride along into the rewrite, not vanish with it.
        kv = KeyValueStore(spark, tmp_store_path + "_shared")
        kv.set_lc("a", dt_series([1]), client_id=1)
        kv.set_lc("b", dt_series([2]), client_id=2)
        kv.set_lc("junk", dt_series([7]), client_id=3)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        try:
            # full-table restage (no client_id scope) → one shared file
            kv.clear_all(custom_filters={"prm": "junk"})
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        snap = kv._txlog.snapshot()
        spans = [e for e in snap.files["data"]
                 if e.get("chunk_min") != e.get("chunk_max")]
        assert spans, "precondition: a staged file must span both clients"
        kv.set_lc("a", dt_series([9]), client_id=1)  # rewrite tenant 1
        assert list(kv.get_lc("a", 1)[0]["data"]) == [9.0]
        assert list(kv.get_lc("b", 2)[0]["data"]) == [2.0]  # bystander intact
        kv.clear(["a"], client_id=1)
        assert kv.get_lc("a", 1) == []
        assert list(kv.get_lc("b", 2)[0]["data"]) == [2.0]

    def test_interleave_between_version_read_and_append_conflicts(
        self, spark, tmp_store_path, monkeypatch
    ):
        # The window the pinned snapshot closes: a commit landing AFTER
        # the next-version read but BEFORE our commit used to be adopted
        # as a fresher commit base and never conflict-checked — both
        # writers' rows landed under the SAME version. With the base
        # pinned at operation start the interleaved commit sits above it
        # and the rebase walk raises.
        from holcstore_spark.sources.chunk_store import ConcurrentWriteError
        import holcstore_spark.sources.kv_store as kv_mod

        a = KeyValueStore(spark, tmp_store_path + "_pin")
        b = KeyValueStore(spark, a.path)
        a.set_lc("p", dt_series([0]), client_id=1, versionning=True)
        orig = kv_mod.KeyValueStore._next_version
        state = {"fired": False}

        def inject(self_, scope, snap=None):
            v = orig(self_, scope, snap)
            if self_ is a and not state["fired"]:
                state["fired"] = True
                b.set_lc("p", dt_series([2]), client_id=1, versionning=True)
            return v

        monkeypatch.setattr(kv_mod.KeyValueStore, "_next_version", inject)
        with pytest.raises(ConcurrentWriteError):
            a.set_lc("p", dt_series([3]), client_id=1, versionning=True)
        monkeypatch.setattr(kv_mod.KeyValueStore, "_next_version", orig)
        # exactly one version-1 row set: the interleaved writer's
        got = a.get_lc("p", 1)[0]
        assert got["version"] == 1 and list(got["data"]) == [2.0]


class TestKvChangesBetween:
    def test_versioned_append_and_clear_delta(self, spark, tmp_store_path):
        kv = KeyValueStore(spark, tmp_store_path + "_cdf")
        kv.set_lc("p1", dt_series([1, 2]), client_id=1, versionning=True)
        v1 = kv._txlog.snapshot().version
        kv.set_lc("p1", dt_series([3, 4]), client_id=1, versionning=True)
        ch = kv.changes_between(v1).collect()
        assert all(r["_change_type"] == "insert" for r in ch)
        assert sorted(r["value"] for r in ch) == [3.0, 4.0]
        v2 = kv._txlog.snapshot().version
        kv.clear(["p1"], client_id=1)
        ch2 = kv.changes_between(v2).collect()
        assert all(r["_change_type"] == "delete" for r in ch2)
        assert sorted(r["value"] for r in ch2) == [1.0, 2.0, 3.0, 4.0]


class TestKvTimeTravel:
    def test_as_of_view_and_write_refusal(self, spark, tmp_store_path):
        kv = KeyValueStore(spark, tmp_store_path + "_tt")
        kv.set_lc("p", dt_series([1, 2]), client_id=1)
        v1 = kv._txlog.snapshot().version
        kv.set_lc("p", dt_series([9, 9]), client_id=1)
        assert list(kv.get_lc("p", 1)[0]["data"]) == [9.0, 9.0]
        old = kv.time_travel(v1)
        assert list(old.get_lc("p", 1)[0]["data"]) == [1.0, 2.0]
        with pytest.raises(ValueError, match="read-only"):
            old.set_lc("q", dt_series([5]), client_id=1)
        with pytest.raises(ValueError, match="not a committed log version"):
            kv.time_travel(99)


class TestRewriteRowsCap:
    """VERDICT r10 "what's wrong #3": KV/Attr rewrite whole table/tenant
    scopes per remove-rows write — above REWRITE_ROWS_CAP that must be a
    loud error naming ChunkStore, not a silent O(table) rewrite."""

    def test_acid_rewrite_above_cap_refuses_loudly(
        self, kv_acid, monkeypatch
    ):
        kv = kv_acid
        kv.set_lc("p1", dt_series([1, 2, 3]), client_id=1)
        kv.set_lc("p2", dt_series([4, 5]), client_id=1)
        monkeypatch.setattr(type(kv), "REWRITE_ROWS_CAP", 3)
        # tenant rewrite (clear one prm) now covers 5 rows > cap 3
        with pytest.raises(ValueError, match="REWRITE_ROWS_CAP"):
            kv.clear(["p1"], client_id=1)
        with pytest.raises(ValueError, match="ChunkStore"):
            kv.clear_all()
        # nothing was deleted by the refusals
        assert kv.count() == 2
        # raising the cap (the documented escape hatch) unblocks
        monkeypatch.setattr(type(kv), "REWRITE_ROWS_CAP", 5_000_000)
        kv.clear(["p1"], client_id=1)
        assert kv.get_lc("p1", 1) == []

    def test_appends_never_capped(self, kv_acid, monkeypatch):
        kv = kv_acid
        monkeypatch.setattr(type(kv), "REWRITE_ROWS_CAP", 0)
        # versioned writes are pure appends — the cap must not block them
        kv.set_lc("p1", dt_series([1, 2]), client_id=1, versionning=True)
        kv.set_lc("p1", dt_series([3, 4]), client_id=1, versionning=True)
        assert list(kv.get_lc("p1", 1)[0]["data"]) == [3.0, 4.0]
