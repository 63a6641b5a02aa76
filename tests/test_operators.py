"""Operator-level tests (pure DataFrame → DataFrame).

Mirrors the reference's helper tests: islands/constant runs
(hostore/utils/timeseries.py:75-102), completeness
(timeseries.py:11-65), interval algebra (utils/range/tests.py),
combine_first (timeseries.py:136-163), disaggregation
(timeseries.py:166-225).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from holcstore_spark.operators.grid import completeness_holes, reindex_to_grid
from holcstore_spark.operators.intervals import Range, merge_intervals
from holcstore_spark.operators.islands import constant_runs, null_runs
from holcstore_spark.operators.overlay import combine_first, overlay_merge
from holcstore_spark.operators.resample import (
    disaggregate_by_reference,
    ffill,
    min_step,
    normalize_minmax,
)
from holcstore_spark.operators.slicing import (
    drop_bounds_na,
    slice_with_delay,
    split_at,
    time_slice,
)
from holcstore_spark.operators.versioning import next_version, with_next_version


def _ts(h):
    return pd.Timestamp("2024-01-01", tz="UTC") + pd.Timedelta(hours=h)


def _long(spark, rows):
    pdf = pd.DataFrame(rows, columns=["k", "ts", "value"])
    return spark.createDataFrame(pdf, schema="k string, ts timestamp, value double")


class TestIslands:
    def test_constant_runs_basic(self, spark):
        # reference find_constant_sequences: runs of equal value, NaN-aware
        vals = [1.0, 1.0, 2.0, None, None, 2.0]
        df = _long(spark, [("a", _ts(i), v) for i, v in enumerate(vals)])
        runs = constant_runs(df, ("k",)).orderBy("run_start").collect()
        assert [(r["value"], r["run_len"]) for r in runs] == [
            (1.0, 2), (2.0, 1), (None, 2), (2.0, 1),
        ]
        assert runs[0]["run_start"] == _ts(0).tz_localize(None)
        assert runs[0]["run_end"] == _ts(1).tz_localize(None)

    def test_null_runs(self, spark):
        vals = [None, 1.0, None, None, 1.0]
        df = _long(spark, [("a", _ts(i), v) for i, v in enumerate(vals)])
        runs = null_runs(df, ("k",)).orderBy("run_start").collect()
        assert [(r["run_len"]) for r in runs] == [1, 2]


class TestGrid:
    def test_holes_with_margin(self, spark):
        # hole at hours 2-3 of a 0..5 grid; margin widens by one step
        rows = [("a", _ts(h), 1.0) for h in [0, 1, 4, 5]]
        df = _long(spark, rows)
        holes = completeness_holes(
            df, ("k",), 3600, start=_ts(0), end=_ts(5)
        ).collect()
        assert len(holes) == 1
        assert holes[0]["hole_start"] == _ts(2).tz_localize(None)
        assert holes[0]["hole_end"] == _ts(3).tz_localize(None)
        wide = completeness_holes(
            df, ("k",), 3600, start=_ts(0), end=_ts(5), margin_seconds=3600
        ).collect()
        assert wide[0]["hole_start"] == _ts(1).tz_localize(None)
        assert wide[0]["hole_end"] == _ts(4).tz_localize(None)

    def test_absent_range_is_full_hole(self, spark):
        rows = [("a", _ts(h), 1.0) for h in [10, 11]]
        holes = completeness_holes(
            _long(spark, rows), ("k",), 3600, start=_ts(0), end=_ts(5)
        ).collect()
        assert len(holes) == 1
        assert holes[0]["hole_start"] == _ts(0).tz_localize(None)
        assert holes[0]["hole_end"] == _ts(5).tz_localize(None)

    def test_holes_gap_based_edges(self, spark):
        # r16 internals change: holes come from consecutive PRESENT grid
        # points (no dense-grid explode). Pin the edge semantics the old
        # grid+null_runs formulation defined:
        #  - off-grid timestamps never count as present
        #  - a key with only NULL values gets one full-grid hole
        #  - a non-aligned `end` truncates to the last grid point
        rows = [
            ("a", _ts(0), 1.0),
            ("a", _ts(1) + pd.Timedelta(minutes=30), 9.0),  # off-grid
            ("a", _ts(3), 2.0),
            ("b", _ts(1), None),                            # all-null key
        ]
        holes = completeness_holes(
            _long(spark, rows), ("k",), 3600,
            start=_ts(0), end=_ts(4) + pd.Timedelta(minutes=45),
        ).orderBy("k", "hole_start").collect()
        got = [(r["k"], r["hole_start"], r["hole_end"]) for r in holes]
        assert got == [
            ("a", _ts(1).tz_localize(None), _ts(2).tz_localize(None)),
            ("a", _ts(4).tz_localize(None), _ts(4).tz_localize(None)),
            ("b", _ts(0).tz_localize(None), _ts(4).tz_localize(None)),
        ], got

    def test_holes_single_point_key(self, spark):
        # one present point mid-range → leading AND trailing holes from
        # the same window row
        rows = [("a", _ts(2), 1.0)]
        holes = completeness_holes(
            _long(spark, rows), ("k",), 3600, start=_ts(0), end=_ts(4)
        ).orderBy("hole_start").collect()
        got = [(r["hole_start"], r["hole_end"]) for r in holes]
        assert got == [
            (_ts(0).tz_localize(None), _ts(1).tz_localize(None)),
            (_ts(3).tz_localize(None), _ts(4).tz_localize(None)),
        ], got

    def test_reindex_bounds_default_per_key(self, spark):
        rows = [("a", _ts(0), 1.0), ("a", _ts(3), 2.0), ("b", _ts(1), 3.0)]
        grid = reindex_to_grid(_long(spark, rows), ("k",), 3600)
        counts = {r["k"]: r["n"] for r in grid.groupBy("k").agg(F.count("*").alias("n")).collect()}
        assert counts == {"a": 4, "b": 1}


def _hole_rows(rng, start, n_points, freq_s, composite):
    """Seeded long rows around a ``start``-anchored grid of ``n_points``:
    random keys plus fixed keys for each non-present row shape."""
    step = pd.Timedelta(seconds=freq_s)
    half = step / 2

    def key(name, i=0):
        return (name, i) if composite else (name,)

    rows = []
    for i in range(6):
        density = rng.uniform(0.1, 0.9)
        for h in range(-3, n_points + 3):
            if rng.random() > density:
                continue
            ts = start + h * step + (half if rng.random() < 0.1 else pd.Timedelta(0))
            value = None if rng.random() < 0.2 else float(h)
            rows.append((*key("r", i % 3 if composite else i), ts, value))
            if rng.random() < 0.15:  # duplicated (keys, ts), maybe null
                rows.append((*key("r", i % 3 if composite else i), ts,
                             None if rng.random() < 0.5 else 1.0))
    rows += [
        (*key("one_null"), start + step, None),
        (*key("many_absent", 1), start, None),
        (*key("many_absent", 1), start + half, 1.0),            # off-grid
        (*key("many_absent", 1), start - step, 1.0),            # before start
        (*key("many_absent", 1), start + (n_points + 2) * step, 1.0),  # after end
        (*key("many_absent", 1), None, 1.0),                    # NULL ts
        (*key("many_absent", 1), start + 2 * step, None),
        (*key("dup_only"), start + 2 * step, 1.0),
        (*key("dup_only"), start + 2 * step, 2.0),
        (*key("dup_only"), start + 2 * step, None),
        (*key("null_ts"), None, 1.0),
        (*key("null_ts"), start + 3 * step, 1.0),
    ]
    return rows


def _dense_holes(df, keys, freq_s, start, end, margin_s):
    """Holes by the dense-grid formulation: reindex onto the grid and take
    the null runs. A grid point is present when any of its rows carries a
    value, so duplicates fold to one row first."""
    one_per_point = df.groupBy(*keys, "ts").agg(F.max("value").alias("value"))
    grid = reindex_to_grid(one_per_point, keys, freq_s, start=start, end=end)
    m = F.expr(f"INTERVAL {margin_s} SECOND")
    return null_runs(grid, keys).select(
        *keys,
        (F.col("run_start") - m).alias("hole_start"),
        (F.col("run_end") + m).alias("hole_end"),
    )


class TestHoleParity:
    """completeness_holes (one window pass over present points) against
    the dense-grid formulation on seeded random inputs."""

    @pytest.mark.parametrize(
        "seed,start_off,end_off,margin_s,composite",
        [
            (1, "0min", "0min", 0, False),
            (2, "20min", "0min", 3600, False),        # start off the hour grid
            (3, "0min", "45min", 1800, False),        # end off the grid
            (4, "0min", "30min", 7200, True),         # composite key
        ],
    )
    def test_matches_dense_grid(self, spark, seed, start_off, end_off,
                                margin_s, composite):
        import numpy as np

        rng = np.random.default_rng(seed)
        n_points = 30
        start = _ts(0) + pd.Timedelta(start_off)
        end = start + pd.Timedelta(hours=n_points - 1) + pd.Timedelta(end_off)
        keys = ("k", "j") if composite else ("k",)
        rows = _hole_rows(rng, start, n_points, 3600, composite)
        cols = ["k", "j", "ts", "value"] if composite else ["k", "ts", "value"]
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        schema = ", ".join(
            ["k string"] + (["j int"] if composite else []) + ["ts timestamp", "value double"]
        )
        df = spark.createDataFrame(pdf, schema=schema)

        holes = completeness_holes(df, keys, 3600, start=start, end=end,
                                   margin_seconds=margin_s)
        got = sorted(tuple(r) for r in holes.collect())
        want = sorted(tuple(r) for r in _dense_holes(
            df, keys, 3600, start, end, margin_s).collect())
        assert got == want
        # every key with rows but no present point has exactly one hole
        absent = [h for h in got if h[0] in ("one_null", "many_absent")]
        assert len(absent) == 2, absent

        merged = merge_intervals(
            holes.select(*keys, F.col("hole_start").alias("start"),
                         F.col("hole_end").alias("end")),
            keys=keys,
        )
        by_key: dict = {}
        for *k, s, e in got:
            by_key.setdefault(tuple(k), []).append(Range(s, e))
        want_merged = sorted(
            (*k, r.sd, r.ed) for k, rs in by_key.items() for r in Range.combine(rs)
        )
        assert sorted(tuple(r) for r in merged.collect()) == want_merged


class TestIntervals:
    def test_merge_intervals_df(self, spark):
        pdf = pd.DataFrame(
            {
                "k": ["a"] * 3 + ["b"],
                "start": [_ts(0), _ts(1), _ts(5), _ts(0)],
                "end": [_ts(2), _ts(3), _ts(6), _ts(1)],
            }
        )
        df = spark.createDataFrame(pdf)
        out = merge_intervals(df, keys=("k",)).orderBy("k", "start").collect()
        assert [(r["k"], r["start"], r["end"]) for r in out] == [
            ("a", _ts(0).tz_localize(None), _ts(3).tz_localize(None)),
            ("a", _ts(5).tz_localize(None), _ts(6).tz_localize(None)),
            ("b", _ts(0).tz_localize(None), _ts(1).tz_localize(None)),
        ]

    # Range scalar algebra (reference: hostore/utils/range/tests.py)
    def test_range_difference_cases(self):
        r = Range(10, 20)
        assert r.difference_missing(None) == [r]
        assert r.difference_missing(Range(0, 5)) == [r]        # disjoint
        assert r.difference_missing(Range(0, 30)) == []        # covered
        assert r.difference_missing(Range(0, 15)) == [Range(15, 20)]
        assert r.difference_missing(Range(15, 30)) == [Range(10, 15)]
        assert r.difference_missing(Range(12, 18)) == [Range(10, 12), Range(18, 20)]
        # min_delta drops slivers
        assert r.difference_missing(Range(11, 30), min_delta=2) == []
        assert r.difference_missing(Range(13, 30), min_delta=2) == [Range(10, 13)]

    def test_range_intersection(self):
        assert Range(0, 10).intersection(Range(5, 20)) == Range(5, 10)
        assert Range(0, 10).intersection(Range(20, 30)) is None
        assert Range(0, 10).intersection(Range(9, 20), min_delta=5) is None

    def test_range_combine_and_predicates(self):
        merged = Range.combine([Range(5, 6), Range(0, 2), Range(1, 3)])
        assert merged == [Range(0, 3), Range(5, 6)]
        assert Range(0, 10).overlap(Range(10, 20))
        assert Range(0, 10).includes(Range(2, 3))
        assert Range(0, 10).check_date(10)
        with pytest.raises(ValueError):
            Range(5, 1)


class TestOverlay:
    def test_combine_first_priority(self, spark):
        # list order = priority (reference ts_combine_first)
        a = _long(spark, [("k", _ts(0), 1.0), ("k", _ts(1), None)])
        b = _long(spark, [("k", _ts(0), 9.0), ("k", _ts(1), 2.0), ("k", _ts(2), 3.0)])
        out = combine_first([a, b], keys=("k",)).orderBy("ts").collect()
        assert [r["value"] for r in out] == [1.0, 2.0, 3.0]

    def test_overlay_merge_latest_version_wins(self, spark):
        pdf = pd.DataFrame(
            {
                "k": ["k"] * 4,
                "version": [0, 0, 1, 1],
                "ts": [_ts(0), _ts(1), _ts(0), _ts(2)],
                "value": [1.0, 2.0, 10.0, None],
            }
        )
        df = spark.createDataFrame(pdf)
        out = overlay_merge(df, combined_by=("k",), order_by=("-version",)).orderBy("ts").collect()
        # v1 wins at ts0; v0 fills ts1; all-null ts2 stays null
        assert [r["value"] for r in out] == [10.0, 2.0, None]


class TestSlicing:
    def test_time_slice_modes(self, spark):
        df = _long(spark, [("a", _ts(h), float(h)) for h in range(4)])
        assert time_slice(df, _ts(1), _ts(2)).count() == 2
        assert time_slice(df, _ts(1), _ts(3), closed="left").count() == 2
        assert time_slice(df, None, _ts(1)).count() == 2

    def test_drop_bounds_na(self, spark):
        vals = [None, 1.0, None, 2.0, None]
        df = _long(spark, [("a", _ts(i), v) for i, v in enumerate(vals)])
        out = drop_bounds_na(df, ("k",)).orderBy("ts").collect()
        assert [r["value"] for r in out] == [1.0, None, 2.0]

    def test_slice_with_delay_and_split(self, spark):
        df = _long(spark, [("a", _ts(h), float(h)) for h in range(5)])
        assert slice_with_delay(df, ("k",), 2 * 3600).count() == 3
        before, after = split_at(df, _ts(2))
        assert (before.count(), after.count()) == (3, 3)


class TestResample:
    def test_ffill(self, spark):
        vals = [1.0, None, None, 4.0]
        df = _long(spark, [("a", _ts(i), v) for i, v in enumerate(vals)])
        out = ffill(df, ("k",), ("value",)).orderBy("ts").collect()
        assert [r["value"] for r in out] == [1.0, 1.0, 1.0, 4.0]

    def test_normalize_minmax(self, spark):
        df = _long(spark, [("a", _ts(i), v) for i, v in enumerate([0.0, 5.0, 10.0])])
        out = normalize_minmax(df, ("k",)).orderBy("ts").collect()
        assert [r["value_norm"] for r in out] == [0.0, 0.5, 1.0]

    def test_min_step(self, spark):
        df = _long(spark, [("a", _ts(0), 1.0), ("a", _ts(1), 1.0), ("a", _ts(5), 1.0)])
        assert min_step(df, ("k",)).collect()[0]["min_step_seconds"] == 3600

    def test_disaggregate_preserves_profile(self, spark):
        # feat=24 at first hour of day, ref constant → flat 24/24=1 per slot? No:
        # out = feat * ref / mean(ref); ref constant c → out = feat. Use
        # varying ref to check proportionality.
        pdf = pd.DataFrame(
            {
                "k": ["a"] * 4,
                "ts": [_ts(h) for h in range(4)],
                "ref": [1.0, 3.0, 1.0, 3.0],
                "feat": [8.0, None, None, None],
            }
        )
        df = spark.createDataFrame(pdf)
        out = disaggregate_by_reference(
            df, ("k",), bucket=F.date_trunc("day", "ts")
        ).orderBy("ts").collect()
        # mean ref = 2 → out = 8*ref/2 = [4, 12, 4, 12]
        assert [r["value"] for r in out] == [4.0, 12.0, 4.0, 12.0]


class TestVersioning:
    def test_next_version(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"k": ["a", "a", "b"], "version": [0, 3, 1]})
        )
        assert next_version(df, {"k": "a"}) == 4
        assert next_version(df, {"k": "zzz"}) == 0

    def test_with_next_version_bulk(self, spark):
        existing = spark.createDataFrame(
            pd.DataFrame({"k": ["a", "a", "b"], "version": [0, 3, 1]})
        )
        new = spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "c"]}))
        out = {
            r["k"]: r["version"]
            for r in with_next_version(new, existing, ("k",)).collect()
        }
        assert out == {"a": 4, "b": 2, "c": 0}


class TestCusumDrift:
    def test_matches_sequential_recurrence(self, spark):
        import pandas as pd

        from holcstore_spark.operators.islands import cusum_drift

        vals = [1.0, 5.0, 5.0, 0.0, 5.0, 5.0, 5.0, 1.0]
        k, h = 2.0, 4.0
        df = spark.createDataFrame(pd.DataFrame({
            "k": ["a"] * len(vals),
            "ts": pd.date_range("2024-01-01", periods=len(vals), freq="h"),
            "value": vals,
        }))
        got = {
            (r["ts_us"], r["cusum_q"])
            for r in cusum_drift(df, ("k",), target_k=k, threshold_h=h).collect()
        }
        # reference sequential recurrence on quantized ints
        s, expected = 0, set()
        base = pd.Timestamp("2024-01-01").value // 1000
        for i, x in enumerate(vals):
            s = max(0, s + int(round(x * 1000)) - int(k * 1000))
            if s > int(h * 1000):
                expected.add((base + i * 3_600_000_000, s))
        assert got == expected and expected  # non-trivial case

    def test_reset_after_drop_below_target(self, spark):
        import pandas as pd

        from holcstore_spark.operators.islands import cusum_drift

        # a long low stretch must RESET the statistic (plain prefix-sum
        # without the running-min correction would go negative and hide
        # the later drift)
        vals = [10.0] * 3 + [0.0] * 50 + [10.0] * 3
        df = spark.createDataFrame(pd.DataFrame({
            "k": ["a"] * len(vals),
            "ts": pd.date_range("2024-01-01", periods=len(vals), freq="h"),
            "value": vals,
        }))
        rows = cusum_drift(df, ("k",), target_k=5.0, threshold_h=8.0).collect()
        ts = sorted(pd.Timestamp(r["ts_us"], unit="us") for r in rows)
        # alarms in BOTH bursts: the reset means the second burst alarms
        # again despite the deeply negative raw prefix sum before it
        assert ts[0] < pd.Timestamp("2024-01-01 12:00")
        assert ts[-1] > pd.Timestamp("2024-01-03")


class TestBoundedRank:
    def test_desc_null_last_matches_window_semantics(self, spark):
        """ADVICE r15: a NULL-scored row must rank LAST (the
        Window.orderBy(desc()) behavior bounded_rank replaced), not
        first — a bare negation sends -NULL to the front of the
        ascending struct sort."""
        import pandas as pd

        from holcstore_spark.functions.scalar import (
            bounded_rank, desc_null_last,
        )

        d = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "score": [2.0, None, 5.0, 2.0],
        }))
        got = [
            (r["doc_id"], r["rank"]) for r in bounded_rank(
                d, [*desc_null_last(F.col("score")), F.col("doc_id")],
                "rank",
            ).orderBy("rank").collect()
        ]
        # 5.0 first, ties broken by id, NULL dead last
        assert got == [(3, 1), (1, 2), (4, 3), (2, 4)]
        # regression shape: the bare negation would put doc 2 first
        bad = [
            r["doc_id"] for r in bounded_rank(
                d, [-F.col("score"), F.col("doc_id")], "rank",
            ).orderBy("rank").collect()
        ]
        assert bad[0] == 2  # documents why desc_null_last exists
