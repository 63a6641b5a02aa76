"""Property-based oracles: the Spark operators must agree with the pandas
semantics they re-express, on randomized inputs (hypothesis drives the
shapes; pandas is the executable spec, exactly the reference's substrate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from holcstore_spark.operators.islands import constant_runs
from holcstore_spark.operators.overlay import combine_first
from holcstore_spark.operators.slicing import drop_bounds_na

# one value per hour starting here; None → NULL/NaN
values = st.lists(
    st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
    min_size=1, max_size=24,
)

SETTINGS = settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def to_series(vals):
    idx = pd.date_range("2024-01-01", periods=len(vals), freq="1h", tz="UTC")
    return pd.Series([np.nan if v is None else float(v) for v in vals], index=idx)


def to_sdf(spark, vals, key="k"):
    s = to_series(vals)
    pdf = pd.DataFrame({"k": key, "ts": s.index, "value": s.to_numpy()})
    df = spark.createDataFrame(pdf, schema="k string, ts timestamp, value double")
    return df.withColumn(
        "value", F.when(F.isnan("value"), F.lit(None)).otherwise(F.col("value"))
    )


class TestProperties:
    @SETTINGS
    @given(a=values, b=values, c=values)
    def test_combine_first_matches_pandas_fold(self, spark, a, b, c):
        # Spark combine_first over long frames ≡ pandas combine_first fold
        # (the reference's ts_combine_first, utils/timeseries.py:136-163)
        sa, sb, sc = to_series(a), to_series(b), to_series(c)
        expected = sa.combine_first(sb).combine_first(sc)
        out = combine_first(
            [to_sdf(spark, a), to_sdf(spark, b), to_sdf(spark, c)], keys=("k",)
        ).orderBy("ts").collect()
        got = pd.Series(
            [r["value"] if r["value"] is not None else np.nan for r in out],
            index=pd.DatetimeIndex([r["ts"] for r in out]).tz_localize("UTC"),
        )
        pd.testing.assert_series_equal(got, expected, check_names=False, check_freq=False)

    @SETTINGS
    @given(vals=values)
    def test_constant_runs_reconstruct(self, spark, vals):
        # runs must tile the series exactly: lengths sum to n, boundaries
        # are value changes under NaN-aware equality
        runs = (
            constant_runs(to_sdf(spark, vals), ("k",))
            .orderBy("run_start").collect()
        )
        assert sum(r["run_len"] for r in runs) == len(vals)
        # reconstruct and compare
        rebuilt = []
        for r in runs:
            rebuilt += [r["value"]] * r["run_len"]
        orig = [None if v is None else float(v) for v in vals]
        assert rebuilt == orig

    @SETTINGS
    @given(vals=values)
    def test_drop_bounds_na_matches_pandas(self, spark, vals):
        s = to_series(vals)
        out = drop_bounds_na(to_sdf(spark, vals), ("k",)).orderBy("ts").collect()
        first, last = s.first_valid_index(), s.last_valid_index()
        if first is None:
            assert out == []
        else:
            expected = s.loc[first:last]
            assert len(out) == len(expected)
            assert out[0]["ts"] == first.tz_localize(None)
            assert out[-1]["ts"] == last.tz_localize(None)


# distinct random timestamps (minutes offsets) per side; keys from a pool
asof_times = st.lists(
    st.integers(min_value=0, max_value=500), min_size=1, max_size=20,
    unique=True,
)


class TestAsofProperties:
    @SETTINGS
    @given(lt=asof_times, rt=asof_times, tol=st.one_of(
        st.none(), st.integers(min_value=1, max_value=120)))
    def test_asof_matches_pandas_merge_asof(self, spark, lt, rt, tol):
        from holcstore_spark.operators.asof import asof_join

        base = pd.Timestamp("2024-01-01", tz="UTC")
        left = pd.DataFrame({
            "k": "a",
            "ts": [base + pd.Timedelta(minutes=m) for m in lt],
            "lv": range(len(lt)),
        })
        right = pd.DataFrame({
            "k": "a",
            "ts": [base + pd.Timedelta(minutes=m) for m in rt],
            "rv": [m * 10 for m in rt],
        })
        expected = pd.merge_asof(
            left.sort_values("ts"), right.sort_values("ts"),
            on="ts", by="k", direction="backward",
            tolerance=None if tol is None else pd.Timedelta(minutes=tol),
            suffixes=("", "_r"),
        )
        out = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="k",
            tolerance_seconds=None if tol is None else tol * 60,
        ).orderBy("ts").toPandas()
        exp = expected["rv"].astype("float64").reset_index(drop=True)
        got = out["rv_r"].astype("float64").reset_index(drop=True)
        pd.testing.assert_series_equal(got, exp, check_names=False)


class TestPackingProperties:
    @SETTINGS
    @given(
        counts=st.lists(st.integers(min_value=0, max_value=9),
                        min_size=1, max_size=40),
        block=st.integers(min_value=1, max_value=16),
        bucket=st.integers(min_value=1, max_value=8),
    )
    def test_pack_manifest_matches_serial_spec(self, spark, counts, block, bucket):
        # the distributed two-phase prefix sum must equal the serial
        # cumsum over doc_id order, for any bucket granularity
        from holcstore_spark.operators.packing import pack_manifest

        texts = [" ".join(["w"] * c) if c else "" for c in counts]
        d = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(counts)), "text": texts})
        )
        out = {
            r["doc_id"]: r
            for r in pack_manifest(
                d, block_tokens=block, bucket_size=bucket
            ).collect()
        }
        off = 0
        for i, c in enumerate(counts):
            n = max(c, 1)  # split('') yields [''] → 1 token, like the engine
            r = out[i]
            assert r["n_tokens"] == n
            assert r["start_offset"] == off
            assert r["start_block"] == off // block
            assert r["end_block"] == (off + max(n, 1) - 1) // block
            off += n


class TestChunkingProperties:
    @SETTINGS
    @given(
        text=st.text(alphabet="ab c", min_size=0, max_size=600),
        size=st.integers(min_value=1, max_value=50),
        stride=st.integers(min_value=1, max_value=50),
    )
    def test_doc_chunks_cover_and_reconstruct(self, spark, text, size, stride):
        from holcstore_spark.operators.text import doc_chunks

        df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": [text]}))
        rows = sorted(
            doc_chunks(df, size=size, stride=stride).collect(),
            key=lambda r: r["chunk_id"],
        )
        if not text:
            assert rows == []
            return
        # every chunk is the exact substring at its window
        for r in rows:
            start = r["chunk_id"] * stride
            assert r["chunk"] == text[start:start + size]
        # full coverage when windows at least touch (stride <= size):
        # the last window reaches the end of the document. stride > size
        # is gap-sampling by design and cannot cover the tail.
        last = rows[-1]
        if stride <= size:
            assert last["chunk_id"] * stride + len(last["chunk"]) == len(text)
        # window count matches the closed-form start count
        assert len(rows) == (len(text) - 1) // stride + 1

    @SETTINGS
    @given(
        vec=st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False,
                      width=32),
            min_size=1, max_size=16,
        )
    )
    def test_quantize_roundtrip_error_bound(self, spark, vec):
        from holcstore_spark.operators.similarity import quantize_embeddings

        df = spark.createDataFrame(pd.DataFrame({"vec_id": [0], "embedding": [vec]}))
        row = quantize_embeddings(df).collect()[0]
        scale = row["q_scale"]
        codes = list(row["q_vec"])
        assert all(abs(c) <= 127 for c in codes)
        if scale == 0.0:
            assert all(c == 0 for c in codes)
            return
        for orig, code in zip(vec, codes):
            # half-up rounding: reconstruction error <= scale/2 (+ulp slack)
            assert abs(code * scale - float(np.float32(orig))) <= scale / 2 * (1 + 1e-9)


class TestTxLogReplayModel:
    """Model-based check of the transaction-log replay invariant: after
    ANY sequence of adds/removes/checkpoints/prunes, snapshot() must
    equal the trivial python set model, and max_op_id must survive
    summarization."""

    @given(
        ops=st.lists(
            st.tuples(
                st.sampled_from(["add", "remove", "checkpoint_prune"]),
                st.integers(min_value=0, max_value=30),
            ),
            min_size=1,
            max_size=60,
        )
    )
    @settings(max_examples=30, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_snapshot_matches_set_model(self, ops):
        import os
        import shutil
        import tempfile

        from holcstore_spark.sources.txlog import TxLog

        root = tempfile.mkdtemp(prefix="holc_txmodel_")
        try:
            self._run_model(root, ops)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    @staticmethod
    def _run_model(root, ops):
        import os

        from holcstore_spark.sources.txlog import TxLog

        log = TxLog(os.path.join(root, "model"))
        live: dict[str, dict] = {}
        max_op = 0
        n_added = 0
        for kind, arg in ops:
            if kind == "add":
                path = f"files/f{n_added}.parquet"
                n_added += 1
                entry = {"path": path, "rows": 1, "chunk_min": arg,
                         "chunk_max": arg, "key_stats": None}
                op_id = TxLog.next_op_id(log.snapshot())
                log.commit(log.snapshot().version, "add", op_id,
                           adds={"data": [entry]}, removes={})
                live[path] = entry
                max_op = max(max_op, op_id)
            elif kind == "remove" and live:
                victim_path = sorted(live)[arg % len(live)]
                entry = live.pop(victim_path)
                op_id = TxLog.next_op_id(log.snapshot())
                log.commit(log.snapshot().version, "rm", op_id,
                           adds={}, removes={"data": [entry]},
                           touched={entry["chunk_min"]},
                           dropped_keys=[])
                max_op = max(max_op, op_id)
            else:
                log.prune_log()
        snap = log.snapshot()
        assert {e["path"] for e in snap.files["data"]} == set(live)
        assert snap.max_op_id == max_op
        # a cold instance replays to the identical state
        cold = TxLog(log.root).snapshot()
        assert {e["path"] for e in cold.files["data"]} == set(live)
        assert cold.max_op_id == snap.max_op_id


class TestTxLogLifecycleModel:
    """Round 10: model-based check of the FULL maintenance lifecycle —
    adds, removes, retention-0 vacuums (sidecar-driven), restores and
    prunes in any interleaving. Invariants after every op: the snapshot
    equals the set model, every live path exists on disk (vacuum never
    eats a referenced file), and a successful restore(v) reproduces
    exactly the version-v file set."""

    @given(
        ops=st.lists(
            st.tuples(
                st.sampled_from(
                    ["add", "add", "remove", "vacuum", "restore", "prune",
                     "txn_add", "txn_add"]
                ),
                st.integers(min_value=0, max_value=30),
            ),
            min_size=1,
            max_size=40,
        )
    )
    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_lifecycle_matches_model(self, ops):
        import os
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="holc_txlife_")
        try:
            self._run(root, ops)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    @staticmethod
    def _run(root, ops):
        import os

        from holcstore_spark.sources.txlog import TxLog

        store_root = os.path.join(root, "model")
        log = TxLog(store_root)
        live: dict[str, dict] = {}
        disk: set[str] = set()
        hist: dict[int, frozenset] = {0: frozenset()}
        n_added = 0
        wm = -1  # model of the "sink" idempotence watermark

        def _mkfile(rel):
            abs_p = os.path.join(store_root, rel)
            os.makedirs(os.path.dirname(abs_p), exist_ok=True)
            with open(abs_p, "wb") as f:
                f.write(b"x")
            disk.add(rel)

        for kind, arg in ops:
            if kind == "add":
                rel = f"files/d{n_added}/f.parquet"
                n_added += 1
                _mkfile(rel)
                entry = {"path": rel, "rows": 1, "chunk_min": arg,
                         "chunk_max": arg, "key_stats": None}
                v = log.commit(log.snapshot().version, "add",
                               TxLog.next_op_id(log.snapshot()),
                               adds={"data": [entry]}, removes={})
                live[rel] = entry
                hist[v] = frozenset(live)
            elif kind == "txn_add":
                # an idempotent writer replaying versions out of any
                # order: the store-layer pre-check skips ≤-watermark
                # versions; landed ones advance it. The watermark must
                # survive every maintenance interleave (prune summarizes
                # into checkpoint headers, vacuum/restore don't touch it)
                tv = arg % 8
                snap0 = log.snapshot()
                assert snap0.app_versions.get("sink", -1) == wm
                if tv > wm:
                    rel = f"files/t{n_added}/f.parquet"
                    n_added += 1
                    _mkfile(rel)
                    entry = {"path": rel, "rows": 1, "chunk_min": arg,
                             "chunk_max": arg, "key_stats": None}
                    v = log.commit(snap0.version, "txn_add",
                                   TxLog.next_op_id(snap0),
                                   adds={"data": [entry]}, removes={},
                                   txn_app="sink", txn_version=tv)
                    live[rel] = entry
                    hist[v] = frozenset(live)
                    wm = tv
            elif kind == "remove" and live:
                victim = sorted(live)[arg % len(live)]
                entry = live.pop(victim)
                v = log.commit(log.snapshot().version, "rm",
                               TxLog.next_op_id(log.snapshot()),
                               adds={}, removes={"data": [entry]},
                               touched={entry["chunk_min"]})
                hist[v] = frozenset(live)
            elif kind == "vacuum":
                log.vacuum_files(retention_seconds=0)
                disk.intersection_update(live)  # dead files reclaimed
            elif kind == "restore":
                versions = sorted(hist)
                v = versions[arg % len(versions)]
                target = hist[v]
                pre = log.snapshot().version
                try:
                    v_new = log.restore_commit(v)
                except ValueError:
                    # legal ONLY when v is pruned below the horizon or a
                    # file it must re-reference was already vacuumed
                    need = target - frozenset(live)
                    vacuumed = any(p not in disk for p in need)
                    pruned = v not in set(log.versions()) and v != 0
                    assert vacuumed or pruned, (
                        f"restore({v}) refused but target is reachable"
                    )
                else:
                    if v_new != pre:  # a real rollback commit landed
                        live = {p: {"path": p, "rows": 1,
                                    "chunk_min": 0, "chunk_max": 0,
                                    "key_stats": None}
                                for p in target}
                        hist[v_new] = frozenset(live)
            else:
                log.prune_log()
            snap = log.snapshot()
            assert {e["path"] for e in snap.files["data"]} == set(live)
            assert snap.app_versions.get("sink", -1) == wm, (
                f"watermark drifted after {kind}"
            )
            for p in live:
                assert os.path.exists(os.path.join(store_root, p)), (
                    f"live path {p} missing after {kind}"
                )
        # a cold instance replays to the identical state
        cold = TxLog(store_root).snapshot()
        assert {e["path"] for e in cold.files["data"]} == set(live)
        assert cold.app_versions.get("sink", -1) == wm


class TestKeyPruningSoundness:
    """The manifest key-stats pruning must be SOUND: for any filter dict
    and any manifest entry, if some row inside the entry's stats
    bounding box satisfies the filter, the entry must not be pruned.
    (Completeness — pruning as much as possible — is an optimization,
    never asserted; soundness is correctness.) Brute-force oracle over a
    small value domain, SQL three-valued semantics for NULL."""

    DOMAIN = list(range(6))  # row values; None added separately

    @staticmethod
    def _satisfies(row: dict, filters: dict) -> bool:
        # Python mirror of plans.predicates.lookup_filter semantics
        for k, want in filters.items():
            field, _, lookup = k.partition("__")
            v = row[field]
            if not lookup:
                ok = (v is None) if want is None else (v is not None and v == want)
            elif lookup == "in":
                ok = v is not None and v in want
            elif lookup == "gte":
                ok = v is not None and v >= want
            elif lookup == "lt":
                ok = v is not None and v < want
            elif lookup == "isnull":
                ok = (v is None) if want else (v is not None)
            elif lookup == "ne":
                ok = v is not None and v != want
            else:
                raise AssertionError(lookup)
            if not ok:
                return False
        return True

    @staticmethod
    def _in_entry(row: dict, stats: dict | None) -> bool:
        # parquet min/max ignore nulls: a None row value fits ANY file
        for f, v in row.items():
            rng = (stats or {}).get(f)
            if rng is None or v is None:
                continue
            if not (rng[0] <= v <= rng[1]):
                return False
        return True

    _stats = st.one_of(
        st.none(),
        st.fixed_dictionaries({}, optional={
            f: st.tuples(st.integers(0, 5), st.integers(0, 5)).map(
                lambda t: [min(t), max(t)]
            )
            for f in ("a", "b")
        }),
    )
    _one_filter = st.one_of(
        st.tuples(st.just(""), st.one_of(st.none(), st.integers(0, 5))),
        st.tuples(st.just("in"),
                  st.lists(st.one_of(st.none(), st.integers(0, 5)),
                           min_size=0, max_size=3)),
        st.tuples(st.just("gte"), st.integers(0, 5)),
        st.tuples(st.just("lt"), st.integers(0, 5)),
        st.tuples(st.just("isnull"), st.booleans()),
        st.tuples(st.just("ne"), st.integers(0, 5)),
    )
    @settings(max_examples=300, deadline=None)
    @given(stats=_stats, data=st.data())
    def test_never_prunes_a_satisfiable_entry(self, stats, data):
        from holcstore_spark.plans.pruning import key_equality_values
        from holcstore_spark.sources.txlog import entry_may_hold

        fields = ("a", "b")
        filters = {}
        for f in fields:
            for lookup, val in data.draw(
                st.lists(self._one_filter, max_size=2)
            ):
                filters[f if not lookup else f"{f}__{lookup}"] = val
        kv = key_equality_values(filters)
        pruned = not entry_may_hold({"key_stats": stats}, key_values=kv)
        if not pruned:
            return  # kept: always sound
        # pruned: NO row inside the entry box may satisfy the filter
        dom = [*self.DOMAIN, None]
        for va in dom:
            for vb in dom:
                row = {"a": va, "b": vb}
                assert not (
                    self._in_entry(row, stats)
                    and self._satisfies(row, filters)
                ), (row, filters, stats, kv)


def _ref_entry_may_match_keys(entry: dict, key_values: dict) -> bool:
    """The per-column key test the read paths used before the skipping
    rule moved into ``txlog.may_hold`` (reference copy)."""
    ks = entry.get("key_stats") or {}
    for field, vals in key_values.items():
        rng = ks.get(field)
        if not rng:
            continue
        lo, hi = rng
        try:
            if not any(lo <= v <= hi for v in vals):
                return False
        except TypeError:
            continue
    return True


def _ref_overlapping(entry: dict, lo, hi) -> bool:
    """The chunk-range test of ``Snapshot.entries_overlapping``, which
    bounded reads used before the skipping rule moved into
    ``txlog.may_hold`` (reference copy)."""
    cmin, cmax = entry.get("chunk_min"), entry.get("chunk_max")
    if cmin is None or cmax is None:
        return True
    if lo is not None and cmax < lo:
        return False
    return hi is None or cmin <= hi


def _ref_affected(entry: dict, chunk_set: set, dims: list | None) -> bool:
    """The test ChunkStore's copy-on-write used to pick its affected
    files before the skipping rule moved into ``txlog.may_hold``
    (reference copy; ``dims`` is ``[(column, sorted values)]`` or None).
    Sorting the values raises TypeError on unorderable types — there it
    gave no answer."""
    import bisect

    if not (entry.get("chunk_min") is None or any(
        entry["chunk_min"] <= c <= entry["chunk_max"] for c in chunk_set
    )):
        return False
    if dims is None:
        return True
    ks = entry.get("key_stats") or {}
    for k, vals in dims:
        rng = ks.get(k)
        if not rng:
            continue
        lo, hi = rng
        try:
            i = bisect.bisect_left(vals, lo)
            if not (i < len(vals) and vals[i] <= hi):
                return False
        except TypeError:
            continue
    return True


class TestFileSkipRule:
    """``txlog.may_hold``, the one file-skipping rule, on entries built
    from random row sets: a file holding a matching row is never
    skipped, and wherever the per-site tests it replaced gave an answer,
    it gives the same one. Queries are drawn around the rows' own
    values, so the stats' edges are hit often."""

    # rows: (chunk, a: int key, b: str key)
    rows = st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 5),
                  st.sampled_from(["b", "c", "d", "f"])),
        min_size=1, max_size=6,
    )
    COLS = {"a": 1, "b": 2}

    @staticmethod
    def _entry(rows, chunk_stats: bool, key_cols) -> dict:
        e = {"path": "f.parquet", "rows": len(rows),
             "chunk_min": None, "chunk_max": None, "key_stats": None}
        if chunk_stats:
            e["chunk_min"] = min(r[0] for r in rows)
            e["chunk_max"] = max(r[0] for r in rows)
        ks = {c: [min(r[i] for r in rows), max(r[i] for r in rows)]
              for c, i in TestFileSkipRule.COLS.items() if c in key_cols}
        e["key_stats"] = ks or None
        return e

    @staticmethod
    def _near_chunks(rows):
        """Chunk ids at and next to the rows' chunks."""
        return st.sampled_from(sorted({r[0] + d for r in rows for d in (-1, 0, 1)}))

    @staticmethod
    def _values(rows, col):
        """Candidate values of ``col``: the rows' own, others of the same
        type, and values of other types (filter values can mix)."""
        own = sorted({r[TestFileSkipRule.COLS[col]] for r in rows})
        return st.lists(st.one_of(
            st.sampled_from(own), st.integers(-1, 6),
            st.sampled_from(["a", "c", "e", "g"]),
            st.floats(-1, 6, allow_nan=False),
        ), max_size=4)

    @staticmethod
    def _chunk_in(c, chunks) -> bool:
        if chunks is None:
            return True
        if isinstance(chunks, tuple):
            lo, hi = chunks
            return (lo is None or c >= lo) and (hi is None or c <= hi)
        return c in chunks

    @settings(max_examples=500, deadline=None)
    @given(rows=rows, chunk_stats=st.booleans(),
           key_cols=st.sets(st.sampled_from(["a", "b"])), data=st.data())
    def test_never_skips_a_matching_file(self, rows, chunk_stats, key_cols,
                                         data):
        from holcstore_spark.sources.txlog import entry_may_hold

        near = self._near_chunks(rows)
        bound = st.one_of(st.none(), near)
        chunks = data.draw(st.one_of(
            st.none(), st.tuples(bound, bound),
            st.sets(near, max_size=4), st.lists(near, max_size=4),
        ))
        kv = {c: data.draw(self._values(rows, c))
              for c in data.draw(st.sets(st.sampled_from(["a", "b"])))}
        e = self._entry(rows, chunk_stats, key_cols)
        held = entry_may_hold(e, chunks=chunks, key_values=kv)
        match = any(
            self._chunk_in(r[0], chunks)
            and all(r[self.COLS[c]] in vals for c, vals in kv.items())
            for r in rows
        )
        assert held or not match, (e, chunks, kv)
        if chunks is None:
            assert held == _ref_entry_may_match_keys(e, kv), (e, kv)
        elif isinstance(chunks, tuple):
            # ChunkStore.data: the chunk range, then the key test
            assert held == (_ref_overlapping(e, *chunks)
                            and _ref_entry_may_match_keys(e, kv)), (e, chunks, kv)

    @settings(max_examples=500, deadline=None)
    @given(rows=rows, chunk_stats=st.booleans(),
           key_cols=st.sets(st.sampled_from(["a", "b"])), data=st.data())
    def test_matches_the_affected_files_test(self, rows, chunk_stats,
                                             key_cols, data):
        from holcstore_spark.sources.txlog import entry_may_hold

        chunk_set = data.draw(st.sets(self._near_chunks(rows), max_size=4))
        tuples = data.draw(st.one_of(st.none(), st.lists(st.tuples(
            st.one_of(st.sampled_from(sorted({r[1] for r in rows})),
                      st.integers(-1, 6), st.sampled_from("ace")),
            st.one_of(st.sampled_from(sorted({r[2] for r in rows})),
                      st.sampled_from(["a", "c", "e", "g"])),
        ), min_size=1, max_size=3)))
        e = self._entry(rows, chunk_stats, key_cols)
        kv = None if tuples is None else {
            k: [kt[i] for kt in tuples] for i, k in enumerate(("a", "b"))
        }
        held = entry_may_hold(e, chunks=chunk_set, key_values=kv)
        match = any(
            r[0] in chunk_set and (tuples is None or any(
                (r[1], r[2]) == kt for kt in tuples))
            for r in rows
        )
        assert held or not match, (e, chunk_set, tuples)
        try:
            dims = None if kv is None else [(k, sorted(set(v)))
                                            for k, v in kv.items()]
        except TypeError:
            return  # the reference raised here: no answer to compare
        assert held == _ref_affected(e, chunk_set, dims), (e, chunk_set, kv)


class TestSpanDedupProperties:
    """Round 14: the span-dedup family's internal coherence on random
    corpora — strip and stats must agree exactly (they share one
    removal rule by construction; this pins the contract against any
    future divergence), and the cleaned text must re-tokenize to
    kept_tokens."""

    docs = st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=0, max_size=12,
        ),
        min_size=1, max_size=8,
    )

    @SETTINGS
    @given(token_lists=docs, k=st.integers(min_value=2, max_value=4))
    def test_strip_and_stats_agree_and_text_reconstructs(
        self, spark, token_lists, k
    ):
        from holcstore_spark.operators.dedup import (
            duplicate_span_stats,
            strip_duplicate_spans,
        )

        rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        stats = {r["doc_id"]: r for r in
                 duplicate_span_stats(d, k=k).collect()}
        stripped = {r["doc_id"]: r for r in
                    strip_duplicate_spans(d, k=k).collect()}
        assert stats.keys() == stripped.keys()
        for i in stats:
            st_row, sp_row = stats[i], stripped[i]
            assert sp_row["kept_tokens"] == st_row["kept_tokens"], (
                i, rows[i], st_row, sp_row
            )
            # the cleaned text re-tokenizes to exactly kept_tokens
            # under the OPERATOR's tokenizer, where '' splits to the
            # single empty token — so an all-stripped doc reports
            # kept_tokens=0 with the '' placeholder, while an
            # empty-text doc reports kept_tokens=1 (its one empty
            # token survives, and '' re-tokenizes to it)
            clean = sp_row["text_clean"]
            if sp_row["kept_tokens"] == 0:
                assert clean == "", (i, clean, sp_row)
            else:
                assert len(clean.split(" ")) == sp_row["kept_tokens"], (
                    i, clean, sp_row
                )
            # dup + kept partition the document
            assert (st_row["dup_tokens"] + st_row["kept_tokens"]
                    == st_row["n_tokens"])

    @SETTINGS
    @given(token_lists=docs, split=st.integers(min_value=0, max_value=7))
    def test_incremental_equals_one_shot_on_random_splits(
        self, spark, token_lists, split
    ):
        # history ids all precede batch ids -> the one-shot keep-first
        # rule restricted to the batch equals the incremental verdict
        from holcstore_spark.operators.dedup import (
            duplicate_span_stats,
            duplicate_span_stats_incremental,
            span_gram_index,
        )

        k = 3
        rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        cut = min(split, len(rows))
        hist = d.filter(F.col("doc_id") < cut)
        batch = d.filter(F.col("doc_id") >= cut)
        if batch.rdd.isEmpty():
            return
        one_shot = {
            r["doc_id"]: (r["dup_tokens"], r["kept_tokens"])
            for r in duplicate_span_stats(d, k=k).collect()
            if r["doc_id"] >= cut
        }
        incr = {
            r["doc_id"]: (r["dup_tokens"], r["kept_tokens"])
            for r in duplicate_span_stats_incremental(
                batch, span_gram_index(hist, k=k), k=k
            ).collect()
        }
        assert incr == one_shot


class TestProgressiveJpegProperties:
    """Random scan-script round-trips (r15): any contiguous partition
    of the AC band with any valid successive-approximation ladder must
    reconstruct the baseline decode bit-exactly — the annex-G algebra
    holds for scripts far weirder than the default encoder's."""

    @staticmethod
    def _random_script(rng, ncomp):
        # random contiguous partition of 1..63 into 1-4 bands
        cuts = sorted(rng.choice(range(2, 63), size=rng.randint(0, 3),
                                 replace=False).tolist())
        bounds = [1] + cuts + [64]
        bands = [(bounds[i], bounds[i + 1] - 1)
                 for i in range(len(bounds) - 1)]
        allc = tuple(range(ncomp))
        dc_al = rng.randint(0, 3)
        scans = [(allc, 0, 0, 0, dc_al)]
        for lo, hi in bands:
            al0 = rng.randint(0, 3)      # per-band approximation depth
            for c in range(ncomp):
                scans.append(((c,), lo, hi, 0, al0))
            for al in range(al0 - 1, -1, -1):
                for c in range(ncomp):
                    scans.append(((c,), lo, hi, al + 1, al))
        for al in range(dc_al - 1, -1, -1):
            scans.append((allc, 0, 0, al + 1, al))
        return scans

    @given(seed=st.integers(min_value=0, max_value=10_000))
    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_random_scan_scripts_reconstruct_baseline(self, seed):
        import numpy as np

        from holcstore_spark.operators.jpeg import (
            encode_jpeg,
            encode_progressive,
            parse_jpeg,
        )

        rng = np.random.RandomState(seed)
        h, w = rng.randint(1, 33), rng.randint(1, 33)
        if seed % 3 == 0:
            img = rng.randint(0, 256, (h, w)).astype(np.uint8)
            sub, ncomp = False, 1
        elif seed % 3 == 1:
            img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            sub, ncomp = False, 3
        else:
            img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            sub, ncomp = True, 3
        scans = self._random_script(rng, ncomp)
        _, _, base = parse_jpeg(encode_jpeg(img, subsample=sub))
        _, _, prog = parse_jpeg(
            encode_progressive(img, subsample=sub, scans=scans)
        )
        assert np.array_equal(base, prog), (seed, h, w, scans)
