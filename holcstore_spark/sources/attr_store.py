"""AttrStore — user-schema series store (reference ``TimeseriesStore``,
hostore/models/timeserie_store.py:16-138).

Arbitrary declared key columns; one logical series per unique key tuple.
Long layout ``(keys…, ts, value)`` in immutable Parquet files governed by
the transaction log (sources/txlog.py). Reads accept
*partial* attrs (multiple matches); ``flat=True`` asserts exactly one.
Writes: plain set over an existing key raises; ``update=True`` is
``new.combine_first(existing)``; ``replace=True`` deletes then inserts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from holcstore_spark.edge.pandas_bridge import long_to_series
from holcstore_spark.functions.scalar import nan_to_null
from holcstore_spark.plans.predicates import attrs_filter, validate_filter_keys
from holcstore_spark.sources.manifest_table import _KEY_TYPE_MAP, StoreTable


class AttrStore(StoreTable):
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: tuple[str, ...],
        tz: str = "UTC",
    ):
        from holcstore_spark.session import ensure_engine_conf
        from holcstore_spark.sources.txlog import open_txlog

        ensure_engine_conf(spark)
        self.spark = spark
        self.path = path
        self.keys = tuple(keys)
        self.tz = tz
        #: the file-manifest transaction log ChunkStore uses
        #: (sources/txlog.py): immutable files, atomic commits, key-level
        #: optimistic concurrency (AttrStore has no chunk axis, so every
        #: conflict decision rides on the per-file KEY statistics and the
        #: commits' key digests — str-canonicalized, the over-conflicting
        #: safe direction)
        self._txlog = open_txlog(path)

    def _key_decl(self):
        return self.keys, {}

    def _schema(self, frame=None) -> T.StructType:
        """Key types by the base's key-typing rule
        (:meth:`ManifestTable._key_types`); ``frame`` is the frame about
        to be written."""
        fields = [
            T.StructField(k, _KEY_TYPE_MAP[t])
            for k, t in self._key_types(frame).items()
        ]
        fields += [
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
        return T.StructType(fields)

    def df(self) -> DataFrame:
        return self._df_at(self._read_snapshot())

    def _df_at(self, snap) -> DataFrame:
        return self._read_entries(snap.files["data"])

    # -- write primitives (manifest-governed immutable files) ----------
    def _key_digest(self, kt: tuple) -> str:
        import hashlib

        canon = tuple(str(v) for v in kt)
        return hashlib.md5(repr(canon).encode()).hexdigest()[:16]

    def _stage(self, df: DataFrame, npart: int | None = None) -> list:
        return self._write_files(
            df, range_cols=self.keys, sort_cols=(*self.keys, "ts"),
            key_cols=self.keys, npart=npart,
        )

    def _append(self, new: DataFrame, kts: list[tuple], op: str, snap,
                txn: tuple[str, int] | None = None) -> None:
        """Pure insert: one staged write + one atomic commit; concurrent
        inserts of the SAME key conflict via the key digests, disjoint
        inserts all land."""
        adds = self._stage(new)
        self._txlog.commit_idempotent(
            snap.version, op, self._txlog.next_op_id(snap),
            {"data": adds}, {},
            touched=None,
            append_keys=sorted(self._key_digest(kt) for kt in kts),
            txn=txn,
        )

    def _rewrite(
        self, kts: list[tuple], keep_pred, new: DataFrame | None, op: str,
        snap, txn: tuple[str, int] | None = None,
    ) -> None:
        """Copy-on-write of the files whose per-file key stats can hold,
        on every key column, a value of one of ``kts``, one atomic
        commit. ``touched=[]`` + dropped_keys makes conflicts purely
        key-level: same-key interleavings raise, different-series
        writers commit concurrently; removed-file path intersection
        still catches shared-file collisions."""
        affected = snap.entries_may_hold("data", key_values={
            k: [kt[i] for kt in kts] for i, k in enumerate(self.keys)
        })
        parts = []
        if affected:
            parts.append(self._read_entries(affected).filter(keep_pred))
        if new is not None:
            parts.append(new.select(*self.keys, "ts", "value"))
        adds = []
        if parts:
            combined = parts[0]
            for p in parts[1:]:
                combined = combined.unionByName(p)
            adds = self._stage(combined)
        self._txlog.commit_idempotent(
            snap.version, op, self._txlog.next_op_id(snap),
            {"data": adds}, {"data": affected},
            touched=set(),
            dropped_keys=sorted(self._key_digest(kt) for kt in kts),
            txn=txn,
        )

    def optimize(self, min_files: int = 4) -> int:
        """Small-file binpack. AttrStore manifests carry no chunk column
        (attribute tables are small by nature), so the repack is
        whole-set once the live file count reaches ``min_files`` —
        still a row-preserving ``compacting`` commit (see
        ChunkStore.optimize): change feeds skip it and concurrent
        appends commute with it (rule-1 path intersection is its only
        conflict). Returns 1 when a repack committed, else 0."""
        snap = self._pin("optimize")
        cands, adds, removes, _ = self._binpack(
            snap, lambda src, _: self._stage(src, npart=1),
            min_files=min_files, max_chunks=1, whole=True,
        )
        if cands:
            self._txlog.commit(
                snap.version, "optimize", self._txlog.next_op_id(snap),
                {"data": adds}, {"data": removes},
                touched="all", compacting=True,
            )
        return len(cands)

    # ------------------------------------------------------------------
    def _to_pdf(self, attrs: dict, serie: pd.Series) -> pd.DataFrame:
        if not isinstance(serie, pd.Series) or not isinstance(serie.index, pd.DatetimeIndex):
            raise ValueError("expected a pd.Series with a DatetimeIndex")
        if len(serie) == 0 or serie.isna().all():
            raise ValueError("refusing to store an empty or all-NaN series")
        idx = serie.index
        idx = idx.tz_localize(self.tz) if idx.tz is None else idx
        pdf = pd.DataFrame(
            {"ts": idx.tz_convert("UTC"), "value": serie.to_numpy(dtype="float64")}
        )
        for k in self.keys:
            pdf[k] = attrs[k]
        return pdf[[*self.keys, "ts", "value"]]

    def _ensure_full(self, attrs: dict) -> None:
        if set(attrs) != set(self.keys):
            raise ValueError(f"attrs must specify exactly {list(self.keys)}")

    def set_ts(
        self,
        ts_attributes: dict,
        ds_ts: pd.Series,
        update: bool = False,
        replace: bool = False,
    ) -> None:
        """reference: timeserie_store.py:95-138."""
        if update and replace:
            raise ValueError("update and replace are mutually exclusive")
        self._ensure_full(ts_attributes)
        pred = attrs_filter(ts_attributes)
        snap = self._pin()
        base = self._df_at(snap)
        exists = bool(base.filter(pred).limit(1).count())
        if exists and not (update or replace):
            raise ValueError(
                f"series {ts_attributes} already exists; use update or replace"
            )
        if exists and update:
            # read back from the SAME pinned snapshot the commit bases on
            existing = long_to_series(
                base.filter(pred).orderBy("ts").toPandas(), self.tz
            )
            ds_ts = ds_ts.combine_first(existing)
        pdf = self._to_pdf(ts_attributes, ds_ts)
        new = nan_to_null(self.spark.createDataFrame(pdf, self._schema(pdf)), "value")
        kt = tuple(ts_attributes[k] for k in self.keys)
        if exists:
            self._rewrite([kt], ~pred, new, "attr_set_ts", snap)
        else:
            self._append(new, [kt], "attr_set_ts", snap)

    def set_many_ts(
        self,
        mapping: dict[tuple, pd.Series],
        update: bool = False,
        replace: bool = False,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> None:
        """Batched multi-series write — ONE Spark write for the whole
        mapping instead of a driver-paced ``set_ts`` loop (the reference's
        ``TimeseriesStore`` has only the per-series path,
        timeserie_store.py:95-138; ChunkStore's ``set_many_ts`` is the
        model). ``mapping`` maps key tuples (in ``self.keys`` order; a
        scalar is accepted for single-key stores) to series.

        Semantics per key match ``set_ts`` exactly: plain call refuses
        existing keys; ``update=True`` is new.combine_first(existing)
        merged distributed-side (one union + one window, no per-series
        read-back); ``replace=True`` drops the old rows. The existence
        check is a single left-semi join for the entire batch.

        ``(txn_app, txn_version)`` — idempotent write (Delta's ``txn``
        action; see ChunkStore.ingest_long): a retried batch job
        re-running the same write is a no-op instead of refusing (plain
        insert) or re-applying (update/replace)."""
        from holcstore_spark.sources.txlog import resolve_txn

        if update and replace:
            raise ValueError("update and replace are mutually exclusive")
        txn = resolve_txn(txn_app, txn_version)
        if not mapping:
            return
        # key-arity validation BEFORE the replay skip: a replayed call
        # with malformed keys must still raise, never silently "succeed"
        # (review r10). Cheap — no frame construction.
        kts_attrs = []
        for key_tuple, serie in mapping.items():
            kt = key_tuple if isinstance(key_tuple, tuple) else (key_tuple,)
            attrs = dict(zip(self.keys, kt))
            self._ensure_full(attrs)
            kts_attrs.append((attrs, serie))
        snap = self._pin()
        if snap.replayed(txn):
            # replay of a committed batch: skip BEFORE the driver-side
            # frame construction
            return
        frames = [self._to_pdf(attrs, serie) for attrs, serie in kts_attrs]
        pdf = pd.concat(frames, ignore_index=True)
        new = nan_to_null(self.spark.createDataFrame(pdf, self._schema(pdf)), "value")
        base = self._df_at(snap)
        key_set = new.select(*self.keys).distinct()
        existing_match = base.join(key_set, on=list(self.keys), how="left_semi")
        exists_any = bool(existing_match.limit(1).count())
        if exists_any and not (update or replace):
            raise ValueError(
                "set_many_ts: some keys already exist; use update or replace"
            )
        kts = [
            kt if isinstance(kt, tuple) else (kt,) for kt in mapping
        ]
        if not exists_any:
            self._append(new, kts, "attr_set_many", snap, txn=txn)
            return
        if update:
            from holcstore_spark.operators.overlay import combine_first

            new = combine_first([new, existing_match], keys=self.keys)
        from functools import reduce

        in_batch = reduce(
            lambda a, b: a | b,
            [
                reduce(
                    lambda a, b: a & b,
                    [F.col(k) == F.lit(v) for k, v in zip(self.keys, kt)],
                )
                for kt in kts
            ],
        )
        self._rewrite(kts, ~in_batch, new.select(*self.keys, "ts", "value"),
                      "attr_set_many", snap, txn=txn)

    def _df_pruned(self, filters: dict | None) -> DataFrame:
        """Manifest key-stats pruned read (see ChunkStore.data
        key_values): only files whose per-key min/max can hold the
        filter's equality/`__in` candidates are opened. Conservative —
        stat-less entries always read — and callers re-apply the exact
        predicate in-plan; honors time-travel pins."""
        from holcstore_spark.plans.pruning import key_equality_values

        return self._read_entries(self._read_snapshot().entries_may_hold(
            "data", key_values=key_equality_values(filters)
        ))

    def get_ts(self, ts_attributes: dict, flat: bool = False):
        """Partial-attrs read (reference: timeserie_store.py:59-93):
        list of {keys…, 'data': Series}, or a single Series when flat."""
        validate_filter_keys(ts_attributes, self.keys)
        d = self._df_pruned(ts_attributes).filter(attrs_filter(ts_attributes))
        pdf = d.orderBy(*self.keys, "ts").toPandas()
        entries = []
        if len(pdf):
            for gkey, gdf in pdf.groupby(list(self.keys), sort=False):
                gkey = gkey if isinstance(gkey, tuple) else (gkey,)
                s = long_to_series(gdf, self.tz)
                entries.append({**dict(zip(self.keys, gkey)), "data": s})
        if flat:
            if len(entries) != 1:
                raise ValueError(
                    f"flat=True requires exactly one match, got {len(entries)}"
                )
            return entries[0]["data"]
        return entries

    #: AttrStore.delete with PARTIAL attrs resolves the matching key
    #: tuples driver-side (the rewrite narrows to — and conflicts on —
    #: exactly those series). The resolve is bounded: a broader match
    #: raises instead of materializing an unbounded key catalog on the
    #: driver (VERDICT r10 "what's wrong #1").
    DELETE_KEYS_CAP = 10_000

    def delete(self, ts_attributes: dict) -> None:
        validate_filter_keys(ts_attributes, self.keys)
        pred = attrs_filter(ts_attributes)
        # partial attrs: resolve to concrete key tuples first so the
        # rewrite narrows to (and conflicts on) exactly those series;
        # resolved from the SAME pinned snapshot the commit bases on.
        # limit(CAP+1) bounds the collect itself — the driver never
        # holds more than CAP+1 tuples even when the match is huge.
        snap = self._pin()
        kt_rows = (
            self._df_at(snap).filter(pred).select(*self.keys)
            .distinct().limit(self.DELETE_KEYS_CAP + 1).collect()
        )
        if len(kt_rows) > self.DELETE_KEYS_CAP:
            raise ValueError(
                f"delete filter matches more than DELETE_KEYS_CAP="
                f"{self.DELETE_KEYS_CAP} distinct series — resolving "
                "them on the driver would materialize the whole key "
                "catalog. Narrow the filter (delete in slices), or "
                "raise DELETE_KEYS_CAP if the driver can hold the "
                "tuples; for catalog-scale keyed data use ChunkStore, "
                "whose deletes stay distributed."
            )
        kts = [tuple(r) for r in kt_rows]
        if not kts:
            return
        self._rewrite(kts, ~pred, None, "attr_delete", snap)

    def count(self, ts_attributes: dict | None = None) -> int:
        d = self.df().filter(attrs_filter(ts_attributes))
        return d.select(*self.keys).distinct().count()
