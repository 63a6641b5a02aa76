"""ManifestTable — the one base of every table the transaction log governs.

The three stores (:class:`ChunkStore`, :class:`KeyValueStore`,
:class:`AttrStore`) and the four managed indexes (:class:`BandIndex`,
:class:`GramIndex`, :class:`LexicalIndex`, :class:`VectorIndex`) keep
their rows in immutable Parquet files whose live set is the manifest of
one transaction log (``sources/txlog.py``). What that model gives every
one of them is defined here once — the shared model layer the
reference's three store classes get their versioning and maintenance
from:

- snapshot plumbing: the snapshot reads serve (:meth:`_read_snapshot`,
  the pinned one on a time-travel view) and the one a write bases on
  (:meth:`_pin`, refused on views);
- one key-typing rule for key columns without a declared type
  (:meth:`_key_types`);
- file IO: :meth:`_read_entries`, the one read of manifest files, and
  :meth:`_write_files`, the one staged Spark write (fresh
  ``files/<uuid>/`` dir → partition → sort → write → manifest entries);
  which files a read or rewrite opens is decided by the one skipping
  rule, :func:`holcstore_spark.sources.txlog.may_hold`;
- maintenance: :meth:`vacuum`, :meth:`last_txn_version` and the binpack
  core (:meth:`_binpack`) every ``optimize`` calls;
- the version surface of the three stores (:class:`StoreTable`):
  :meth:`~StoreTable.time_travel`, :meth:`~StoreTable.restore`,
  :meth:`~StoreTable.history` and :meth:`~StoreTable.changes_between`.

Host contract: ``self.spark``, ``self.path``, ``self._txlog`` and
``self._schema(frame=None)``, the data table's Spark schema (``frame``
types undeclared key columns on a first write, see :meth:`_key_types`),
which :meth:`_read_entries` reads with unless given another (a meta or
tombstone schema). Subclasses keep only their schemas, their partition
and sort columns, and the meaning of their own verbs.
"""

from __future__ import annotations

import copy
import functools
import os
from datetime import datetime, timezone

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from holcstore_spark.sources.io_util import overlap_jobs

#: declared key-type name → Spark type (ChunkStoreConfig.key_types
#: spelling; shared with the streaming CDC source's schema derivation)
_KEY_TYPE_MAP = {"str": T.StringType(), "int": T.LongType(), "float": T.DoubleType()}


def _type_name(t) -> str | None:
    """Key-type name of a pyarrow or Spark column type (None: neither
    integral, floating nor string — unprovable)."""
    if isinstance(t, pa.DataType):
        if pa.types.is_integer(t):
            return "int"
        if pa.types.is_floating(t):
            return "float"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "str"
        return None
    if isinstance(t, T.IntegralType):
        return "int"
    if isinstance(t, T.FractionalType):
        return "float"
    return "str" if isinstance(t, T.StringType) else None


def _frame_key_type(frame, k: str) -> str | None:
    """Key-type name of column ``k`` of a frame about to be written — a
    pandas frame, a pyarrow table or schema, or a Spark frame; None when
    there is no frame or no such column."""
    if frame is None:
        return None
    if isinstance(frame, pd.DataFrame):
        if k not in frame:
            return None
        dt = frame[k].dtype
        if pd.api.types.is_integer_dtype(dt):
            return "int"
        return "float" if pd.api.types.is_float_dtype(dt) else "str"
    schema = frame if isinstance(frame, pa.Schema) else frame.schema
    if isinstance(schema, pa.Schema):
        i = schema.get_field_index(k)
        return None if i < 0 else _type_name(schema.field(i).type)
    return _type_name(schema[k].dataType) if k in schema.fieldNames() else None


def probe_key_types_from_manifest(path: str, keys, txlog=None) -> dict[str, str]:
    """Resolve key-column type names (``str``/``int``/``float``) from a
    live data file's parquet footer — one driver-side metadata read per
    file consulted, no Spark job. Accumulates across files until EVERY
    requested key is proven (or the manifest is exhausted) — stopping at
    the first file that resolves *any* key would let a file missing some
    key column shadow later files that could prove it, making
    ``data_schema_from_config`` raise "no live data file" spuriously
    (ADVICE r9). Returns the subset of ``keys`` the footers could prove;
    empty when the store has no live (readable) data file. Pass the
    store's own ``txlog`` where one is held: its snapshot cache makes
    the repeated empty-store probe a listdir instead of a log replay."""
    keys = list(keys)
    if not keys:
        return {}
    import pyarrow.parquet as pq

    if txlog is None:
        from holcstore_spark.sources.txlog import TxLog

        txlog = TxLog(path)
    out: dict[str, str] = {}
    # scan bound: a key that NO footer can prove (typo'd name, exotic
    # physical type) must not turn the probe into an O(live-files)
    # driver-side footer crawl at 100k+ files — after this many
    # consecutive readable footers that added nothing, the remaining
    # keys are declared unprovable (heterogeneous schemas cluster by
    # write batch, so the proving file is found long before the cap)
    max_unhelpful = 64
    unhelpful = 0
    for e in txlog.snapshot().files["data"]:
        try:
            schema = pq.read_schema(os.path.join(path, e["path"]))
        except (FileNotFoundError, OSError, pa.ArrowInvalid):
            continue
        before = len(out)
        for k in keys:
            t = _frame_key_type(schema, k)
            if k not in out and t is not None:
                out[k] = t
        if len(out) == len(keys):
            break
        unhelpful = unhelpful + 1 if len(out) == before else 0
        if unhelpful >= max_unhelpful:
            break
    return out


class ManifestTable:
    """Snapshot plumbing, key typing, ``vacuum``, ``last_txn_version``
    and the binpack core of every manifest-backed table."""

    #: set on time-travel views (:meth:`StoreTable.time_travel`)
    _pinned_snapshot = None
    #: footer-probed key types: complete (cached forever), or an
    #: incomplete ``(manifest version, partial)`` memo
    _key_type_probe: dict[str, str] | None = None
    _key_type_probe_partial: tuple[int, dict[str, str]] | None = None

    # -- snapshots -----------------------------------------------------
    def _read_snapshot(self):
        """The snapshot reads serve: the pinned one on time-travel views,
        else the current one."""
        if self._pinned_snapshot is not None:
            return self._pinned_snapshot
        return self._txlog.snapshot()

    def _pin(self, op: str = "write"):
        """The snapshot a mutation bases on, captured ONCE at its start.
        Every read the operation performs (existence, next version, the
        keep-set, the update read-back) and the commit's base_version
        come from THIS snapshot, so a commit interleaving between the
        read and our commit sits ABOVE our base and is walked by the
        rebase conflict check — a fresh snapshot per read would let it
        slip under the base, bypassing the append_keys/dropped_keys
        protection. Refused on time-travel views."""
        if self._pinned_snapshot is not None:
            raise ValueError(f"time-travel views are read-only ({op} refused)")
        return self._txlog.snapshot()

    # -- key typing ----------------------------------------------------
    def _key_decl(self) -> tuple[tuple[str, ...], dict[str, str]]:
        """(key columns, declared key types) of tables whose key types
        are not fixed by the class; none by default."""
        return (), {}

    def _probed_key_types(self) -> dict[str, str]:
        """Footer-probed types of undeclared key columns. A complete
        answer is cached forever; an INCOMPLETE one (empty store, or a
        key no footer proves) is cached per manifest version so repeated
        schema derivations don't repeat the O(live-files) footer scan —
        only a new commit (which may add the proving file) re-probes."""
        if self._key_type_probe is not None:
            return self._key_type_probe
        keys, declared = self._key_decl()
        undeclared = [k for k in keys if not declared.get(k)]
        ver = self._txlog.snapshot().version
        part = self._key_type_probe_partial
        if part is not None and part[0] == ver:
            return part[1]
        probe = probe_key_types_from_manifest(
            self.path, undeclared, txlog=self._txlog
        )
        if all(k in probe for k in undeclared):
            self._key_type_probe = probe
        else:
            self._key_type_probe_partial = (ver, probe)
        return probe

    def _key_types(self, frame=None) -> dict[str, str]:
        """THE key-typing rule. A key column's type is the declared one;
        otherwise the type the written files carry (footer probe); on a
        table's first write, the type of ``frame``, the frame being
        written — so an undeclared int key is written as an int, and
        every later write and read agrees with it; ``str`` only when
        nothing can tell."""
        keys, declared = self._key_decl()
        probed = {} if all(declared.get(k) for k in keys) else self._probed_key_types()
        return {
            k: declared.get(k) or probed.get(k) or _frame_key_type(frame, k) or "str"
            for k in keys
        }

    # -- maintenance ---------------------------------------------------
    def vacuum(
        self, retention_seconds: float = 3600.0, deep: bool = False
    ) -> int:
        """Garbage collection: physically delete files that are no
        longer referenced and older than ``retention_seconds``. The
        retention window is the same safety Delta's VACUUM retention
        gives: a concurrent in-flight writer's freshly STAGED (not yet
        committed) files are indistinguishable from crash orphans, so
        reclaiming them immediately would corrupt that writer's commit;
        age-gating makes vacuum safe to run any time as long as no
        single transaction stays open longer than the window. Pass ``0``
        only when no other writer can be active.

        The default sweep is MANIFEST-DRIVEN — O(orphans), reading the
        sidecars commits write when files become unreferenced, never
        listing the ``files/`` staging dirs (at millions of commits the
        full walk was the scaling hazard, VERDICT r8). ``deep=True``
        additionally walks every staging dir to catch files orphaned by
        a writer killed before any bookkeeping could happen (kill -9
        mid-staging) — run it occasionally, not per-vacuum.

        Also reclaims emptied staging directories, their _SUCCESS
        markers, stale ``.tmp-`` log artifacts, and commit records
        already summarized by the latest manifest checkpoint (giving up
        snapshot-as-of below that horizon, Delta log-retention style).
        Returns the number of filesystem entries removed. Refused on
        time-travel views (it would reclaim files and log history the
        pinned snapshot — and any other as-of holder — still
        references)."""
        self._pin("vacuum")
        return self._txlog.vacuum_files(retention_seconds, deep=deep)

    def last_txn_version(self, txn_app: str) -> int | None:
        """Highest ``txn_version`` the idempotent writer ``txn_app`` has
        committed, or None if it never wrote (Delta's ``txnVersion``
        read-back). A resuming sink or stream queries this to decide
        where its replay must start; watermarks survive log pruning
        (persisted in checkpoint headers)."""
        return self._txlog.snapshot().app_versions.get(str(txn_app))

    # -- file IO -------------------------------------------------------
    def _read_entries(self, entries, schema=None) -> DataFrame:
        """THE read of manifest files: the rows of ``entries`` with
        ``schema``, by default the table's (a typed empty frame when
        there are none)."""
        schema = self._schema() if schema is None else schema
        if not entries:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *(os.path.join(self.path, e["path"]) for e in entries)
        )

    def _write_files(
        self, df: DataFrame, *, range_cols, sort_cols, key_cols=(),
        chunk_col: str = "chunk_index", max_col: str | None = None,
        npart: int | None = None,
    ) -> list:
        """THE staged Spark write: ``df`` into a fresh ``files/<uuid>/``
        dir, range-partitioned by ``range_cols`` (``npart`` partitions,
        by default the session's; None: one file) and sorted within
        each file by ``sort_cols``, so the per-file ``chunk_col`` and
        ``key_cols`` stats of the returned manifest entries are tight.
        ``max_col`` records that column's exact maximum per entry."""
        abs_dir, rel_dir = self._txlog.new_staging_dir()
        if range_cols is None:
            df = df.coalesce(1)
        elif npart is None:
            df = df.repartitionByRange(*range_cols)
        else:
            df = df.repartitionByRange(npart, *range_cols)
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        df.write.mode("overwrite").parquet(abs_dir)
        return self._txlog.collect_entries(
            abs_dir, rel_dir, key_cols=key_cols, chunk_col=chunk_col,
            max_col=max_col,
        )

    def _mask_deleted(self, df: DataFrame, snap) -> DataFrame:
        """``df`` without the rows deleted at ``snap`` — tables without
        deletion masks have none."""
        return df

    def _deleted_rows(self, entries, snap) -> int:
        """How many rows of ``entries`` :meth:`_mask_deleted` drops,
        counted independently of the mask (none by default)."""
        return 0

    def _binpack(
        self, snap, write, *, min_files: int, max_chunks: int,
        entries=None, whole: bool = False, check=None,
    ) -> tuple[list, list, list, int]:
        """THE small-file binpack core of every ``optimize``. Plans the
        candidate chunks from manifest stats alone
        (:func:`~holcstore_spark.sources.txlog.binpack_candidates` over
        ``entries``, by default the live data files of ``snap``;
        ``whole=True`` for a table with no chunk column), lets
        ``check(cands, by_chunk)`` refuse the plan before any IO, then
        stages ONE repack per candidate chunk through
        ``write(src, sources)``: ``src`` is the chunk's source files read
        with the table's schema, deleted rows masked; the write returns
        the staged manifest entries. One write per chunk, never one
        range-partitioned write over all candidates: that samples its
        boundaries and can emit a CHUNK-SPANNING file on skew, which no
        later optimize could touch. The repacks fan out through
        :func:`~holcstore_spark.sources.io_util.overlap_jobs` (the
        caller's job group covers them; a failure cancels the queued
        ones). Cost is O(fragmentation), never O(table).

        The exact row-count proof: staged rows must equal source rows
        minus the deleted rows counted independently
        (:meth:`_deleted_rows`) — a shortfall beyond the known-dead rows
        is a repack bug, not an erasure, and raises. Staged files with no
        row (a fully erased chunk) are noted as orphans for the
        sidecar-driven vacuum, and so is every file a finished write
        staged when the repack fails. Returns ``(cands, adds, removes, dead)`` for the
        caller to commit; ``dead == 0`` means every row was preserved."""
        from holcstore_spark.sources.txlog import binpack_candidates, exact_rows

        entries = snap.files["data"] if entries is None else entries
        cands, by_chunk = binpack_candidates(entries, min_files, max_chunks, whole)
        if not cands:
            return [], [], [], 0
        if check is not None:
            check(cands, by_chunk)
        cands = sorted(cands)  # deterministic entry order; [None] if whole
        removes = [e for c in cands for e in by_chunk[c]]
        dead = self._deleted_rows(removes, snap)
        staged: list = []

        def repack(c):
            out = write(self._mask_deleted(self._read_entries(by_chunk[c]), snap),
                        by_chunk[c])
            staged.extend(out)
            return out

        try:
            per_chunk = overlap_jobs(
                self.spark, *(functools.partial(repack, c) for c in cands)
            )
            adds = [e for out in per_chunk for e in out if e["rows"]]
            added, source = exact_rows(adds), exact_rows(removes)
            if added != source - dead:
                raise RuntimeError(
                    f"optimize repack row mismatch: staged {added} rows "
                    f"for {source} source rows with {dead} deleted "
                    f"across chunks {cands}"
                )
        except BaseException:
            try:
                self._txlog.note_orphans(e["path"] for e in staged)
            except OSError:
                pass  # best-effort; the deep vacuum walk is the backstop
            raise
        self._txlog.note_orphans(e["path"] for e in staged if not e["rows"])
        return cands, adds, removes, dead


class StoreTable(ManifestTable):
    """The version surface the three stores add to the base: read-only
    time-travel views and the Delta-style ``restore``, ``history`` and
    ``changes_between``."""

    #: per-instance caches tied to the latest snapshot: a time-travel
    #: view starts without them
    _SNAPSHOT_CACHES: tuple[str, ...] = ()

    def time_travel(self, version: int):
        """Read-only view of the store AS OF a committed log version —
        every read API serves the historical state; writes raise.
        Available as long as the version's commit records and files
        survive (``vacuum()`` reclaims superseded files and prunes
        checkpointed records, giving up horizons older than the latest
        checkpoint — Delta's VACUUM/log-retention trade). The view is a
        copy of this instance, so per-instance settings (e.g.
        ``KeyValueStore.max_edge_rows``) carry over."""
        snap = self._txlog.snapshot_exact(version)
        view = copy.copy(self)
        for name in self._SNAPSHOT_CACHES:
            setattr(view, name, None)
        view._pinned_snapshot = snap
        return view

    def restore(self, version: int) -> int:
        """Roll the store back to a committed log version as a NEW
        commit (Delta's ``RESTORE TABLE`` analogue) — the write-side
        completion of the :meth:`time_travel` / :meth:`history` triad.
        The rollback commit re-references the old generation's files and
        removes everything newer, so history is preserved: ``history()``
        shows the restore itself, and ``time_travel`` can still visit the
        undone versions until vacuum/prune reclaims them. Refuses when
        the target version is pruned below the log horizon or any file
        it needs was vacuumed. Returns the new commit's version."""
        self._pin("restore")
        return self._txlog.restore_commit(version)

    def history(self) -> DataFrame:
        """Commit-log audit frame (Delta's ``DESCRIBE HISTORY``
        analogue), pairing with :meth:`time_travel`: one row per
        replayable commit, newest first — version, op, op_id, commit
        wall-clock, files/rows added and removed per table, touched
        chunk set, idempotent-writer identity. Commits summarized by a
        pruned checkpoint are no longer listed (same reach as
        ``time_travel``). Metadata-sized: the replayable log is bounded
        by checkpoint+prune."""
        schema = T.StructType([
            T.StructField("version", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("op_id", T.LongType()),
            T.StructField("committed_at", T.TimestampType()),
            T.StructField("touched", T.StringType()),
            T.StructField("data_files_added", T.LongType()),
            T.StructField("data_files_removed", T.LongType()),
            T.StructField("data_rows_added", T.LongType()),
            T.StructField("data_rows_removed", T.LongType()),
            T.StructField("meta_files_added", T.LongType()),
            T.StructField("meta_files_removed", T.LongType()),
            T.StructField("meta_rows_added", T.LongType()),
            T.StructField("meta_rows_removed", T.LongType()),
            T.StructField("txn_app", T.StringType()),
            T.StructField("txn_version", T.LongType()),
        ])
        rows = []
        for r in self._txlog.history_rows():
            t = r["touched"]
            tv = r.get("txn_version")
            rows.append((
                r["version"], r["op"], r["op_id"],
                datetime.fromtimestamp(r["committed_at"], tz=timezone.utc),
                None if t is None else (t if isinstance(t, str) else str(t)),
                r["data_files_added"], r["data_files_removed"],
                r["data_rows_added"], r["data_rows_removed"],
                r["meta_files_added"], r["meta_files_removed"],
                r["meta_rows_added"], r["meta_rows_removed"],
                r.get("txn_app"), None if tv is None else int(tv),
            ))
        return self.spark.createDataFrame(rows, schema)

    def changes_between(self, from_version: int,
                        to_version: int | None = None) -> DataFrame:
        """Row-level change feed between two committed log versions
        (Delta CDF's ``table_changes`` analogue): the data rows inserted
        and removed by the commits in ``(from_version, to_version]``, as
        the data columns plus a ``_change_type`` column ('insert' |
        'delete'; an in-place update of a row surfaces as delete of the
        old row + insert of the new).

        Scale shape: derived from the MANIFEST diff — only the files
        added or removed in the interval are read, never the table, so
        the cost is bounded by what changed regardless of store size.
        Row-preserving (``compacting``) commits are substituted out of
        the interval at manifest level, so a compaction in the middle
        costs nothing. Copy-on-write rewrites carry unchanged bystander
        rows into their new files; the ``exceptAll`` between the added
        and removed file sets cancels those exactly, leaving the true
        row-level delta. Both sides are read with the store's data
        schema; undeclared key types come from the changed files when
        no live file proves them. Contract notes: this is the PHYSICAL
        data delta (dense-grid NaN padding participates like any row;
        ChunkStore tombstones are meta-only commits and report no data
        changes); both bounds must be at-or-below the pruned log
        horizon's reach (same availability as :meth:`time_travel`)."""
        import pyarrow.parquet as pq

        from holcstore_spark.sources.txlog import rewind_compacting

        txlog = self._txlog
        snap_to = txlog.snapshot(as_of=to_version)
        if to_version is not None and snap_to.version != to_version:
            raise ValueError(
                f"version {to_version} is not a committed log version "
                f"(nearest at-or-before: {snap_to.version})"
            )
        snap_from = txlog.snapshot(as_of=from_version)
        if snap_from.version != from_version:
            raise ValueError(
                f"version {from_version} is not a committed log version "
                f"(nearest at-or-before: {snap_from.version})"
            )
        if from_version > snap_to.version:
            # an inverted range would silently return the delta with the
            # insert/delete labels swapped — refuse like Delta's
            # table_changes does
            raise ValueError(
                f"inverted version range: from_version {from_version} > "
                f"to_version {snap_to.version}"
            )
        paths_from = {e["path"] for e in snap_from.files["data"]}
        paths_to = {e["path"] for e in snap_to.files["data"]}
        moves = txlog.compacting_data_moves(from_version, snap_to.version)
        if moves:
            paths_to = rewind_compacting(paths_to, moves, root=txlog.root)
        added_paths = sorted(paths_to - paths_from)
        removed_paths = sorted(paths_from - paths_to)
        changed = added_paths or removed_paths
        schema = self._schema(
            pq.read_schema(os.path.join(self.path, changed[0])) if changed else None
        )

        def read(paths) -> DataFrame:
            if not paths:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(
                *(os.path.join(self.path, p) for p in paths)
            )

        added, removed = read(added_paths), read(removed_paths)
        inserts = added.exceptAll(removed).withColumn("_change_type", F.lit("insert"))
        deletes = removed.exceptAll(added).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)
