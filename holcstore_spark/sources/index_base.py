"""Shared forget/tombstone machinery for the managed indexes.

The stores got soft delete in round 2 (reference parity: the chunk
store's tombstone contract, /root/reference/hostore/models/
chunk_timeserie_store.py:30-52). The managed indexes
(:class:`~holcstore_spark.sources.band_index.BandIndex`,
:class:`~holcstore_spark.sources.vector_index.VectorIndex`) need the
same capability for a different reason: at 100 TB the index outlives
any single corpus, and a takedown / right-to-erasure request must make
a document stop existing — its bands must stop suppressing new
near-duplicates, its vector must stop being returned as a neighbour,
and its bytes must be physically reclaimable.

Design (Delta-style deletion vectors, at id granularity):

- ``delete(ids)`` commits a tiny TOMBSTONE file (just the ids) into the
  transaction log's ``meta`` table — O(ids), never a data rewrite, and
  idempotent under ``(txn_app, txn_version)`` replay exactly like the
  appends, so a crashed delete replays to nothing.
- every read (``df()``, and therefore every dedup/search built on it)
  anti-joins the tombstone set: deleted ids are invisible from the
  commit on. The mask is broadcast — tombstones are takedown lists,
  metadata-sized by nature.
- ``optimize()`` physically drops masked rows while it binpacks
  (``optimize(min_files=1)`` is the full erasure pass over every
  fragmented-or-not chunk); a repack that dropped rows commits as a
  data change (``compacting=False``), a pure binpack keeps the
  row-preservation proof.
- tombstones are PERMANENT forget markers: they are never dropped, so
  a deleted id can never silently return through a later append (the
  forget applies to future appends too). Re-using a forgotten id
  requires a new index — the semantics a takedown wants.

Interleaving note: a tombstone committed BETWEEN a batch's first
ingest and its crash-replay changes what the replayed kept-set
recomputation sees (the replay still commits nothing — the index
cannot corrupt — but the returned rows can differ). Sequencing deletes
through the same stream as the ingests avoids this, the same
single-writer guidance the blind-append semantics already document.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from holcstore_spark.sources.manifest_table import ManifestTable

_ID_TYPES = {"long": T.LongType, "int": T.IntegerType,
             "string": T.StringType}


class ForgetMixin(ManifestTable):
    """delete()/tombstones()/_mask_deleted() and the per-chunk staging
    and binpack of the managed indexes, on the manifest-table base.

    Host class contract: the base's (``self.spark``, ``self.path``,
    ``self._txlog``, ``self._schema()``), ``self.params["id_col"]`` and
    ``self.params["id_type"]`` (long/int/string).
    """

    #: the index's creation parameters, FROZEN by its first open
    _CONFIG_FILE = "_index_config.json"
    #: why an open asking for other parameters is refused
    _PARAMS_MISMATCH = ""

    def _check_or_save_params(self) -> None:
        """Freeze ``self.params`` on the index's first open; refuse a
        later open asking for other ones, and a config of an older
        format (a key missing, or a list where a mapping belongs)."""
        from holcstore_spark.sources.io_util import claim_file_first_wins
        from holcstore_spark.sources.txlog import old_format_error

        target = os.path.join(self.path, self._CONFIG_FILE)
        payload = json.dumps(self.params, indent=1, sort_keys=True)
        os.makedirs(self.path, exist_ok=True)
        existing = json.loads(claim_file_first_wins(target, payload))
        if self.params.keys() - existing.keys() or any(
            isinstance(v, dict) != isinstance(existing[k], dict)
            for k, v in self.params.items()
        ):
            raise old_format_error(self.path, f"an index config {existing}")
        if existing != self.params:
            raise ValueError(
                f"{type(self).__name__} at {self.path} was created with "
                f"{existing}, incompatible with requested {self.params} — "
                f"{self._PARAMS_MISMATCH}"
            )

    def _tombstone_schema(self) -> T.StructType:
        p = self.params
        return T.StructType(
            [T.StructField(p["id_col"], _ID_TYPES[p["id_type"]]())]
        )

    def _ids_frame(self, ids) -> DataFrame:
        """Normalize ``ids`` (DataFrame with the id column, or a plain
        iterable of values) to a distinct single-column frame in the
        frozen id type."""
        p = self.params
        if isinstance(ids, DataFrame):
            d = ids.select(
                F.col(p["id_col"]).cast(p["id_type"]).alias(p["id_col"])
            )
        else:
            d = self.spark.createDataFrame(
                [(x,) for x in ids], self._tombstone_schema()
            )
        return d.filter(F.col(p["id_col"]).isNotNull()).distinct()

    def tombstones(self, snap=None) -> DataFrame:
        """The deleted-id set at a snapshot (default latest)."""
        snap = snap if snap is not None else self._txlog.snapshot()
        entries = snap.files["meta"]
        out = self._read_entries(entries, self._tombstone_schema())
        return out.distinct() if entries else out

    def _mask_deleted(self, df: DataFrame, snap) -> DataFrame:
        """Anti-join the tombstone set — a no-op (zero plan overhead)
        while the index has no deletes. Broadcast by contract:
        tombstones are takedown lists, metadata-sized; an erasure
        workload big enough to overflow a broadcast should rebuild the
        index instead."""
        if not snap.files["meta"]:
            return df
        return df.join(
            F.broadcast(self.tombstones(snap)),
            on=self.params["id_col"], how="left_anti",
        )

    def _deleted_rows(self, entries, snap) -> int:
        """Rows of ``entries`` whose id is tombstoned at ``snap``, counted
        by one semi-join job independent of the mask (the binpack
        core's exact erasure proof) — zero jobs while nothing is
        deleted."""
        if not snap.files["meta"] or not entries:
            return 0
        return self._read_entries(entries).join(
            F.broadcast(self.tombstones(snap)),
            on=self.params["id_col"], how="left_semi",
        ).count()

    def _stage_by_chunk(
        self,
        rows_df: DataFrame,
        chunk_col: str,
        *,
        sort_cols: tuple,
        key_cols: tuple,
        chunk_check=None,
    ) -> list:
        """Shared staging for the managed indexes: chunk-PURE files,
        one (or, if ``maxRecordsPerFile`` splits a huge chunk, a few)
        per distinct chunk value (band_id / bucket / list — the
        manifest chunk axis), staged as ONE hash-repartition on the
        chunk value + ONE ``partitionBy`` write. The whole stage is a
        single job running the producing lineage (gram/minhash/
        tokenize/assign) exactly once — no checkpoint pin, no
        per-chunk re-scan. The r15 shape (localCheckpoint, then one
        filtered scan of the WHOLE frame per chunk from a driver
        thread pool) re-read the corpus ``n_chunks`` times —
        O(chunks × corpus), 256 corpus scans per ingest at the
        recommended 256-bucket fan-out; measured 28 → 4.2 s on the
        500k-doc lexical ingest (r16, BASELINE.md).

        Chunk purity holds structurally: hash-repartitioning ON the
        chunk value lands every row of a chunk in exactly one task,
        and the partition-dir split keeps each output file
        single-chunk — a chunk-SPANNING file (which
        binpack_candidates would exclude from every optimize) is
        impossible. ``partitionBy`` drops its column from the data
        files, so the write partitions on a DUPLICATE of the chunk
        column and the real one stays in-file for the read schema.
        ``chunk_check`` validates the chunk values enumerated from the
        written partition dirs — staged files are transactionally
        invisible until commit, so refusing after the write is
        equivalent to refusing before it (the orphan notes cover the
        abandoned files either way). Entry order stays deterministic
        (sorted chunk order).

        The chunk column must be INTEGRAL (all four indexes' chunk
        axes are): chunk values round-trip through Hive partition dir
        names, which is type-lossy for strings (escaping, ''-vs-NULL,
        numeric-looking coercion) — refused loudly rather than parsed
        wrongly.

        ``sort_cols``/``key_cols`` are keyword-only: both are tuples
        of column names, so a positional call site could silently
        transpose them (advisor r14)."""
        import shutil

        ctype = rows_df.schema[chunk_col].dataType
        if not isinstance(ctype, (T.ByteType, T.ShortType,
                                  T.IntegerType, T.LongType)):
            raise ValueError(
                f"_stage_by_chunk: chunk column {chunk_col!r} must be "
                f"an integral type (got {ctype.simpleString()}) — "
                "chunk values round-trip through partition dir names, "
                "which is only lossless for integers"
            )
        tmp_abs, tmp_rel = self._txlog.new_staging_dir()
        chunk_dirs: list = []  # (chunk value, partition dir abs path)
        moved: list = []       # (abs_dir, rel_dir) per chunk
        try:
            (
                rows_df.withColumn("__stage_chunk", F.col(chunk_col))
                .repartition(
                    max(1, min(4096, self.spark.sparkContext.defaultParallelism * 4)),
                    F.col("__stage_chunk"),
                )
                .sortWithinPartitions("__stage_chunk", *sort_cols)
                .write.mode("overwrite")
                .partitionBy("__stage_chunk")
                .parquet(tmp_abs)
            )
            chunks = []
            for d in os.listdir(tmp_abs):
                full = os.path.join(tmp_abs, d)
                if not os.path.isdir(full) or "=" not in d:
                    continue
                raw = d.split("=", 1)[1]
                # integral-only chunk axis (validated above), so the
                # dir-name round-trip is exact; NULL chunks surface as
                # the Hive default partition
                c = (None if raw == "__HIVE_DEFAULT_PARTITION__"
                     else int(raw))
                chunks.append(c)
                chunk_dirs.append((c, full))
            if chunk_check is not None:
                chunk_check(chunks)
            entries = []
            # None sorts LAST defensively; every index's chunk_check
            # raises on NULL chunks before this point anyway
            for c, src in sorted(
                chunk_dirs, key=lambda t: (t[0] is None, t[0] or 0)
            ):
                abs_dir, rel_dir = self._txlog.new_staging_dir()
                os.makedirs(abs_dir, exist_ok=True)
                for f in sorted(os.listdir(src)):
                    if f.endswith(".parquet"):
                        os.rename(os.path.join(src, f),
                                  os.path.join(abs_dir, f))
                moved.append((abs_dir, rel_dir))
                entries.extend(self._txlog.collect_entries(
                    abs_dir, rel_dir, key_cols=key_cols,
                    chunk_col=chunk_col,
                ))
            shutil.rmtree(tmp_abs, ignore_errors=True)
            return entries
        except BaseException:
            # note every file this attempt staged (the scratch root and
            # any already-moved chunk dirs) for the sidecar vacuum
            rels = []
            for base_abs, base_rel in (
                [(tmp_abs, tmp_rel)] + list(moved)
            ):
                if os.path.isdir(base_abs):
                    for root, _dirs, files in os.walk(base_abs):
                        for f in files:
                            rels.append(os.path.join(
                                base_rel,
                                os.path.relpath(os.path.join(root, f),
                                                base_abs),
                            ))
            try:
                self._txlog.note_orphans(rels)
            except Exception:
                pass  # best-effort; the deep vacuum walk is the backstop
            raise

    def _chunk_write(self, chunk_col: str, *, key_cols: tuple,
                     sort_cols: tuple):
        """The binpack write of the indexes: one chunk's rows as ONE
        file sorted by ``sort_cols``, with per-file ``key_cols`` stats
        (``write(src, sources)`` of :meth:`ManifestTable._binpack`)."""
        return lambda src, _sources: self._write_files(
            src, range_cols=None, sort_cols=sort_cols, key_cols=key_cols,
            chunk_col=chunk_col,
        )

    def _optimize_by_chunk(
        self,
        write,
        *,
        min_files: int,
        max_chunks: int,
        exclude_chunks: frozenset = frozenset(),
        extra_adds: list = (),
        extra_removes: list = (),
        snap=None,
        check=None,
    ) -> int:
        """Per-chunk small-file binpack + physical-erasure pass of the
        managed indexes (chunk = band_id, bucket or list) as ONE commit:
        the shared core (:meth:`ManifestTable._binpack`) repacks every
        chunk whose live file count reached ``min_files`` into one file
        through ``write``, dropping tombstone-masked rows
        (``optimize(min_files=1)`` is the full erasure pass), with the
        exact row-count proof. A repack that erased rows commits as a
        data change (``compacting=False``); a pure binpack keeps the
        row-preservation proof. Returns the number of chunks repacked.

        ``exclude_chunks`` keeps those chunk ids out of the binpack
        plan (before the ``max_chunks`` cap — an excluded chunk must
        not occupy a candidate slot), and ``extra_adds``/
        ``extra_removes`` are pre-staged manifest entries swapped IN THE
        SAME COMMIT as the repack — the hook
        :meth:`LexicalIndex.recompute_stats` uses to rewrite its stats
        stripe atomically with the erasure it accounts for (two commits
        would let a crash between them double-subtract on retry).
        Extras are outside the row-count proof and force the commit to
        a data change. ``snap`` pins the planning snapshot — a caller
        that derived the extras from a snapshot must plan the repack
        against the SAME one, so its erasure mask and the extras
        describe one consistent state. ``check`` is the core's pre-IO
        refusal hook."""
        from holcstore_spark.sources.txlog import TxLog

        extras = [*extra_adds, *extra_removes]
        snap = snap if snap is not None else self._pin("optimize")
        cands, adds, removes, dead = self._binpack(
            snap, write, min_files=min_files, max_chunks=max_chunks,
            entries=[e for e in snap.files["data"]
                     if e.get("chunk_min") not in exclude_chunks],
            check=check,
        )
        if not cands and not extras:
            return 0
        touched = set(cands) | {
            int(e["chunk_min"]) for e in extras if e.get("chunk_min") is not None
        }
        self._txlog.commit(
            snap.version, "optimize", TxLog.next_op_id(snap),
            {"data": [*adds, *extra_adds]},
            {"data": [*removes, *extra_removes]},
            # a repack that erased rows — or swapped extra entries — is
            # a data change, not a pure layout change — it must not
            # claim compacting
            touched=touched, compacting=dead == 0 and not extras,
        )
        return len(cands)

    def delete(self, ids, txn_app=None, txn_version=None) -> bool:
        """Forget ``ids``: from this commit on they are excluded from
        every read (and therefore from dedup history / search results),
        and their rows are physically dropped by the next
        :meth:`optimize` that touches their files
        (``optimize(min_files=1)`` = full erasure pass). Idempotent
        under ``(txn_app, txn_version)`` replay: returns False and
        commits nothing. Deleting ids the index never held is allowed
        (the tombstone simply pre-forgets them)."""
        from holcstore_spark.sources.txlog import TxLog, resolve_txn

        txn_id = resolve_txn(txn_app, txn_version)
        snap = self._txlog.snapshot()
        if snap.replayed(txn_id):
            return False
        from holcstore_spark.sources.io_util import safe_local_checkpoint

        # materialized once: the frame is evaluated by the emptiness
        # probe AND the staging write — a non-deterministic ids source
        # (limit/sample) must not tombstone different ids than were
        # checked, since tombstones are permanent
        ids_df = safe_local_checkpoint(self._ids_frame(ids))
        if not ids_df.take(1):
            # an empty delete commits nothing — a 0-row tombstone file
            # would permanently activate the read-side mask join for a
            # no-op. Skipping the watermark is safe: replaying this
            # batch re-runs the same no-op.
            return False
        adds = self._write_files(
            ids_df, range_cols=None, sort_cols=(self.params["id_col"],)
        )
        committed = self._txlog.commit_idempotent(
            snap.version, "delete", TxLog.next_op_id(snap),
            {"meta": adds}, {},
            # masks are read-time and monotonic: two deletes commute,
            # and delete+append commutes because the mask applies to
            # future appends of the id as well (forget semantics)
            touched=None, txn=txn_id,
        )
        return committed is not None
