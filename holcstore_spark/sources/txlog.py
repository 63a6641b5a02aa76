"""File-manifest transaction log — the storage layout of every store
(ChunkStore, KeyValueStore, AttrStore) and of the managed indexes.

Where the reference serializes writers with database transactions and
row locks, the stores publish immutable files through this log the way
Delta Lake / Iceberg do, with zero new dependencies:

- Data and meta files are immutable; every write lands in a fresh
  ``files/<uuid>/`` directory. Nothing is ever overwritten in place.
- Visibility is governed solely by an ordered log of JSON commit
  records under ``_txlog/``. A snapshot is the replay of all records:
  ``adds`` minus ``removes`` per table.
- A commit is ONE atomic filesystem operation:
  ``os.open(…, O_CREAT | O_EXCL)`` of the next version's record. Local
  filesystems and HDFS give exclusive-create atomicity; object stores
  would swap this single function for a conditional PUT (S3
  If-None-Match) or a DynamoDB-style lock — the rest is unchanged.
- Writers are OPTIMISTIC: a writer whose version slot was taken
  inspects the interleaved commit and either rebases (disjoint
  touch sets — both writers' rows survive) or raises
  ``ConcurrentWriteError`` (a true write-write conflict, detected
  reliably instead of racily).

Commit record shape (all paths are store-relative)::

    {"version": 7, "op": "ingest_long(insert)", "op_id": 17234…,
     "adds":    {"data": [{"path": "files/ab12/part-0.parquet",
                           "rows": 8760, "chunk_min": 24288,
                           "chunk_max": 24291}, …],
                 "meta": [{"path": …}]},
     "removes": {"data": [<same entry shape>], "meta": […]},
     "touched": [24288, 24289] | "all" | null}

Per-file ``chunk_min``/``chunk_max`` come from the parquet row-group
statistics at stage time and give planning-time FILE SKIPPING: a
bounded read opens only manifest entries overlapping the requested
chunk range (:func:`may_hold`, the one skipping rule) — the
manifest-stats pruning Delta calls data skipping, replacing hive
partition pruning (``chunk_index`` is a regular column).

Conflict rules (checked against each commit that won our slot):

1. path intersection of removes (either table) — both rewrote the same
   file;
2. we declared a touched chunk set (our keep-set was computed from the
   base snapshot): any data file the other commit added OR removed
   overlapping that set invalidates our read — conflict;
3. ``touched == "all"`` (full-table rewrite: untracked delete,
   compact): any other data/meta change conflicts.

Pure appends (``touched=None``, no removes) never conflict — two
concurrent inserts both survive.

Stores written by the retired plain layout (hive-partitioned parquet
overwritten in place, no ``_txlog``) are refused at open
(:func:`open_txlog`); ``holcstore_spark.convert_to_acid`` copies them
into a new store. A log in an older format of this layout (a JSON
checkpoint, or no orphan-tracking marker) is refused by every open
(:meth:`TxLog._check_format`); ``holcstore_spark.upgrade_format`` moves
it over in place.
"""

from __future__ import annotations

import bisect
import json
import os
import uuid


class CheckpointCorrupt(ValueError):
    """A checkpoint file exists but cannot be decoded (truncated,
    foreign schema, bad header). Distinguished from transient I/O
    errors — which propagate untouched — because consumers react to
    corruption with retry/fallback (snapshot restarts its replay, the
    provenance walk answers 'not observed') and those reactions are
    WRONG for a file that is fine but momentarily unreadable."""


def old_format_error(path: str, what: str) -> ValueError:
    """The refusal every open of an older on-disk format raises: it names
    the one call that moves the directory over."""
    return ValueError(
        f"{path} holds {what}, an older on-disk format; stop its writers "
        f"and move it over once with holcstore_spark.upgrade_format({path!r})"
    )


class TxnAlreadyApplied(Exception):
    """An idempotent commit carrying ``(txn_app, txn_version)`` found an
    interleaved commit from the same app at an equal-or-newer version
    during the rebase walk — the batch is already durable (Delta's
    ``txn`` action semantics). Store layers treat this as a silent
    no-op success: raising it MUST NOT apply the staged files (commit()
    notes them as vacuum-able orphans on the way out)."""


def entries_may_share_keys(a: dict, b: dict) -> bool:
    """Can two manifest entries hold rows with the SAME key tuple?
    Per-key bounding-box intersection over the recorded file stats;
    missing/incomparable stats on either side are conservative (True).
    Chunk ranges are deliberately NOT compared — the same key spans many
    chunks, and the collisions this guards against (duplicate
    generations / version slots for one key) are per-key, not
    per-chunk."""
    sa = a.get("key_stats") or None
    sb = b.get("key_stats") or None
    if not sa or not sb:
        return True
    for col, rng_a in sa.items():
        rng_b = sb.get(col)
        if not rng_b:
            continue
        try:
            if rng_a[0] > rng_b[1] or rng_b[0] > rng_a[1]:
                return False
        except TypeError:
            continue
    return True


def resolve_txn(txn_app, txn_version) -> tuple[str, int] | None:
    """Validate and normalize an idempotent-writer identity — the ONE
    place the txn argument contract lives (shared by all three stores'
    bulk writes). Returns ``(app, version)`` or None when no identity
    was given; bool versions are rejected (they would persist as JSON
    true/false and dodge the duplicate check)."""
    if txn_app is None:
        return None
    if txn_version is None:
        raise ValueError("txn_app requires txn_version")
    if isinstance(txn_version, bool):
        raise ValueError("txn_app requires an integer txn_version")
    version = int(txn_version)
    if version < 0:
        # the store-layer replay pre-checks compare against a watermark
        # defaulting to -1, so a first-ever write with txn_version <= -1
        # would be silently skipped as "already applied" (ADVICE r10)
        raise ValueError(
            f"txn_app requires a non-negative txn_version, got {version}"
        )
    return str(txn_app), version


def has_legacy_files(path: str, legacy_dirs: tuple[str, ...] = ()) -> bool:
    """Whether ``path`` holds files of the retired plain layout: parquet
    under one of the store-relative ``legacy_dirs`` (ChunkStore's
    ``data``/``meta``), or — with no ``legacy_dirs`` — parquet files or
    ``client_id=`` partition directories directly under ``path``
    (AttrStore, KeyValueStore)."""
    from holcstore_spark.sources.io_util import has_parquet

    if legacy_dirs:
        return any(has_parquet(os.path.join(path, d)) for d in legacy_dirs)
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return False
    return any(n.endswith(".parquet") or n.startswith("client_id=") for n in names)


def open_txlog(path: str, legacy_dirs: tuple[str, ...] = ()) -> "TxLog":
    """The transaction log of the store at ``path`` — the layout check
    every store constructor runs. A path with no ``_txlog`` that holds
    plain-layout files (:func:`has_legacy_files`) is refused with a
    pointer to ``convert_to_acid``; a missing path or an empty
    directory becomes a new store."""
    if not os.path.isdir(os.path.join(path, "_txlog")) and has_legacy_files(
        path, legacy_dirs
    ):
        raise ValueError(
            f"{path} holds a store in the retired plain (non-transactional) "
            "layout; copy it into a new store with "
            "holcstore_spark.convert_to_acid(src, dst)"
        )
    return TxLog(path)


class FileEntry(dict):
    """Manifest entry: path (store-relative), rows, chunk_min/chunk_max
    (None when stats are unavailable → treated as full-range), per-file
    key ranges, and, on the entries that ask for it, the exact max of one
    timestamp column as epoch nanoseconds (``<col>_max``; absent on
    entries written before it was recorded)."""


def column_max_ns(abs_path: str, col: str) -> int | None:
    """Exact max of a timestamp column, streamed in record batches with
    pyarrow. INT96 columns (Spark's and the Arrow writer's timestamps)
    carry no parquet min/max statistics, so the max is read from the
    rows; None for a file with no non-null value."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = None
    for b in pq.ParquetFile(abs_path).iter_batches(columns=[col]):
        m = pc.max(b.column(0).cast(pa.timestamp("ns")).cast(pa.int64())).as_py()
        if m is not None and (out is None or m > out):
            out = m
    return out


def file_entry(
    abs_path: str,
    rel_path: str,
    chunk_col: str = "chunk_index",
    key_cols: tuple[str, ...] = (),
    max_col: str | None = None,
) -> FileEntry:
    """Build a manifest entry from a parquet footer (driver-side, one
    metadata read — no Spark job). Besides the chunk range, per-file
    min/max of the KEY columns is recorded (tight, because staged files
    are sorted by (keys, ts) within range partitions): rewrites then
    copy-on-write only the files whose key range can contain the series
    they replace, which is both less IO and what lets key-disjoint
    same-chunk writers commit concurrently."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    wanted = {chunk_col: None, **{k: None for k in key_cols}}
    idx_of = {}
    for i in range(md.num_columns):
        name = md.row_group(0).column(i).path_in_schema if md.num_row_groups else None
        if name in wanted:
            idx_of[name] = i
    ranges: dict[str, tuple | None] = {c: None for c in wanted}
    for col, i in idx_of.items():
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                lo = hi = None  # non-UTF8 binary stats: skip, stay conservative
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if lo is not None:
            ranges[col] = (lo, hi)
    cr = ranges.get(chunk_col)
    key_stats = {
        c: [ranges[c][0], ranges[c][1]]
        for c in key_cols
        if ranges.get(c) is not None
    }
    entry = FileEntry(
        path=rel_path,
        rows=md.num_rows,
        chunk_min=None if cr is None else int(cr[0]),
        chunk_max=None if cr is None else int(cr[1]),
        key_stats=key_stats or None,
    )
    if max_col is not None:
        entry[f"{max_col}_max"] = column_max_ns(abs_path, max_col)
    return entry


def _holds_one(vals: list, lo, hi) -> bool:
    """Does the sorted list ``vals`` hold a value in ``[lo, hi]``?"""
    i = bisect.bisect_left(vals, lo)
    return i < len(vals) and vals[i] <= hi


def may_hold(chunks=None, key_values: dict | None = None):
    """THE file-skipping rule: a test ``entry -> bool`` that is False
    only when a manifest entry's stats prove its file holds no row with
    a chunk in ``chunks`` and, per column of ``key_values``, a value in
    its candidate list. The time-bound analogue of the reference's
    ``chunk_index__gte/__lte`` b-tree skip
    (chunk_timeserie_store.py:855-861), over per-file stats.

    ``chunks`` is None (no chunk constraint), a ``(lo, hi)`` tuple (a
    range, None ends open) or any other collection of chunk ids.
    ``key_values`` maps a key column to its candidate values
    (:func:`holcstore_spark.plans.pruning.key_equality_values`); the
    columns are conjunctive, so one provably empty column rules the file
    out. Collections are sorted once here and each entry is tested by
    bisection. Missing stats never skip a file, and a column whose values
    cannot be sorted together or compared with the stats is not used."""
    lo = hi = ids = None
    if isinstance(chunks, tuple):
        lo, hi = chunks
    elif chunks is not None:
        ids = sorted(chunks)
    keyed = []
    for col, vals in (key_values or {}).items():
        try:
            keyed.append((col, sorted(vals)))
        except TypeError:
            continue  # values of unorderable types: not used

    def test(entry) -> bool:
        cmin, cmax = entry.get("chunk_min"), entry.get("chunk_max")
        if chunks is not None and cmin is not None and cmax is not None:
            if ids is not None:
                if not _holds_one(ids, cmin, cmax):
                    return False
            elif (lo is not None and cmax < lo) or (hi is not None and cmin > hi):
                return False
        stats = entry.get("key_stats") or {}
        for col, vals in keyed:
            rng = stats.get(col)
            if not rng:
                continue
            try:
                if not _holds_one(vals, rng[0], rng[1]):
                    return False
            except TypeError:
                continue  # stats not comparable with the values
        return True

    return test


def entry_may_hold(entry, chunks=None, key_values: dict | None = None) -> bool:
    """:func:`may_hold` of one manifest entry."""
    return may_hold(chunks, key_values)(entry)


class Snapshot:
    __slots__ = ("version", "files", "max_op_id", "base_checkpoint",
                 "replay_chain", "app_versions")

    def __init__(self, version: int, files: dict[str, list[FileEntry]],
                 max_op_id: int = 0, base_checkpoint: int | None = None,
                 replayed: tuple | None = None,
                 app_versions: dict[str, int] | None = None):
        self.version = version
        self.files = files
        #: largest op_id of any commit this snapshot replays (Lamport
        #: clock base): a writer stamping ``max(time_ns, max_op_id+1)``
        #: is guaranteed to order AFTER every commit it causally
        #: observed, independent of wall-clock skew between hosts
        self.max_op_id = max_op_id
        #: replay provenance — the checkpoint this replay started from
        #: and the exact ``(version, rid)`` identity of every record it
        #: read after that. Checkpoints persist this so commit()'s
        #: post-link recycled-slot check is EXACT: a commit is observed
        #: iff its identity appears in the summarizing checkpoint's
        #: replay chain — never inferred from file-path presence, which
        #: copy-on-write rewrites can erase (ADVICE r7)
        self.base_checkpoint = base_checkpoint
        self.replay_chain = tuple(replayed or ())
        #: per-writer idempotence watermarks (Delta ``txn`` analogue):
        #: the highest ``txn_version`` each ``txn_app`` has committed at
        #: or below this snapshot. One int per app_id — metadata-sized;
        #: checkpoints persist it so the watermark survives log pruning.
        self.app_versions: dict[str, int] = dict(app_versions or {})

    def replayed(self, txn: tuple[str, int] | None) -> bool:
        """Whether the idempotent write ``txn`` (``(app, version)`` from
        :func:`resolve_txn`, or None) is already durable at this
        snapshot — THE replay check every idempotent writer runs before
        staging anything."""
        return txn is not None and txn[1] <= self.app_versions.get(txn[0], -1)

    def paths(self, table: str, root: str) -> list[str]:
        return [os.path.join(root, e["path"]) for e in self.files[table]]

    def entries_may_hold(
        self, table: str, chunks=None, key_values: dict | None = None
    ) -> list[FileEntry]:
        """The entries of ``table`` :func:`may_hold` keeps."""
        test = may_hold(chunks, key_values)
        return [e for e in self.files[table] if test(e)]


def _overlaps_touched(entry: dict, touched) -> bool:
    if touched == "all":
        return True
    cmin, cmax = entry.get("chunk_min"), entry.get("chunk_max")
    if cmin is None or cmax is None:
        return True  # no stats: assume overlap (conservative)
    return any(cmin <= c <= cmax for c in touched)


class LocalFSCommitter:
    """Default slot-claim primitive: atomic exclusive create on a local
    (or HDFS-like rename-atomic) filesystem. The payload is written and
    fsynced to a temp file FIRST and hard-linked to the slot name, so
    the record's content is complete before its name ever exists — a
    concurrent loser reading the slot for conflict analysis can never
    observe a half-written record (found by the threaded stress test; a
    bare O_EXCL create left a visible-but-empty window).

    The committer contract is the ONLY storage-specific piece of the
    transaction log: ``try_commit(final_path, payload)`` returns True
    iff this caller created ``final_path`` with exactly ``payload`` —
    at most one of any number of concurrent callers per path may return
    True (exactly-once slot ownership), and after ANY return the path
    either holds a complete payload or does not exist. Object stores
    implement the same contract with a conditional PUT — S3
    ``If-None-Match: *``, GCS ``x-goog-if-generation-match: 0``, Azure
    Blob ``If-None-Match: *`` — returning False on the 412 Precondition
    Failed; no other TxLog code changes."""

    def try_commit(self, final_path: str, payload: bytes) -> bool:
        tmp = final_path + f".tmp-{uuid.uuid4().hex}"
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            try:
                os.write(fd, payload)
                os.fsync(fd)
            finally:
                os.close(fd)
            try:
                os.link(tmp, final_path)  # atomic: fails iff the slot is taken
                return True
            except FileExistsError:
                return False
        finally:
            # covers the write/fsync failure path too — a raising write
            # must not leave a vacuum-visible orphan temp (VERDICT r7 #7)
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass


def rewind_compacting(paths_to: set, moves: list[dict], root: str | None = None) -> set:
    """Substitute row-preserving (``compacting``) commits out of a
    manifest endpoint: walking the moves NEWEST→OLDEST, each commit's
    added files are swapped back for the files it removed — legal
    because a compacting commit holds exactly the same rows on both
    sides, so the returned path set spells the same row multiset as
    ``paths_to``. A commit whose added files were since rewritten or
    deleted (adds ⊄ current set) is left in place: its churn then
    cancels downstream like today (exceptAll / retract-then-upsert)
    instead of being skipped — conservative, never wrong. When ``root``
    is given, a substitution also requires every swapped-IN path to
    still exist on disk: the pre-compaction files may have been
    vacuumed (they became orphans at the compaction commit), and
    swapping a deleted path into the read set would crash a feed that
    worked fine reading the live compacted file."""
    cur = set(paths_to)
    for mv in reversed(moves):
        if not mv["adds"] or not mv["adds"] <= cur or (mv["removes"] & cur):
            continue
        if root is not None and not all(
            os.path.exists(os.path.join(root, p)) for p in mv["removes"]
        ):
            continue  # pre-compaction files vacuumed: read the live ones
        cur = (cur - mv["adds"]) | mv["removes"]
    return cur


def exact_rows(entries) -> int | None:
    """Sum of manifest row counts, or None when ANY entry lacks a real
    integer count (``rows=None`` documents 'stats unavailable'; bool is
    an int subclass and must not slip through) — the row-preservation
    proofs in ``compact()``/``optimize()`` need REAL counts on both
    sides or they must not claim ``compacting``."""
    total = 0
    for e in entries:
        r = e.get("rows")
        if not isinstance(r, int) or isinstance(r, bool):
            return None
        total += r
    return total


def binpack_candidates(
    entries, min_files: int, max_chunks: int, whole: bool = False,
) -> tuple[list, dict]:
    """Shared ``optimize()`` planning (driver-side manifest math, no
    scan): group SINGLE-chunk entries with exact stats by chunk id and
    pick the chunks holding at least ``min_files`` files, most
    fragmented first, at most ``max_chunks``. Entries spanning chunks or
    without stats are never candidates — per-chunk grouping and the
    row-preservation proof both need tight manifest stats. ``whole=True``
    plans a table with no chunk column: every entry with an exact row
    count falls in the one chunk ``None``."""
    by_chunk: dict = {}
    for e in entries:
        cmin, cmax, rows = e.get("chunk_min"), e.get("chunk_max"), e.get("rows")
        if not isinstance(rows, int) or isinstance(rows, bool):
            continue
        if whole:
            by_chunk.setdefault(None, []).append(e)
        elif cmin is not None and cmax == cmin:
            by_chunk.setdefault(int(cmin), []).append(e)
    cands = sorted(
        (c for c, es in by_chunk.items() if len(es) >= min_files),
        key=lambda c: -len(by_chunk[c]),
    )[:max_chunks]
    return cands, by_chunk


class TxLog:
    TABLES = ("data", "meta")

    #: every N commits the full live-file set is checkpointed so
    #: ``snapshot()`` replays O(N) records from the latest checkpoint
    #: instead of the whole history (Delta's ``_last_checkpoint``
    #: analogue) — at 10⁶ commits a cold open reads 1 checkpoint + <N
    #: records, not 10⁶ JSON files
    CHECKPOINT_INTERVAL = 32

    #: prune_log keeps non-latest checkpoints younger than this: a
    #: racing writer's post-link provenance walk (_checkpoint_observed)
    #: follows ``base`` links down the checkpoint chain, and a prune
    #: deleting an intermediate link mid-walk would read as "not
    #: observed" — backing out a commit that WAS summarized (silent
    #: double-apply on the caller's retry, ADVICE r8). The walk happens
    #: seconds after the link, so an age gate bounds retention at
    #: (checkpoint rate × window) files while closing the race for any
    #: realistic scheduling delay.
    CHECKPOINT_RETENTION_SECONDS = 900.0

    def __init__(self, root: str, committer=None):
        self.root = root
        self.dir = os.path.join(root, "_txlog")
        os.makedirs(self.dir, exist_ok=True)
        self._check_format(os.listdir(self.dir))
        #: the pluggable atomic slot-claim primitive (see
        #: LocalFSCommitter for the contract an object-store
        #: conditional-PUT implementation must honor)
        self.committer = committer if committer is not None else LocalFSCommitter()
        #: snapshot cache: (log-dir listing signature) -> Snapshot. One
        #: listdir validates the cache, so repeated reads between
        #: commits cost a directory scan instead of a full log replay —
        #: and a cross-process commit (new record file) invalidates it
        #: automatically because the listing changes.
        self._snap_sig: tuple | None = None
        self._snap_cached: Snapshot | None = None

    def _marker_path(self) -> str:
        return os.path.join(self.dir, "_orphans", ".migrated")

    def _check_format(self, names: list[str]) -> None:
        """Refuse a log in an older on-disk format; stamp a new one. The
        ``_orphans/.migrated`` marker says every file the log stopped
        referencing is named by an orphan sidecar or was deep-swept, so
        the default vacuum reads sidecars only. A log with no record and
        no checkpoint is new: it is stamped (racing creators write the
        same empty file), and a failed stamp raises. Costs the caller's
        listdir and one stat."""
        if any(n.startswith("_checkpoint.") and n.endswith(".json") for n in names):
            raise old_format_error(self.root, "a transaction log with a JSON checkpoint")
        marker = self._marker_path()
        if os.path.exists(marker):
            return
        if self.versions(names) or any(
            self._checkpoint_name_version(n) is not None for n in names
        ):
            raise old_format_error(
                self.root, "a transaction log without orphan tracking"
            )
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w"):
            pass

    # -- log primitives ------------------------------------------------
    def _rec_path(self, version: int) -> str:
        return os.path.join(self.dir, f"{version:020d}.json")

    def versions(self, listing: list[str] | None = None) -> list[int]:
        out = []
        for f in (os.listdir(self.dir) if listing is None else listing):
            if f.endswith(".json") and not f.startswith("_checkpoint."):
                try:
                    out.append(int(f[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def last_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def read(self, version: int) -> dict:
        with open(self._rec_path(version)) as f:
            return json.load(f)

    def _try_write(self, version: int, record: dict) -> bool:
        """Atomic exclusive create of the version slot — THE commit
        point, delegated to the pluggable committer (LocalFSCommitter
        by default; an object-store deployment swaps in a
        conditional-PUT committer)."""
        payload = json.dumps(record, separators=(",", ":")).encode()
        return self.committer.try_commit(self._rec_path(version), payload)

    # -- checkpoints ---------------------------------------------------
    #: FileEntry fields stored as typed parquet columns; anything else
    #: rides in the ``extra`` JSON column (losslessness for hand-built
    #: entries)
    _ENTRY_COLS = ("path", "rows", "chunk_min", "chunk_max", "key_stats")

    def _checkpoint_path_pq(self, version: int) -> str:
        return os.path.join(self.dir, f"_checkpoint.{version:020d}.parquet")

    def _read_checkpoint(self, version: int, header_only: bool = False) -> dict:
        """Load a parquet checkpoint into the canonical dict shape
        ``{version, max_op_id, base, replayed, txns, files}`` (at 10⁶
        live files a zstd parquet checkpoint is ~150× smaller than the
        JSON encoding it replaced, Delta's parquet-checkpoint move).
        ``header_only`` skips the file-entry set: one footer read
        (``read_schema``), so the post-link provenance chain walk costs
        O(header) per hop instead of rebuilding hundreds of thousands of
        entries it never looks at. Raises FileNotFoundError when absent
        and :class:`CheckpointCorrupt` (a ValueError, naming the file)
        when unreadable — the callers' retry/fallback semantics key on
        exactly those, so a TRANSIENT I/O error (EIO, EMFILE,
        permissions) deliberately propagates as-is: mapping it to
        "corrupt" would make the post-link provenance walk read a
        durable, summarized commit as 'not observed' and back it out
        (double-apply on retry)."""
        import pyarrow as pa
        import pyarrow.parquet as pqm

        path = self._checkpoint_path_pq(version)
        try:
            t = pqm.read_schema(path) if header_only else pqm.read_table(path)
        except pa.ArrowInvalid as ex:
            raise CheckpointCorrupt(f"corrupt parquet checkpoint {path}: {ex}") from ex
        schema = t if header_only else t.schema
        raw = (schema.metadata or {}).get(b"holc_checkpoint")
        if raw is None:
            raise CheckpointCorrupt(f"parquet checkpoint {path} missing header metadata")
        try:
            head = json.loads(raw)
            if header_only:
                return head
            cols = t.to_pydict()
            files: dict[str, list[FileEntry]] = {tb: [] for tb in self.TABLES}
            for tb, p, rows, cmin, cmax, ks, extra in zip(
                cols["table"], cols["path"], cols["rows"],
                cols["chunk_min"], cols["chunk_max"], cols["key_stats"],
                cols["extra"],
            ):
                e = FileEntry(path=p, rows=rows, chunk_min=cmin,
                              chunk_max=cmax,
                              key_stats=json.loads(ks) if ks else None)
                if extra:
                    # non-column-typed values round-trip here,
                    # OVERWRITING the typed None placeholders —
                    # losslessness for hand-built entries
                    e.update(json.loads(extra))
                files.setdefault(tb, []).append(e)
        except (KeyError, json.JSONDecodeError) as ex:
            # parses-but-wrong-shape (foreign parquet at a checkpoint
            # name) must stay inside the documented ValueError
            # contract, not escape as KeyError
            raise CheckpointCorrupt(
                f"malformed parquet checkpoint {path}: {ex!r}"
            ) from ex
        return {**head, "files": files}

    def _write_checkpoint(self, version: int, snap: "Snapshot") -> None:
        """Write the live-file set as a zstd parquet checkpoint (typed
        columns + one header metadata blob), crash-safe via temp +
        atomic rename. The measured JSON shape this replaces: 46 MB /
        3.2 s parse at 400k live files, re-serialized every
        CHECKPOINT_INTERVAL commits — the O(table-files) cost that
        dominates log maintenance at 100 TB."""
        import pyarrow as pa
        import pyarrow.parquet as pqm

        def _as_int64(v):
            # JSON-legal but non-int values (bool, numeric string,
            # fractional float) must not crash pa.array post-commit nor
            # be silently truncated — route them through the `extra`
            # JSON column instead (read-side e.update restores them)
            return v if isinstance(v, int) and not isinstance(v, bool) else None

        tb_c, p_c, r_c, mn_c, mx_c, ks_c, ex_c = [], [], [], [], [], [], []
        for tb in self.TABLES:
            for e in snap.files[tb]:
                tb_c.append(tb)
                p_c.append(e.get("path"))
                r_c.append(_as_int64(e.get("rows")))
                mn_c.append(_as_int64(e.get("chunk_min")))
                mx_c.append(_as_int64(e.get("chunk_max")))
                ks = e.get("key_stats")
                ks_c.append(json.dumps(ks, separators=(",", ":")) if ks else None)
                extra = {
                    k: v for k, v in e.items() if k not in self._ENTRY_COLS
                }
                for col in ("rows", "chunk_min", "chunk_max"):
                    v = e.get(col)
                    if v is not None and _as_int64(v) is None:
                        extra[col] = v  # lossless detour for odd types
                ex_c.append(
                    json.dumps(extra, separators=(",", ":")) if extra else None
                )
        head = json.dumps(
            {"version": version, "max_op_id": snap.max_op_id,
             "base": snap.base_checkpoint,
             "replayed": [list(p) for p in snap.replay_chain],
             # idempotence watermarks must outlive log pruning: a
             # duplicate micro-batch replayed weeks later still has to
             # hit the skip (one int per txn_app — metadata-sized)
             "txns": snap.app_versions},
            separators=(",", ":"),
        )
        table = pa.table(
            {"table": pa.array(tb_c, pa.string()),
             "path": pa.array(p_c, pa.string()),
             "rows": pa.array(r_c, pa.int64()),
             "chunk_min": pa.array(mn_c, pa.int64()),
             "chunk_max": pa.array(mx_c, pa.int64()),
             "key_stats": pa.array(ks_c, pa.string()),
             "extra": pa.array(ex_c, pa.string())},
        ).replace_schema_metadata({b"holc_checkpoint": head.encode()})
        final = self._checkpoint_path_pq(version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        pqm.write_table(table, tmp, compression="zstd")
        os.replace(tmp, final)

    def _pointer_path(self) -> str:
        return os.path.join(self.dir, "_last_checkpoint")

    def _read_checkpoint_pointer(self) -> int | None:
        """Delta-style ``_last_checkpoint`` pointer: one small-file read
        instead of an O(log-size) directory listing. Best-effort — it
        may lag the newest checkpoint (stale-LOW only: it is written
        after the checkpoint file and never rolled back), and every
        consumer tolerates that: replay from an older checkpoint just
        reads a few more records, and commit()'s pre-link floor check is
        backstopped by the fresh post-link re-check."""
        try:
            with open(self._pointer_path()) as f:
                v = int(json.load(f)["version"])
        except (FileNotFoundError, ValueError, KeyError, json.JSONDecodeError):
            return None
        # guard against a pointer outliving its checkpoint (manual file
        # surgery): only trust it if the checkpoint file exists
        return v if os.path.exists(self._checkpoint_path_pq(v)) else None

    def _write_checkpoint_pointer(self, version: int) -> None:
        cur = self._read_checkpoint_pointer()
        if cur is not None and cur >= version:
            return  # a racing newer checkpointer already advanced it
        tmp = self._pointer_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(json.dumps({"version": version}))
        os.replace(tmp, self._pointer_path())

    def _latest_checkpoint(
        self, as_of: int | None = None, listing: list[str] | None = None,
        fresh: bool = False,
    ) -> int | None:
        """Latest checkpoint ≤ ``as_of``. The common current-state call
        (``as_of=None``) is served by the pointer file; ``fresh=True``
        forces the authoritative directory scan (prune safety and the
        post-link horizon re-check must not trust a lagging pointer),
        and ``listing`` reuses a directory listing the caller already
        paid for."""
        if as_of is None and listing is None and not fresh:
            v = self._read_checkpoint_pointer()
            if v is not None:
                return v
        best = None
        for f in (os.listdir(self.dir) if listing is None else listing):
            v = self._checkpoint_name_version(f)
            if v is None:
                continue
            if (as_of is None or v <= as_of) and (best is None or v > best):
                best = v
        return best

    @staticmethod
    def _checkpoint_name_version(fname: str) -> int | None:
        """Checkpoint version from a directory-entry name; None for
        non-checkpoint entries (incl. ``.tmp-`` partials, which do not
        end in ``.parquet``)."""
        if not (fname.startswith("_checkpoint.") and fname.endswith(".parquet")):
            return None
        try:
            return int(fname[len("_checkpoint."):-len(".parquet")])
        except ValueError:
            return None

    def _maybe_checkpoint(self, version: int) -> None:
        """Best-effort (crash-safe via temp + atomic rename): losing a
        checkpoint only costs replay time, never correctness. The
        payload carries replay provenance — the checkpoint this summary
        started from and the exact (version, rid) identity of each
        record it replayed — making _checkpoint_observed a membership
        test instead of a file-path heuristic (ADVICE r7)."""
        if version % self.CHECKPOINT_INTERVAL:
            return
        # truly best-effort: _maybe_checkpoint runs AFTER the commit
        # record is durably linked, so a checkpoint-write failure must
        # never bubble out of commit() — the caller would treat a
        # SUCCEEDED commit as failed and re-apply it
        try:
            snap = self.snapshot(as_of=version)
            self._write_checkpoint(version, snap)
            self._write_checkpoint_pointer(version)
        except Exception as ex:  # noqa: BLE001 — logged, never fatal
            import warnings

            warnings.warn(
                f"checkpoint at version {version} failed ({ex!r}); "
                "replay falls back to the previous checkpoint",
                RuntimeWarning,
                stacklevel=2,
            )

    # -- snapshots -----------------------------------------------------
    def snapshot(self, as_of: int | None = None) -> Snapshot:
        if as_of is None:
            listing = sorted(os.listdir(self.dir))
            sig = tuple(listing)
            if sig == self._snap_sig and self._snap_cached is not None:
                return self._snap_cached
            snap = self._snapshot_uncached(None, listing)
            self._snap_sig, self._snap_cached = sig, snap
            return snap
        return self._snapshot_uncached(as_of)

    def snapshot_exact(self, version: int) -> Snapshot:
        """``as_of`` resolution that REFUSES substitution: below the
        pruned horizon (or for a never-committed version)
        ``snapshot(as_of=…)`` silently replays to the nearest older
        state, which is wrong wherever the caller promised a specific
        version — time travel, change feeds, streaming offsets. Shared
        by all three stores' ``time_travel``."""
        snap = self.snapshot(as_of=version)
        if snap.version != version:
            raise ValueError(
                f"version {version} is not a committed log version "
                f"(nearest at-or-before: {snap.version})"
            )
        return snap

    def _snapshot_uncached(
        self, as_of: int | None, listing: list[str] | None = None
    ) -> Snapshot:
        """Replay with maintenance-race protection: a concurrent
        ``prune_log`` can delete a record between our listing and its
        read (FileNotFoundError), or prune the records our replay would
        have covered so we'd silently serve a pre-checkpoint state as
        current. Both retry against the fresh log; a snapshot that is
        merely a few commits behind (writer raced us, records intact)
        is accepted — that's ordinary MVCC staleness. ``listing`` reuses
        the caller's directory listing for the FIRST attempt (one
        listdir per cold snapshot instead of several); retries always
        re-list — a stale listing/pointer is a possible cause of the
        retry. A checkpoint that is still undecodable after a fresh
        re-list picks the same version again is corrupt, not racing:
        its :class:`CheckpointCorrupt` is raised as-is."""
        corrupt_cp = None
        for _attempt in range(8):
            if _attempt > 0:
                listing = None
            live: dict[str, dict[str, FileEntry]] = {t: {} for t in self.TABLES}
            start = 0
            max_op = 0
            replayed: list[tuple] = []
            app_versions: dict[str, int] = {}
            cp = self._latest_checkpoint(
                as_of, listing=listing, fresh=_attempt > 0
            )
            try:
                if cp is not None:
                    data = self._read_checkpoint(cp)
                    for t in self.TABLES:
                        for e in data["files"].get(t, []):
                            live[t][e["path"]] = FileEntry(e)
                    start = cp
                    max_op = int(data.get("max_op_id", 0))
                    # pre-txn-feature checkpoints lack the key; {} is
                    # then CORRECT (no txn commit could predate them)
                    app_versions.update(data.get("txns") or {})
                last = start
                for v in self.versions(listing):
                    if v <= start:
                        continue
                    if as_of is not None and v > as_of:
                        break
                    rec = self.read(v)
                    last = v
                    max_op = max(max_op, int(rec.get("op_id") or 0))
                    replayed.append((v, rec.get("rid")))
                    app = rec.get("txn_app")
                    if app is not None:
                        tv = int(rec.get("txn_version") or 0)
                        if tv > app_versions.get(app, -1):
                            app_versions[app] = tv
                    for t in self.TABLES:
                        for e in rec["adds"].get(t, []):
                            live[t][e["path"]] = FileEntry(e)
                        for e in rec["removes"].get(t, []):
                            live[t].pop(e["path"], None)
            except CheckpointCorrupt:
                if cp == corrupt_cp:
                    raise
                corrupt_cp = cp
                continue
            except (FileNotFoundError, json.JSONDecodeError):
                # pruned (or replaced) under us — restart against the
                # fresh log. (Deliberately NOT all ValueError: an int()
                # failure on a corrupt record field should propagate
                # diagnosably, not burn 8 retries and blame log
                # maintenance.)
                continue
            cp2 = self._latest_checkpoint(as_of)
            if cp2 is not None and cp2 > last:
                # a newer checkpoint appeared during our replay: fine if
                # the intermediate records still exist (we're just a
                # moment behind); a replay gap means they were pruned
                # and our state is inconsistent — restart
                if not any(last < v <= cp2 for v in self.versions()):
                    continue
            return Snapshot(
                last, {t: list(live[t].values()) for t in self.TABLES},
                max_op, base_checkpoint=cp, replayed=replayed,
                app_versions=app_versions,
            )
        raise RuntimeError(
            "snapshot replay kept racing log maintenance (prune/checkpoint)"
        )

    # -- optimistic commit --------------------------------------------
    @staticmethod
    def next_op_id(snap: Snapshot) -> int:
        """Lamport-style operation stamp: wall-clock nanoseconds, but
        never at or below any op_id this writer's base snapshot has
        observed. Winner resolution that orders on op_id (ChunkStore's
        ``latest_meta``) then follows CAUSAL order — a commit made after
        observing another commit always outranks it, even when the hosts'
        clocks are skewed; truly concurrent (same-base) writers keep the
        wall-clock tiebreak, where either order is a valid
        serialization."""
        import time

        return max(time.time_ns(), int(snap.max_op_id) + 1)

    def commit(
        self,
        base_version: int,
        op: str,
        op_id: int,
        adds: dict[str, list[FileEntry]],
        removes: dict[str, list[FileEntry]],
        touched=None,
        append_keys: list[str] | None = None,
        dropped_keys: list[str] | None = None,
        compacting: bool = False,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Commit at the first free version ≥ base_version+1, rebasing
        over non-conflicting interleaved commits; raises the store's
        ``ConcurrentWriteError`` on a genuine conflict. ``touched`` is
        the chunk set our keep-set was derived from (None = pure
        append, "all" = full-table rewrite). ``append_keys`` carries the
        key digests an append inserted: two interleaved appends with
        intersecting digests conflict (the KeyExistsError contract held
        under concurrency); an append whose key set is unbounded
        (None) is a blind append — concurrent same-key blind appends
        land twice, Delta's documented insert semantics.
        ``compacting=True`` marks a ROW-PRESERVING rewrite (the staged
        data files hold exactly the rows of the removed ones — a pure
        file-layout change): change feeds skip such commits at manifest
        level instead of reading and cancelling every rewritten file
        (Delta's ``dataChange=false`` analogue).

        ``(txn_app, txn_version)`` makes the commit IDEMPOTENT (Delta's
        ``txn`` action): callers pre-check the base snapshot's
        ``app_versions`` watermark, and the rebase walk here closes the
        remaining race — an interleaved commit from the same app at an
        equal-or-newer version raises :class:`TxnAlreadyApplied` instead
        of landing a duplicate. This is what turns an append-mode
        ``foreachBatch`` sink exactly-once across driver crash-replays."""
        if txn_app is not None and (
            not isinstance(txn_version, int) or isinstance(txn_version, bool)
        ):
            # bool is rejected, not coerced: it would persist as JSON
            # true/false and dodge the rebase-walk duplicate check
            raise ValueError("txn_app requires an integer txn_version")
        record = {
            "op": op,
            "op_id": op_id,
            "compacting": bool(compacting),
            # record identity: version numbers alone are ambiguous when
            # a slot is recycled (pruned and re-linked), so observation
            # evidence matches on (version, rid) pairs
            "rid": uuid.uuid4().hex,
            "adds": {t: list(adds.get(t, [])) for t in self.TABLES},
            "removes": {t: list(removes.get(t, [])) for t in self.TABLES},
            "touched": sorted(touched) if isinstance(touched, (set, list, tuple)) else touched,
            "append_keys": append_keys,
            "dropped_keys": dropped_keys,
        }
        if txn_app is not None:
            record["txn_app"] = str(txn_app)
            record["txn_version"] = txn_version
        try:
            v = self._commit_record(record, base_version)
        except Exception:
            # the caller's staged adds will never become live through
            # THIS attempt — note them so vacuum reclaims O(orphans)
            # without walking every staging dir. A retried commit that
            # re-lands the same files is safe: the vacuum sidecar sweep
            # re-checks liveness against the then-current snapshot.
            # Best-effort: a sidecar write failure must not REPLACE the
            # in-flight ConcurrentWriteError/StaleBaseError (the
            # caller's retry handlers key on those types).
            try:
                self.note_orphans(
                    e["path"] for t in self.TABLES for e in record["adds"][t]
                )
            except OSError:
                pass
            raise
        # the removed files became unreferenced AT this commit: record
        # them (with the commit wall-clock, which is when their
        # retention countdown correctly starts) for the O(orphans)
        # vacuum path. Best-effort: the commit is already durably
        # linked — a sidecar write failure here must not make a
        # SUCCEEDED commit look failed (the caller would re-apply it);
        # the un-noted orphans fall to a deep sweep.
        try:
            self.note_orphans(
                e["path"] for t in self.TABLES for e in record["removes"][t]
            )
        except OSError:
            pass
        return v

    def commit_idempotent(self, *args, txn: tuple[str, int] | None = None,
                          **kwargs) -> int | None:
        """:meth:`commit`, but a duplicate idempotent batch
        (:class:`TxnAlreadyApplied`) returns None instead of raising —
        the shape every store-layer caller wants (the batch IS durable;
        the staged files were noted as orphans on the way out). All
        other exceptions propagate unchanged. ``txn`` is the writer
        identity from :func:`resolve_txn` (None = not idempotent)."""
        if txn is not None:
            kwargs["txn_app"], kwargs["txn_version"] = txn
        try:
            return self.commit(*args, **kwargs)
        except TxnAlreadyApplied:
            return None

    def _commit_record(self, record: dict, base_version: int) -> int:
        from holcstore_spark.sources.chunk_store import StaleBaseError

        v = base_version + 1
        while True:
            # prune horizon guard: slots at or below the latest manifest
            # checkpoint are summarized history — linking there would
            # create a commit snapshot() never replays (an invisible,
            # silently-lost write by a writer whose base predates a
            # prune). Checked every iteration so a prune landing during
            # the rebase walk is also caught.
            floor = self._latest_checkpoint() or 0
            if v <= floor:
                raise StaleBaseError(
                    f"commit base (version {base_version}) predates the "
                    f"pruned log horizon (checkpoint {floor}); re-run the "
                    "operation against a fresh snapshot"
                )
            if self._try_write(v, {**record, "version": v}):
                # TOCTOU re-check: between the floor read above and the
                # link, another writer can take slot v, advance to a
                # checkpoint >= v, and prune record v — freeing the slot
                # so our link lands BELOW the pruned horizon, invisible
                # to every future replay (a silently lost write). But a
                # checkpoint >= v can ALSO be benign: writers that
                # replayed OUR freshly-linked record committed past v
                # and checkpointed — then our commit is durable and
                # summarized, and backing it out + raising would make
                # the caller double-apply the operation on retry.
                # Discriminate by whether the checkpoint's file set
                # observed this commit's effect (our staged paths are
                # uuid-unique): observed → success, else back out.
                post_floor = self._latest_checkpoint(fresh=True) or 0
                if post_floor >= v and not self._checkpoint_observed(
                    post_floor, record, v
                ):
                    try:
                        os.remove(self._rec_path(v))
                    except FileNotFoundError:
                        pass
                    raise StaleBaseError(
                        f"commit slot {v} was recycled below the pruned "
                        f"log horizon (checkpoint {post_floor}); re-run "
                        "the operation against a fresh snapshot"
                    )
                self._maybe_checkpoint(v)
                return v
            try:
                other = self.read(v)
            except FileNotFoundError:
                # the interleaved commit was pruned mid-walk: it is
                # summarized history we can no longer conflict-check
                # against — refuse rather than assume non-conflict
                raise StaleBaseError(
                    f"interleaved commit {v} was pruned during the rebase "
                    "walk; re-run the operation against a fresh snapshot"
                ) from None
            app = record.get("txn_app")
            if app is not None and other.get("txn_app") == app:
                otv = other.get("txn_version")
                if isinstance(otv, int) and not isinstance(otv, bool) \
                        and otv >= record["txn_version"]:
                    # our batch already landed (a crashed predecessor's
                    # attempt made durable, or a second instance of the
                    # same writer won the race) — refusing HERE, inside
                    # the walk, is what makes the idempotence airtight:
                    # the caller's snapshot pre-check can't see commits
                    # newer than its base
                    raise TxnAlreadyApplied(
                        f"txn ({app}, {record['txn_version']}) already "
                        f"applied by commit {other.get('version')} "
                        f"(txn_version {otv})"
                    )
            self._check_conflict(other, record)
            v += 1

    def _checkpoint_observed(
        self, cp_version: int, record: dict, version: int
    ) -> bool:
        """Did the checkpoint at ``cp_version`` replay OUR commit at
        ``version``? EXACT: every checkpoint persists its replay
        provenance — the base checkpoint it started from and the
        ``(version, rid)`` identity of each record it read — so the
        question is a membership test down the checkpoint chain. A
        commit whose identity appears anywhere in the chain is durable
        and summarized (benign: the commit stands even if copy-on-write
        rewrites later erased every file it added, and even if it added
        no files at all — the two cases the old file-path heuristic
        misjudged, ADVICE r7). One absent from the chain was never
        replayed: the slot was recycled and the write would be silently
        lost — backed out and retried. Unreadable checkpoint → not
        observed (the safe, loud direction)."""
        ours = (version, record.get("rid"))
        cur = cp_version
        for _ in range(100_000):  # chain is strictly decreasing; belt only
            try:
                # header-only read: the walk needs replayed/base, never
                # the file-entry set — O(footer) per hop, not O(files)
                data = self._read_checkpoint(cur, header_only=True)
                if any(tuple(p) == ours for p in data.get("replayed") or ()):
                    return True
            except (FileNotFoundError, CheckpointCorrupt, TypeError):
                return False
            base = data.get("base")
            # a corrupt checkpoint whose base is a non-int must read as
            # "not observed" (same as unreadable), not crash post-link
            # (ADVICE r8); bool is excluded to keep the guard honest
            if not isinstance(base, int) or isinstance(base, bool) \
                    or base < version or base >= cur:
                # our record should have been replayed directly by this
                # checkpoint (version > base) but wasn't — not observed
                return False
            cur = base
        return False

    def _check_conflict(self, other: dict, ours: dict) -> None:
        from holcstore_spark.sources.chunk_store import ConcurrentWriteError

        our_rm = {
            e["path"] for t in self.TABLES for e in ours["removes"][t]
        }
        other_rm = {
            e["path"] for t in self.TABLES for e in other["removes"].get(t, [])
        }
        clash = our_rm & other_rm
        if clash:
            raise ConcurrentWriteError(
                f"commit {other.get('version')} ({other.get('op')}) rewrote "
                f"the same files: {sorted(clash)[:3]}…"
            )
        if ours.get("compacting"):
            # OUR commit is a row-preserving repack: its only semantic
            # dependency is that its SOURCE files were not rewritten
            # under it — exactly the path-intersection rule above. Every
            # other interleave commutes: the merged state drops our
            # sources, adds files holding identical rows, and keeps the
            # other commit's changes verbatim (Delta's dataChange=false
            # reconciliation). This is what lets incremental optimize()
            # run as background maintenance that never starves and never
            # blocks writers.
            return
        touched = ours.get("touched")
        if touched is None:
            # append-vs-append key collision: both sides recorded their
            # inserted key digests — an intersection means two writers
            # concurrently inserted the SAME series
            ok, tk = ours.get("append_keys"), other.get("append_keys")
            if ok and tk and set(ok) & set(tk):
                raise ConcurrentWriteError(
                    f"commit {other.get('version')} ({other.get('op')}) "
                    f"inserted the same key(s) concurrently"
                )
            return
        if touched == "all":
            # A NON-row-preserving full rewrite (delete, restore — the
            # row-preserving case returned above): its semantics read
            # the whole base state, so any other change invalidates it.
            # Note a restore must conflict even with a compacting
            # interleave — restore RE-REFERENCES old manifest paths, and
            # re-adding a file a repack just retired would put both
            # generations of its rows live at once.
            if any(other["adds"].get(t) or other["removes"].get(t) for t in self.TABLES):
                raise ConcurrentWriteError(
                    f"full-table rewrite raced commit {other.get('version')} "
                    f"({other.get('op')})"
                )
            return
        if other.get("compacting"):
            # the OTHER commit is a row-preserving repack: every row our
            # chunk-touched keep-set was derived from still exists
            # identically (just in different files), and our removes
            # cannot hit its sources (path intersection above). Chunk-
            # granular rewrites never re-reference old manifest paths
            # (only restore does, handled strictly above), so the merge
            # is safe both ways.
            return
        ours_set = (
            set(ours["dropped_keys"]) if ours.get("dropped_keys") is not None else None
        )
        # the other commit's full key footprint is the UNION of what it
        # appended and what it rewrote (a nested txn can record both);
        # unknown only when BOTH are unknown
        oa, od = other.get("append_keys"), other.get("dropped_keys")
        other_set = None if oa is None and od is None else set(oa or []) | set(od or [])
        for e in list(other["adds"].get("data", [])) + list(
            other["removes"].get("data", [])
        ):
            if not _overlaps_touched(e, touched):
                continue
            # KEY-LEVEL refinement: a same-chunk interleaved commit is
            # safe when both sides know their key sets and they are
            # disjoint — our keep-set never read the other's files
            # (path-intersection above would have fired), and no key we
            # drop can be resurrected by rows the other added. Many
            # writers updating DIFFERENT series of one month chunk all
            # land; unknown key sets stay chunk-granular conservative.
            if ours_set is not None and other_set is not None and not (
                ours_set & other_set
            ):
                continue
            raise ConcurrentWriteError(
                f"commit {other.get('version')} ({other.get('op')}) touched "
                f"chunks {touched} our keep-set was derived from"
            )

    def compacting_data_moves(
        self, from_version: int, to_version: int
    ) -> list[dict] | None:
        """Data-table path moves of ``compacting`` commits in
        ``(from_version, to_version]``, oldest→newest — the input to
        :func:`rewind_compacting`'s manifest-level change-feed skip
        (Delta ``dataChange=false`` analogue). Returns ``None`` when any
        interval record is unavailable (pruned): the caller then falls
        back to the plain endpoint diff, which is still CORRECT — the
        feed's row-level cancellation handles row-preserving churn —
        just not skip-optimized. Committed versions are contiguous, so a
        gap in the listing IS a pruned record."""
        have = {
            v for v in self.versions() if from_version < v <= to_version
        }
        if have != set(range(from_version + 1, to_version + 1)):
            return None
        out = []
        for v in sorted(have):
            try:
                rec = self.read(v)
            except (FileNotFoundError, json.JSONDecodeError):
                return None
            if rec.get("compacting"):
                out.append({
                    "version": v,
                    "adds": {e["path"] for e in rec["adds"].get("data", [])},
                    "removes": {
                        e["path"] for e in rec["removes"].get("data", [])
                    },
                })
        return out

    def restore_commit(self, version: int, op: str = "restore") -> int:
        """Roll the table back to ``snapshot_exact(version)``'s file set
        as a NEW commit (Delta's RESTORE analogue): history is
        preserved — the rollback is itself an auditable, time-travelable
        commit whose adds re-reference the old generation's surviving
        files and whose removes drop everything newer. Refuses when the
        target version is pruned below the log horizon
        (``snapshot_exact`` raises) or when any file it references was
        already vacuumed (re-adding a dangling path would corrupt every
        future read). ``touched='all'`` — a rollback conflicts with any
        concurrent table change, the only sound serialization."""
        target = self.snapshot_exact(version)
        cur = self.snapshot()
        if cur.version == target.version:
            return cur.version
        adds: dict[str, list] = {}
        removes: dict[str, list] = {}
        for t in self.TABLES:
            cur_paths = {e["path"] for e in cur.files[t]}
            tgt_paths = {e["path"] for e in target.files[t]}
            adds[t] = [e for e in target.files[t] if e["path"] not in cur_paths]
            removes[t] = [e for e in cur.files[t] if e["path"] not in tgt_paths]
        missing = [
            e["path"]
            for t in self.TABLES
            for e in adds[t]
            if not os.path.exists(os.path.join(self.root, e["path"]))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: {len(missing)} "
                f"file(s) it references were vacuumed "
                f"(e.g. {missing[0]!r})"
            )
        v_new = self.commit(
            cur.version, f"{op}({version})", self.next_op_id(cur),
            adds, removes, touched="all",
        )
        # restore-vs-vacuum race: the re-referenced files had been dead
        # for arbitrarily long, so a vacuum running CONCURRENTLY (its
        # live set computed before our commit) may delete them right
        # after the pre-check above. Re-verify now that the commit made
        # them live; if any vanished, publish a compensating undo — the
        # pre-restore files are safe to re-reference (they became
        # orphans seconds ago, inside any sane retention window) — and
        # fail LOUDLY instead of leaving a table with dangling paths.
        gone = [
            e["path"]
            for t in self.TABLES
            for e in adds[t]
            if not os.path.exists(os.path.join(self.root, e["path"]))
        ]
        if gone:
            # The undo is itself a touched='all' commit; a third writer
            # interleaving would raise ConcurrentWriteError out of it,
            # leaving the table durably referencing vacuum-deleted files
            # with only the exception as a signal (ADVICE r9). Bounded
            # rebase-retry — but the file sets are RECOMPUTED against
            # the fresh snapshot each attempt (diff to the held
            # pre-restore snapshot, i.e. a restore-to-`cur`): replaying
            # the first attempt's fixed swap sets on top of a writer
            # that landed in between would re-add the pre-restore files
            # for a key that writer just rewrote — both generations live
            # at once, silent duplicate rows. A terminal failure is
            # wrapped in an explicit table-is-broken error naming the
            # repair.
            from holcstore_spark.sources.chunk_store import (
                ConcurrentWriteError,
            )

            undo_err: Exception | None = None
            for _ in range(5):
                try:
                    snap = self.snapshot()
                    # ADVICE r10: a commit landed by a CONCURRENT writer
                    # between the broken restore (v_new) and this undo
                    # must not be silently reverted — a plain diff
                    # against `cur` would remove its files, orphan-note
                    # them, and eventually vacuum durably-acknowledged
                    # data with no signal to that writer. Walk the
                    # interleaved commits: pure appends are FOLDED into
                    # the undo target (their files stay live — they are
                    # new paths, disjoint from both generations);
                    # commits with removes are unfoldable (they rewrote
                    # keys against the restored generation — re-adding
                    # the pre-restore generation next to their rewrite
                    # would duplicate rows) → raise the table-is-broken
                    # error naming them instead of force-restoring.
                    keep_paths: dict[str, set] = {
                        t: set() for t in self.TABLES
                    }
                    unfoldable: list[str] = []
                    # the files the undo will RE-ADD (pre-restore
                    # generation): a foldable append must be provably
                    # key-disjoint from them — appended rows were
                    # versioned/existence-checked against the RESTORED
                    # generation, so a same-key append folded next to
                    # the re-added pre-restore rows would leave two
                    # generations (or two equal version slots) live for
                    # that key at once (review r11). Data rows only:
                    # meta rows resolve latest-wins by Lamport op_id.
                    snap_all_paths = {
                        e["path"]
                        for t in self.TABLES
                        for e in snap.files[t]
                    }
                    pre_readds = [
                        e for e in cur.files.get("data", [])
                        if e["path"] not in snap_all_paths
                    ]
                    for lv in range(v_new + 1, snap.version + 1):
                        try:
                            lrec = self.read(lv)
                        except (FileNotFoundError, json.JSONDecodeError):
                            unfoldable.append(f"v{lv} (unreadable)")
                            continue
                        if any(lrec["removes"].get(t)
                               for t in self.TABLES):
                            unfoldable.append(
                                f"v{lv} ({lrec.get('op')!r})"
                            )
                            continue
                        if any(
                            entries_may_share_keys(ae, re)
                            for ae in lrec["adds"].get("data", [])
                            for re in pre_readds
                        ):
                            unfoldable.append(
                                f"v{lv} ({lrec.get('op')!r}, "
                                f"key-overlapping append)"
                            )
                            continue
                        for t in self.TABLES:
                            keep_paths[t] |= {
                                e["path"]
                                for e in lrec["adds"].get(t, [])
                            }
                    snap_all = {
                        e["path"]
                        for t in self.TABLES
                        for e in snap.files[t]
                    }
                    still_dangling = [p for p in gone if p in snap_all]
                    if not still_dangling:
                        # concurrent rewrites superseded every dangling
                        # reference — the table is consistent as-is and
                        # an undo would only revert THEIR acknowledged
                        # writes. Report the partial loss, change nothing.
                        raise ValueError(
                            f"restore to version {version} raced a "
                            f"vacuum: {len(gone)} re-referenced file(s) "
                            f"were deleted after the commit (e.g. "
                            f"{gone[0]!r}), but concurrent commit(s) "
                            f"have since rewritten every dangling "
                            f"reference — the table is consistent and "
                            f"was left untouched (part of the restored "
                            f"generation was lost to the vacuum)"
                        )
                    if unfoldable:
                        raise RuntimeError(
                            f"restore to version {version} raced a "
                            f"vacuum ({len(gone)} re-referenced file(s) "
                            f"were deleted, e.g. {gone[0]!r}) AND "
                            f"concurrent commit(s) "
                            f"{', '.join(unfoldable)} rewrote the table "
                            f"(or appended key-overlapping rows) after "
                            f"the broken restore — undoing it would "
                            f"silently revert their durably-acknowledged "
                            f"writes, or leave two generations of a key "
                            f"live at once. The table "
                            f"currently references deleted files; reads "
                            f"of those paths will fail. Repair: re-run "
                            f"restore_commit({cur.version}) once the "
                            f"concurrent writer quiesces (this rolls "
                            f"back to the pre-restore file set, "
                            f"INCLUDING those writers' changes), or "
                            f"re-run this restore."
                        )
                    u_adds: dict[str, list] = {}
                    u_removes: dict[str, list] = {}
                    for t in self.TABLES:
                        snap_paths = {e["path"] for e in snap.files[t]}
                        cur_paths = {e["path"] for e in cur.files[t]}
                        u_adds[t] = [e for e in cur.files[t]
                                     if e["path"] not in snap_paths]
                        u_removes[t] = [e for e in snap.files[t]
                                        if e["path"] not in cur_paths
                                        and e["path"] not in keep_paths[t]]
                    self.commit(
                        snap.version,
                        f"{op}-undo({version})",
                        self.next_op_id(snap),
                        u_adds, u_removes, touched="all",
                    )
                    undo_err = None
                    break
                except ConcurrentWriteError as exc:  # incl. StaleBaseError
                    undo_err = exc
            if undo_err is not None:
                raise RuntimeError(
                    f"restore to version {version} raced a vacuum "
                    f"({len(gone)} re-referenced file(s) were deleted, "
                    f"e.g. {gone[0]!r}) AND the compensating undo commit "
                    f"failed after 5 attempts — the table now durably "
                    f"references deleted files and reads of those paths "
                    f"will fail. Repair: re-run restore_commit("
                    f"{cur.version}) to roll back to the pre-restore "
                    f"file set (or re-run this restore once the "
                    f"concurrent writer quiesces)."
                ) from undo_err
            raise ValueError(
                f"restore to version {version} raced a vacuum: "
                f"{len(gone)} re-referenced file(s) were deleted after "
                f"the commit (e.g. {gone[0]!r}); the restore was undone"
            )
        return v_new

    def history_rows(self) -> list[dict]:
        """Operability surface (Delta's ``DESCRIBE HISTORY`` analogue):
        one dict per replayable commit, NEWEST first — version, op,
        op_id, commit wall-clock (the record file's mtime), files/rows
        added and removed per table, and the touched set. Commits below
        the pruned horizon are summarized by the checkpoint and no
        longer listed (log-retention semantics, matching
        ``snapshot(as_of=…)``'s reach). Metadata-sized by construction:
        prune_log bounds the replayable record count."""
        out = []
        for v in self.versions():
            try:
                rec = self.read(v)
                mtime = os.path.getmtime(self._rec_path(v))
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # pruned under us — it is summarized history
            row = {
                "version": v,
                "op": rec.get("op"),
                "op_id": int(rec.get("op_id") or 0),
                "committed_at": mtime,
                "touched": rec.get("touched"),
                "txn_app": rec.get("txn_app"),
                "txn_version": rec.get("txn_version"),
            }
            for t in self.TABLES:
                adds = rec["adds"].get(t, [])
                rms = rec["removes"].get(t, [])
                row[f"{t}_files_added"] = len(adds)
                row[f"{t}_files_removed"] = len(rms)
                row[f"{t}_rows_added"] = sum(int(e.get("rows") or 0) for e in adds)
                row[f"{t}_rows_removed"] = sum(int(e.get("rows") or 0) for e in rms)
            out.append(row)
        out.reverse()
        return out

    # -- orphan tracking (manifest-driven vacuum) ----------------------
    def _orphans_dir(self) -> str:
        return os.path.join(self.dir, "_orphans")

    def note_orphans(self, rel_paths) -> None:
        """Record store-relative paths that just became unreferenced —
        removed by a commit, or staged by an attempt that failed — as a
        small sidecar under ``_txlog/_orphans/``. ``vacuum_files`` then
        deletes O(orphans) instead of listing every ``files/`` staging
        dir (VERDICT r8: the directory walk is O(all staged dirs) at
        millions of files). The sidecar stamps NOW as the moment the
        paths became dead, which is when their retention countdown
        should start (a file's own mtime is its STAGING time — gating on
        it would reclaim a freshly-superseded file a time-travel reader
        still holds). Liveness is re-checked against the current
        snapshot at sweep time, so a noted path that is (or became) live
        again — a retried commit re-landing the same files, or a
        ``restore`` re-referencing an old generation — is never
        deleted."""
        import time as _time

        paths = list(rel_paths)
        if not paths:
            return
        odir = self._orphans_dir()
        os.makedirs(odir, exist_ok=True)
        payload = json.dumps(
            {"ts": _time.time(), "paths": paths}, separators=(",", ":")
        )
        # ATOMIC publish (tmp under a dot-name the sweep ignores, then
        # rename): a sweep must never observe a half-written sidecar
        # under its final name — it would mark it consumed without its
        # paths entering the newest-note aggregate, and an EXPIRED older
        # note for the same path could then delete it inside this note's
        # retention window (exactly the bypass the aggregate prevents).
        name = f"{uuid.uuid4().hex}.json"
        tmp = os.path.join(odir, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(odir, name))

    def vacuum_files(
        self, retention_seconds: float = 3600.0, deep: bool = False
    ) -> int:
        """Generic file GC shared by every manifest-backed store: delete
        files the CURRENT snapshot no longer references and whose
        retention window has passed, plus stale log temp artifacts and
        checkpoint-summarized commit records.

        The default sweep is MANIFEST-DRIVEN: it reads only the orphan
        sidecars ``note_orphans`` wrote at commit/failure time —
        O(orphans), independent of how many staging dirs exist (at 10⁶
        commits the old full walk listed 10⁶ ``files/<uuid>/`` dirs per
        vacuum). The age gate uses each sidecar's stamp: the moment the
        paths actually became unreferenced. ``deep=True`` additionally
        walks every staging dir — the only way to find files orphaned by
        a writer killed before any sidecar could be written (kill -9
        mid-staging); run it occasionally, not per-vacuum. A completed
        deep sweep (re)stamps the orphan-tracking marker."""
        import time as _time

        cutoff = _time.time() - max(0.0, retention_seconds)
        live = {
            e["path"] for t in self.TABLES for e in self.snapshot().files[t]
        }
        live_dirs = {os.path.dirname(p) for p in live}
        n = 0
        odir = self._orphans_dir()
        os.makedirs(odir, exist_ok=True)
        import shutil as _shutil

        touched_dirs: set[str] = set()
        # Pass 1 — read every sidecar and aggregate path → NEWEST note.
        # A path can be mentioned by several sidecars: noted dead at t0
        # by a failed commit attempt, re-landed LIVE by the retry, then
        # removed again at t2 (fresh sidecar). Gating each sidecar in
        # isolation would let the expired t0 note delete the path the
        # moment it is dead again — immediately after t2, bypassing
        # t2's retention window and crashing concurrent readers /
        # time-travel snapshots that still reference it (ADVICE r9
        # medium). Only a path's newest note drives its countdown.
        sidecars: list[tuple[str, float, list[str]]] = []
        newest_note: dict[str, float] = {}
        seen_notes: set[str] = set()

        def _ingest_notes(reclaim_broken: bool) -> int:
            """Read sidecars not seen yet into ``newest_note`` (and the
            process list); returns reclaimed broken-sidecar count."""
            nonlocal sidecars
            reclaimed = 0
            try:
                names = sorted(os.listdir(odir))
            except (FileNotFoundError, OSError):
                return 0
            for f in names:
                if f.startswith("."):
                    # the marker — or a tmp from a note_orphans
                    # crashed between write and rename: reclaim old tmps
                    # (their paths fall to a deep sweep)
                    if reclaim_broken and f.endswith(".tmp"):
                        try:
                            p = os.path.join(odir, f)
                            if os.path.getmtime(p) <= cutoff:
                                os.remove(p)
                                reclaimed += 1
                        except (FileNotFoundError, OSError):
                            pass
                    continue
                if f in seen_notes:
                    continue  # already ingested
                p = os.path.join(odir, f)
                try:
                    with open(p) as fh:
                        rec = json.load(fh)
                except (FileNotFoundError, json.JSONDecodeError, OSError):
                    # unreadable sidecar (publishes are atomic, so this
                    # is corruption or a transient I/O error): reclaim it
                    # once old enough — its paths fall to a deep sweep.
                    # NOT marked seen: a transient error must not stop a
                    # later pass from reading a note that would restart a
                    # path's retention countdown.
                    if reclaim_broken:
                        try:
                            if os.path.getmtime(p) <= cutoff:
                                os.remove(p)
                                reclaimed += 1
                        except (FileNotFoundError, OSError):
                            pass
                    continue
                seen_notes.add(f)
                ts = float(rec.get("ts", 0.0))
                paths = [str(x) for x in rec.get("paths", [])]
                sidecars.append((p, ts, paths))
                for rel in paths:
                    if ts > newest_note.get(rel, float("-inf")):
                        newest_note[rel] = ts
            return reclaimed

        n += _ingest_notes(reclaim_broken=True)
        # Pass 2 — process expired sidecars. A path whose newest note is
        # still inside the window is spared here; dropping this OLDER
        # sidecar loses nothing because the newer one still tracks it.
        # (`sidecars` may grow while iterating — new notes ingested
        # below land at the tail and are re-gated like any other.)
        i = -1
        while i + 1 < len(sidecars):
            i += 1
            p, ts, paths = sidecars[i]
            if ts > cutoff:
                continue  # became dead too recently: retention spares it
            # a commit landing DURING this sweep may have re-killed one
            # of our paths and noted it afresh — merge notes written
            # since pass 1 so the new countdown is honored (one listdir
            # per expired sidecar, same granularity as the live refresh)
            _ingest_notes(reclaim_broken=False)
            # re-validate liveness against the CURRENT snapshot per
            # sidecar (one listdir via the signature cache when the
            # log is quiet): narrows the window in which a restore()
            # landing mid-vacuum could re-reference a path this
            # sweep is about to delete
            live = {
                e["path"] for t in self.TABLES
                for e in self.snapshot().files[t]
            }
            for rel in paths:
                if newest_note.get(rel, ts) > cutoff:
                    continue  # re-noted dead more recently: countdown restarted
                if rel in live:
                    continue  # re-landed or restored since: live again
                abs_p = os.path.join(self.root, rel)
                try:
                    os.remove(abs_p)
                    n += 1
                except (FileNotFoundError, OSError):
                    pass
                touched_dirs.add(os.path.dirname(abs_p))
            try:
                os.remove(p)  # fully processed (concurrent vacuums race benignly)
            except (FileNotFoundError, OSError):
                pass
        for d in touched_dirs:
            # an emptied staging dir may still hold _SUCCESS/.crc
            # markers — reclaim it whole once no parquet (and no
            # live file) remains
            if os.path.relpath(d, self.root) in live_dirs:
                continue
            try:
                if not any(x.endswith(".parquet") for x in os.listdir(d)):
                    _shutil.rmtree(d, ignore_errors=True)
                    n += 1
            except (FileNotFoundError, OSError):
                pass
        if deep:
            n += self._deep_sweep(live, live_dirs, cutoff)
            # every unreferenced file is now deleted or noted
            with open(self._marker_path(), "w"):
                pass
        for f in os.listdir(self.dir):
            if ".tmp-" in f:
                p = os.path.join(self.dir, f)
                try:
                    if os.path.getmtime(p) <= cutoff:
                        os.remove(p)
                        n += 1
                except FileNotFoundError:
                    continue
        return n + self.prune_log()

    def _deep_sweep(self, live: set, live_dirs: set, cutoff: float) -> int:
        """Full ``files/`` walk: O(all staged dirs). Catches the one
        orphan class sidecars cannot see — files staged by a writer
        killed before commit was ever attempted. Age-gates on file
        mtime (= staging time), which is exact for never-live files.
        Non-live files still INSIDE the window are noted as orphan
        sidecars instead of silently skipped: without that, the sweep
        would stamp the orphan-tracking marker while unnoted orphans
        younger than the retention window leak forever (the default
        sweep reads sidecars only). A
        freshly-STAGED file of an in-flight writer gets noted too, which
        is harmless — once its commit lands the path is live and the
        sweep spares it, dropping the sidecar."""
        files_root = os.path.join(self.root, "files")
        n = 0
        young: list[str] = []
        if not os.path.isdir(files_root):
            return 0
        for entry in os.listdir(files_root):
            d = os.path.join(files_root, entry)
            if not os.path.isdir(d):
                continue
            rel_dir = os.path.relpath(d, self.root)
            has_live = rel_dir in live_dirs
            for f in os.listdir(d):
                abs_p = os.path.join(d, f)
                rel = os.path.relpath(abs_p, self.root)
                if rel in live:
                    continue
                try:
                    if os.path.getmtime(abs_p) > cutoff:
                        if os.path.isdir(abs_p):
                            # a young NESTED dir (e.g. a writer's
                            # _temporary/): note every file inside it —
                            # skipping it silently while the marker
                            # gets stamped would leak the whole subtree
                            # forever
                            for dp, _dn, fns in os.walk(abs_p):
                                for fn in fns:
                                    young.append(os.path.relpath(
                                        os.path.join(dp, fn), self.root))
                        else:
                            young.append(rel)
                        continue
                    if os.path.isdir(abs_p):
                        if not has_live:
                            import shutil as _shutil

                            _shutil.rmtree(abs_p, ignore_errors=True)
                            n += 1
                        continue
                    if f.endswith(".parquet") or not has_live:
                        os.remove(abs_p)
                        n += 1
                except (FileNotFoundError, OSError):
                    continue
            try:
                if not has_live and not os.listdir(d):
                    os.rmdir(d)
                    n += 1
            except (FileNotFoundError, OSError):
                pass
        if young:
            try:
                self.note_orphans(young)
            except OSError:
                pass
        return n

    def prune_log(self) -> int:
        """Delete commit records (and older checkpoints) at or below the
        latest checkpoint — they are fully summarized by it. Gives up
        snapshot-as-of below the pruned horizon (Delta's log-retention
        semantics); the current snapshot and all future commits are
        unaffected. Returns the number of files deleted."""
        # authoritative scan: pruning against a lagging pointer could
        # leave records the newest checkpoint already summarizes
        cp = self._latest_checkpoint(fresh=True)
        if cp is None:
            return 0
        n = 0
        for v in self.versions():
            if v <= cp:
                os.remove(self._rec_path(v))
                n += 1
        import time as _time

        for f in os.listdir(self.dir):
            v = self._checkpoint_name_version(f)
            if v is not None and v < cp:
                p = os.path.join(self.dir, f)
                try:
                    # retain YOUNG superseded checkpoints: a racing
                    # writer's post-link provenance walk may still
                    # need this chain link (ADVICE r8 — deleting it
                    # mid-walk reads as "not observed" and backs out
                    # a durable commit); age-bounded, so retention
                    # stays O(checkpoint rate × window)
                    if (
                        _time.time() - os.path.getmtime(p)
                        < self.CHECKPOINT_RETENTION_SECONDS
                    ):
                        continue
                    os.remove(p)
                    n += 1
                except (FileNotFoundError, OSError):
                    continue
        self._snap_sig = None
        return n

    # -- staging -------------------------------------------------------
    def new_staging_dir(self) -> tuple[str, str]:
        """(absolute, store-relative) path of a fresh immutable file dir."""
        rel = os.path.join("files", uuid.uuid4().hex)
        return os.path.join(self.root, rel), rel

    def collect_entries(
        self,
        abs_dir: str,
        rel_dir: str,
        key_cols: tuple[str, ...] = (),
        chunk_col: str = "chunk_index",
        max_col: str | None = None,
    ) -> list[FileEntry]:
        out = []
        for f in sorted(os.listdir(abs_dir)):
            if f.endswith(".parquet"):
                out.append(
                    file_entry(
                        os.path.join(abs_dir, f),
                        os.path.join(rel_dir, f),
                        chunk_col=chunk_col,
                        key_cols=key_cols,
                        max_col=max_col,
                    )
                )
        return out
