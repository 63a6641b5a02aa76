"""One-time migrations of directories written by older on-disk formats.

Opening such a directory is refused with a message naming the call that
moves it over; no read path for an old format is kept.

The plain layout kept hive-partitioned Parquet (``data/chunk_index=…``,
``meta/`` for ChunkStore; root files or ``client_id=…`` directories for
AttrStore and KeyValueStore), overwritten in place, with no transaction
log. Its files do not contain the partition columns, so their footers
cannot feed the manifest's chunk stats. :func:`convert_to_acid` therefore
reads them back with Spark (hive discovery restores ``chunk_index`` and
``client_id``) and writes them into a NEW store through that store's own
staging seam, as ONE commit with op ``"convert"``. The source directory
is never modified; a crash leaves orphan files only in the destination,
which ``vacuum(deep=True)`` reclaims.

Older formats of the transaction-log layout (JSON checkpoints, logs
without orphan sidecars, older index configs) are upgraded IN PLACE by
:func:`upgrade_format`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from holcstore_spark.sources.attr_store import AttrStore
from holcstore_spark.sources.chunk_store import _META_EXTRA, ChunkStore
from holcstore_spark.sources.io_util import has_parquet
from holcstore_spark.sources.kv_store import KeyValueStore
from holcstore_spark.sources.lexical_index import _BUCKET_SCHEME
from holcstore_spark.sources.txlog import (
    FileEntry,
    Snapshot,
    TxLog,
    has_legacy_files,
)


def _type_name(dt: T.DataType) -> str:
    """Key-type name as ``ChunkStoreConfig.key_types`` spells it."""
    if isinstance(dt, T.IntegralType):
        return "int"
    if isinstance(dt, T.FractionalType):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    return dt.simpleString()


def _read(spark, path: str) -> DataFrame | None:
    return spark.read.parquet(path) if has_parquet(path) else None


def _check(src: str, df: DataFrame, columns, key_types: dict[str, str]) -> None:
    """Refuse source files whose columns differ from the destination's, or
    whose key columns have another type than ``key_types`` — converting
    must never cast a key silently (an int key read back as a string
    would no longer match its own rows)."""
    got = {f.name: _type_name(f.dataType) for f in df.schema.fields}
    if set(got) != set(columns):
        raise ValueError(
            f"{src}: columns {sorted(got)} do not match the destination "
            f"store's {sorted(columns)}"
        )
    bad = {k: (got[k], t) for k, t in key_types.items() if got[k] != t}
    if bad:
        raise ValueError(
            f"{src}: key column types differ from the destination store "
            f"(column: (source, destination)) {bad}; open the destination "
            "with matching key types"
        )


def _convert_chunk_store(src: str, dst: ChunkStore) -> None:
    keys = list(dst.config.keys)
    data = _read(dst.spark, os.path.join(src, "data"))
    meta = _read(dst.spark, os.path.join(src, "meta"))
    # undeclared keys keep the type the source data was written with
    written = next(f for f in (data, meta) if f is not None).schema
    types = {
        k: dst.config.key_types.get(k) or _type_name(written[k].dataType)
        for k in keys
    }
    if data is not None:
        _check(src, data, [*keys, "ts", "value", "chunk_index"], types)
    if meta is not None:
        _check(src, meta, [*keys, *(n for n, _ in _META_EXTRA)], types)
    # the footer probe will find exactly these types once the commit lands
    dst._key_type_probe = {
        k: t for k, t in types.items() if k not in dst.config.key_types
    }
    with dst._txn("convert") as txn:
        # the converted meta rows keep their op_ids: stamp the commit
        # above every one of them, so later writes outrank them all
        if meta is not None:
            top = meta.agg(F.max("op_id")).first()[0]
            if top is not None:
                txn.op_id = max(txn.op_id, int(top) + 1)
            dst._stage_into_txn(meta, "meta")
        if data is not None:
            dst._stage_into_txn(data, "data")
        txn.touch("all")


def _commit_root_store(dst, frame: DataFrame) -> None:
    """Stage ``frame`` through an AttrStore / KeyValueStore staging seam
    and publish it as one ``convert`` commit over the empty base."""
    snap = dst._pin()
    adds = dst._stage(frame)
    dst._txlog.commit(
        snap.version, "convert", dst._txlog.next_op_id(snap),
        {"data": adds}, {}, touched="all",
    )


def convert_to_acid(src: str, dst: ChunkStore | KeyValueStore | AttrStore) -> None:
    """Copy the plain-layout store at ``src`` into ``dst``, a freshly
    opened, EMPTY store of the same class, as one ``convert`` commit.

    ChunkStore meta rows — tombstones included — are copied verbatim
    with their ``op_id`` and ``updated_at``, so sync watermarks and
    ``updates(since)`` carry over; data rows are copied as they are on
    disk (tombstoned rows stay physical until ``compact()``). Refuses a
    non-empty ``dst``, a ``src`` with no plain-layout files, and source
    files whose columns or key types differ from ``dst``'s."""
    if dst._txlog.snapshot().version != 0:
        raise ValueError(
            f"convert_to_acid needs an empty destination; {dst.path} has commits"
        )
    legacy_dirs = ("data", "meta") if isinstance(dst, ChunkStore) else ()
    if not has_legacy_files(src, legacy_dirs):
        raise ValueError(f"{src} holds no plain-layout store files")
    if isinstance(dst, ChunkStore):
        _convert_chunk_store(src, dst)
        return
    frame = dst.spark.read.parquet(src)
    if isinstance(dst, KeyValueStore):
        schema = dst._schema()
        key_types = {"client_id": "int", "prm": "str", **{a: "str" for a in dst.attr_cols}}
        _check(src, frame, schema.fieldNames(), key_types)
        _commit_root_store(dst, frame.select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        ))
    else:
        _check(src, frame, [*dst.keys, "ts", "value"], {})
        _commit_root_store(dst, frame.select(*dst.keys, "ts", "value"))


class _UpgradingLog(TxLog):
    """A log opened without the format check, to be upgraded."""

    def _check_format(self, names: list[str]) -> None:
        pass


def _upgrade_index_config(path: str) -> None:
    """Fill in place the keys an older index config lacks; the files on
    disk already match these defaults (``n_buckets`` came with
    ``md5h8``; no PQ keys meant no PQ and training on the full first
    batch)."""
    target = os.path.join(path, "_index_config.json")
    if not os.path.exists(target):
        return
    with open(target) as f:
        cfg = json.load(f)
    if "sep" in cfg and "n_buckets" not in cfg:
        # re-bucketing would be a write path only this format exercises
        raise ValueError(
            f"{path} holds a lexical or gram index built before n_buckets "
            "existed, with first-hex-digit buckets no reader handles. "
            "Rebuild it: create a new index and ingest the corpus again"
        )
    new = dict(cfg)
    if "n_buckets" in cfg:
        new.setdefault("bucket_scheme", _BUCKET_SCHEME)
    if "n_lists" in cfg:  # VectorIndex
        if isinstance(cfg.get("attr_cols"), list):
            new["attr_cols"] = {c: "string" for c in cfg["attr_cols"]}
        new = {"pq_m": None, "pq_centroids": 16, "train_sample": 0, **new}
    if new != cfg:
        with open(f"{target}.tmp", "w") as f:
            f.write(json.dumps(new, indent=1, sort_keys=True))
        os.replace(f"{target}.tmp", target)


def _upgrade_txlog(path: str) -> None:
    log = _UpgradingLog(path)
    names = os.listdir(log.dir)
    json_cps = {
        int(n[len("_checkpoint."):-len(".json")]): n
        for n in names if n.startswith("_checkpoint.") and n.endswith(".json")
    }
    if not json_cps and os.path.exists(log._marker_path()):
        return
    if json_cps:
        v = max(json_cps)
        if v > (log._latest_checkpoint(listing=names) or -1):
            with open(os.path.join(log.dir, json_cps[v])) as f:
                cp = json.load(f)
            files = {t: [FileEntry(e) for e in cp["files"].get(t, [])]
                     for t in TxLog.TABLES}
            log._write_checkpoint(v, Snapshot(
                v, files, int(cp.get("max_op_id", 0)),
                base_checkpoint=cp.get("base"), replayed=cp.get("replayed"),
                app_versions=cp.get("txns"),
            ))
        for n in json_cps.values():
            os.remove(os.path.join(log.dir, n))
        log._write_checkpoint_pointer(log._latest_checkpoint(fresh=True))
    log.vacuum_files(deep=True)  # stamps the marker


def upgrade_format(path: str) -> None:
    """Move the store or index at ``path`` from an older on-disk format
    to the current one, in place — the call every refused open names.
    Run it offline: stop every other writer first.

    - the latest JSON checkpoint is rewritten as parquet (with empty
      replay provenance when it has none: a commit it summarized then
      reads as not observed, the safe direction), the JSON checkpoints
      are deleted and ``_last_checkpoint`` is repointed;
    - one deep ``files/`` sweep (one-hour retention: younger unreferenced
      files are noted for the default vacuum) stamps the orphan-tracking
      marker;
    - index configs get the keys their format lacked.

    A lexical or gram index built before ``n_buckets`` existed is
    refused with a pointer to a rebuild. On a current directory it
    changes nothing."""
    if not os.path.isdir(os.path.join(path, "_txlog")):
        raise ValueError(
            f"{path} holds no transaction log; a store of the plain "
            "layout moves over with convert_to_acid(src, dst)"
        )
    _upgrade_index_config(path)
    _upgrade_txlog(path)
