"""Managed MinHash-band index for exactly-once incremental dedup.

:func:`holcstore_spark.operators.dedup.dedup_incremental` documents the
production ingest loop (hash the batch, join a persisted bands table,
append the kept bands). Hand-rolling that sink with bare
``write.mode("append")`` has a crash window: a foreachBatch retry after
checkpoint loss re-appends the batch's bands, and a duplicated band row
silently strengthens drop pressure on every future batch. ``BandIndex``
closes it the same way the stores' bulk writes do — the appends go
through the shared file-manifest transaction log
(:class:`holcstore_spark.sources.txlog.TxLog`) with Delta-style
``(txn_app, txn_version)`` watermarks, so a replayed batch commits
nothing and recomputes the identical kept set (reference parity: the
same idempotent-resume contract the sync client keeps across crashed
pulls, /root/reference/hostore/utils/ts_sync.py:204-261).

Index schema: ``(id_col, band_id int, band_key string)`` —
:func:`minhash_bands` output. Files are staged one-per-band (band_id
plays the chunk role in the manifest), which gives the manifest tight
per-file band stats and makes :meth:`optimize` a per-band small-file
binpack, O(fragmentation) like the stores' optimize, never O(index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from holcstore_spark.sources.index_base import ForgetMixin


class BandIndex(ForgetMixin):
    """A transactional LSH band table + the exactly-once ingest loop.

    ``ingest(batch, txn_app=, txn_version=)`` is the one-call version of
    the dedup_incremental streaming recipe::

        idx = BandIndex(spark, path)

        def sink(batch, batch_id):
            kept = idx.ingest(batch, txn_app="my_stream",
                              txn_version=batch_id)
            kept.write.mode("append").parquet(out_path)

    Crash anywhere and the replayed micro-batch returns the same kept
    rows while the index append lands exactly once. The recomputation
    is idempotent because the dedup runs with ``exclude_self=True``: a
    doc's own (already committed) bands never count as a history hit,
    and every cross-doc relation the first application saw is
    reproduced by the surviving kept bands.
    """

    #: MinHash parameters are FROZEN at index creation: a silent param
    #: change would stop matching history entirely
    _PARAMS_MISMATCH = (
        "band keys from different MinHash parameters are not comparable; "
        "create a new index (and re-hash history) to change them"
    )

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        id_type: str = "long",
        n_hashes: int = 16,
        bands: int = 4,
        shingle_k: int = 3,
    ):
        from holcstore_spark.session import ensure_engine_conf
        from holcstore_spark.sources.txlog import TxLog

        ensure_engine_conf(spark)
        if id_type not in ("long", "int", "string"):
            raise ValueError(
                f"unsupported id_type {id_type!r}; one of long/int/string"
            )
        self.spark = spark
        self.path = path
        self.params = {
            "id_col": id_col,
            "id_type": id_type,
            "n_hashes": int(n_hashes),
            "bands": int(bands),
            "shingle_k": int(shingle_k),
        }
        self._check_or_save_params()
        self._txlog = TxLog(path)

    # -- read side -------------------------------------------------------
    def _schema(self) -> T.StructType:
        return T.StructType([
            T.StructField(
                self.params["id_col"],
                getattr(T, {
                    "long": "LongType", "int": "IntegerType",
                    "string": "StringType",
                }[self.params["id_type"]])(),
            ),
            T.StructField("band_id", T.IntegerType()),
            T.StructField("band_key", T.StringType()),
        ])

    def df(self, snap=None) -> DataFrame:
        """Live band rows at a snapshot (default: latest) — rows of
        DELETED ids are masked out (see :meth:`delete`), so a forgotten
        document's bands stop suppressing new near-duplicates from the
        delete commit on."""
        snap = snap if snap is not None else self._txlog.snapshot()
        return self._mask_deleted(self._read_entries(snap.files["data"]), snap)

    # -- write side ------------------------------------------------------
    def _typed(self, bands_df: DataFrame) -> DataFrame:
        """Project to the index schema with the id CAST to the frozen
        id_type — a band frame whose id column's physical type differs
        (int vs the declared long, say) would otherwise commit parquet
        files that only fail later, at read time, when df() forces
        _schema() over them (ADVICE r12)."""
        p = self.params
        return bands_df.select(
            F.col(p["id_col"]).cast(p["id_type"]).alias(p["id_col"]),
            F.col("band_id").cast("int").alias("band_id"),
            F.col("band_key").cast("string").alias("band_key"),
        )

    def _stage(self, bands_df: DataFrame) -> list:
        """One file per band_id, band_key-sorted — the shared
        concurrent-staging discipline
        (:meth:`~holcstore_spark.sources.index_base.ForgetMixin._stage_by_chunk`)."""

        def check(band_ids):
            if any(b is None for b in band_ids):
                raise ValueError(
                    "band rows with NULL band_id cannot be staged — the "
                    "band id is the index's manifest chunk axis"
                )

        return self._stage_by_chunk(
            bands_df, "band_id",
            sort_cols=("band_key",), key_cols=("band_key",),
            chunk_check=check,
        )

    def _validate_band_shape(self, bands_df: DataFrame) -> None:
        """Structural guard on pre-computed band rows: band keys hashed
        with different ``(n_hashes, bands)`` are incomparable — the
        exact hazard the frozen params exist to prevent would otherwise
        re-enter through append_bands. band_id must lie in [0, bands)
        and band_key must be n_hashes/bands 8-hex segments. Checked on
        a bounded sample (one small job); ``shingle_k`` is not
        detectable from rows and stays on the honor system."""
        p = self.params
        rpb = p["n_hashes"] // p["bands"]
        pattern = "^[0-9a-f]{8}" + r"(\|[0-9a-f]{8})" + f"{{{rpb - 1}}}$"
        bad = (
            bands_df.limit(1000)
            .filter(
                # NULLs must be caught explicitly: (NULL < 0) is NULL
                # under three-valued logic and filter() would drop it
                F.col("band_id").isNull()
                | F.col("band_key").isNull()
                | (F.col("band_id") < 0)
                | (F.col("band_id") >= p["bands"])
                | ~F.col("band_key").rlike(pattern)
            )
            .take(1)
        )
        if bad:
            r = bad[0]
            raise ValueError(
                f"band row (band_id={r['band_id']}, "
                f"band_key={r['band_key']!r}) does not match this "
                f"index's frozen MinHash params {p} — bands hashed with "
                "different (n_hashes, bands) are not comparable; use "
                "minhash_bands with the index's parameters"
            )

    def append_bands(
        self, bands_df: DataFrame, txn_app=None, txn_version=None,
    ) -> bool:
        """Append pre-computed band rows as ONE idempotent commit.
        Returns False when ``(txn_app, txn_version)`` was already
        applied (nothing staged, nothing committed). Rows are
        shape-checked against the frozen MinHash params (sampled)."""
        from holcstore_spark.sources.txlog import TxLog, resolve_txn

        txn_id = resolve_txn(txn_app, txn_version)
        snap = self._txlog.snapshot()
        if snap.replayed(txn_id):
            return False
        self._validate_band_shape(bands_df)
        adds = self._stage(self._typed(bands_df))
        committed = self._txlog.commit_idempotent(
            snap.version, "append", TxLog.next_op_id(snap),
            {"data": adds}, {},
            touched=None,  # pure append: commutes with everything
            txn=txn_id,
        )
        return committed is not None

    def ingest(
        self,
        new_docs: DataFrame,
        text: str = "text",
        txn_app=None,
        txn_version=None,
        max_bucket: int | None = None,
    ) -> DataFrame:
        """Dedup ``new_docs`` against the index and append the KEPT
        docs' bands exactly once; returns the kept rows.

        The kept set is computed with ``exclude_self=True`` against the
        snapshot the append commits over, so a replayed batch (same
        ``txn_app``/``txn_version`` after checkpoint loss) sees its own
        first-application bands in the index, skips the commit via the
        watermark, and STILL returns the identical kept rows — the
        exactly-once contract for the whole foreachBatch body.

        Concurrency: batches are expected to arrive SEQUENTIALLY per
        stream (Structured Streaming's foreachBatch guarantee). Two
        ingests racing from different writers both commit safely (pure
        appends commute), but each computes its kept set against a
        snapshot that predates the other — cross-batch near-dups can
        then both survive, the same blind-append semantics the stores
        document for unidentified concurrent inserts. A
        :meth:`~holcstore_spark.sources.index_base.ForgetMixin.delete`
        landing between a batch's first application and its crash
        replay similarly changes what the replayed recomputation sees
        (the commit is still skipped); sequence deletes through the
        same stream to avoid it.
        """
        from holcstore_spark.operators.dedup import (
            dedup_incremental,
            minhash_bands,
        )
        from holcstore_spark.sources.txlog import TxLog, resolve_txn

        p = self.params
        txn_id = resolve_txn(txn_app, txn_version)
        snap = self._txlog.snapshot()
        kept = dedup_incremental(
            new_docs, self.df(snap), text=text, id_col=p["id_col"],
            n_hashes=p["n_hashes"], bands=p["bands"],
            shingle_k=p["shingle_k"], max_bucket=max_bucket,
            exclude_self=True,
        )
        if snap.replayed(txn_id):
            return kept  # replay: bands already live, commit skipped
        from holcstore_spark.sources.io_util import safe_local_checkpoint

        # materialize once: the kept set is both returned to the caller
        # and re-hashed for the index append — without this the dedup
        # (and the batch's minhash UDF) would run twice
        kept = safe_local_checkpoint(kept)
        adds = self._stage(self._typed(minhash_bands(
            kept, text, p["id_col"], p["n_hashes"], p["bands"],
            p["shingle_k"],
        )))
        self._txlog.commit_idempotent(
            snap.version, "ingest", TxLog.next_op_id(snap),
            {"data": adds}, {},
            touched=None,
            txn=txn_id,
        )
        return kept

    # -- maintenance -----------------------------------------------------
    def optimize(self, min_files: int = 4, max_bands: int = 64) -> int:
        """Per-band small-file binpack (the stores' ``optimize``
        contract on the index): every ingest stages one file per band,
        so a long-lived index accretes O(ingests × bands) small files;
        this repacks the bands whose live file count reached
        ``min_files`` into one file each (dropping tombstone-masked
        rows — ``optimize(min_files=1)`` is the full erasure pass).
        The exact row-count proof, the compacting-flag rule and the
        O(fragmentation) cost bound live in the shared
        :meth:`~holcstore_spark.sources.index_base.ForgetMixin._optimize_by_chunk`.
        Returns the number of bands repacked."""
        return self._optimize_by_chunk(
            self._chunk_write("band_id", key_cols=("band_key",),
                              sort_cols=("band_id", "band_key")),
            min_files=min_files, max_chunks=max_bands,
        )
