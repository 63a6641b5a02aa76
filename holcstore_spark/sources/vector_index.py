"""Managed, persisted IVF index for embedding search.

:func:`holcstore_spark.operators.similarity.ivf_topk` trains and assigns
per call — right for exploration, wrong at 100 TB, where the inverted
file is BUILT ONCE (train, assign, store vectors clustered by list) and
every query batch only probes its ``n_probe`` closest lists.
``VectorIndex`` is that production shape, the ANN twin of
:class:`~holcstore_spark.sources.band_index.BandIndex`:

- the trained centroids persist as a versioned
  :class:`~holcstore_spark.sources.centroid_store.CentroidStore` under
  the index path, so every append and every search shares the SAME
  space partition (re-training would silently shuffle which vectors are
  ever compared);
- vector rows ``(id, list, vec_q [, attr cols])`` live in immutable
  parquet files managed by the shared transaction log, staged one file
  per list — ``list`` plays the chunk role, so the manifest's per-file
  list range makes a probe read open ONLY the probed lists' files
  (verified via ``inputFiles()`` in tests): at 100 TB a 2-of-64-list
  probe touches ~3% of the index bytes, the IVF read path;
- appends are idempotent via Delta-style ``(txn_app, txn_version)``
  watermarks — a crashed ingest replay commits nothing;
- ``optimize()`` binpacks each list's accumulated small files
  (row-preserving compacting commit), ``vacuum()`` reclaims.

``attr_cols`` (frozen at creation) stores attribute columns alongside
the vectors so FILTERED search (``topk(filters=)``) pushes its
predicate into the pruned index scan itself — filters and list pruning
compose in one read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from holcstore_spark.sources.index_base import ForgetMixin


class VectorIndex(ForgetMixin):
    """Build once, append incrementally, probe-search many times.

    Typical lifecycle::

        vi = VectorIndex(spark, path, n_lists=64, dim=64)
        vi.append(day0, txn_app="ingest", txn_version=0)   # trains v1
        vi.append(day1, txn_app="ingest", txn_version=1)   # reuses v1
        hits = vi.topk(queries, k=10, n_probe=4,
                       filters={"lang": "en"})
    """

    _PARAMS_MISMATCH = (
        "the space partition and stored columns are frozen; create a new "
        "index to change them"
    )

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_lists: int = 16,
        iters: int = 2,
        dim: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        id_type: str = "long",
        attr_cols: "tuple[str, ...] | dict[str, str]" = (),
        pq_m: "int | None" = None,
        pq_centroids: int = 16,
        train_sample: int = 0,
    ):
        from holcstore_spark.session import ensure_engine_conf
        from holcstore_spark.sources.centroid_store import CentroidStore
        from holcstore_spark.sources.txlog import TxLog

        ensure_engine_conf(spark)
        if id_type not in ("long", "int", "string"):
            raise ValueError(
                f"unsupported id_type {id_type!r}; one of long/int/string"
            )
        if pq_m is not None:
            if int(dim) % int(pq_m) != 0:
                raise ValueError(
                    f"dim={dim} must be divisible by pq_m={pq_m}"
                )
            if not 1 <= int(pq_centroids) <= 256:
                raise ValueError(
                    "pq_centroids must be in [1, 256] (codes are meant "
                    "to fit one byte per subspace)"
                )
        # attr columns carry a DECLARED type (dict col -> type; a bare
        # tuple means all-string): storing e.g. an int label as string
        # would make numeric filters run through an implicit cast that
        # BLOCKS parquet pushdown — the whole point of storing attrs in
        # the index
        if not isinstance(train_sample, int) or isinstance(train_sample, bool) \
                or train_sample < 0:
            raise ValueError(
                f"train_sample must be an int >= 0 (0 = train on the "
                f"full first batch), got {train_sample!r}"
            )
        attrs = (dict(attr_cols) if isinstance(attr_cols, dict)
                 else {c: "string" for c in attr_cols})
        for c, t in attrs.items():
            if t not in ("string", "int", "long", "double"):
                raise ValueError(
                    f"unsupported attr type {t!r} for {c!r}; one of "
                    "string/int/long/double"
                )
        self.spark = spark
        self.path = path
        self.params = {
            "n_lists": int(n_lists),
            "iters": int(iters),
            "dim": int(dim),
            "id_col": id_col,
            "vec_col": vec_col,
            "id_type": id_type,
            "attr_cols": attrs,
            "pq_m": None if pq_m is None else int(pq_m),
            "pq_centroids": int(pq_centroids),
            "train_sample": int(train_sample),
        }
        self._check_or_save_params()
        self._txlog = TxLog(path)
        self._centroids = CentroidStore(os.path.join(path, "_centroids"))
        # per-subspace PQ codebook stores (empty for non-PQ indexes);
        # codebooks are FROZEN for the index's life — the stored codes
        # were encoded against them, so re-training the books would
        # require re-encoding every row (a rebuild, not a retrain)
        self._pq_stores = [
            CentroidStore(os.path.join(path, "_pq", f"sub{j}"))
            for j in range(self.params["pq_m"] or 0)
        ]

    def _space_params(self) -> dict:
        return {"n_clusters": self.params["n_lists"],
                "iters": self.params["iters"],
                "dim": self.params["dim"]}

    def _pq_space_params(self) -> dict:
        p = self.params
        return {"n_clusters": p["pq_centroids"], "iters": p["iters"],
                "dim": p["dim"] // p["pq_m"]}

    def pq_books(self) -> list[list[list[int]]]:
        """The index's m trained PQ codebooks — pinned to version 1
        forever (the stored codes were encoded against them; see
        __init__). Raises before the first append."""
        if not self.params["pq_m"]:
            raise ValueError(
                f"vector index at {self.path} was created without "
                "pq_m — not a PQ index"
            )
        books = []
        for st in self._pq_stores:
            try:
                b, _ = st.require(self._pq_space_params(), version=1)
            except FileNotFoundError:
                raise ValueError(
                    f"vector index at {self.path} has no trained PQ "
                    "codebooks yet — append() a first batch to train "
                    "(and persist) them"
                ) from None
            books.append(b)
        return books

    def active_space_version(self, snap=None) -> int:
        """The centroid version that assigned the CURRENT live files —
        carried by the files themselves (each manifest entry is stamped
        with the ``space_v`` it was assigned under; pre-retrain entries
        default to 1), so any snapshot is either wholly one space or a
        detectably MIXED state. Mixed happens only when an append
        interleaves a :meth:`retrain` (its rows were assigned under the
        old space but landed after the swap): reads REFUSE it loudly —
        probing version-A centroids against version-B lists would
        silently search the wrong files — and :meth:`retrain` is the
        remediation (it re-derives every assignment from the stored
        vectors, ignoring ``list``). An index emptied of every live
        file reverts to version 1 (the bootstrap pin that keeps a
        concurrent-first-append race from forking the space: the racing
        loser's extra saved version is a harmless orphan)."""
        snap = snap if snap is not None else self._txlog.snapshot()
        vs = {int(e.get("space_v", 1)) for e in snap.files["data"]}
        if len(vs) > 1:
            raise ValueError(
                f"vector index at {self.path} holds files from "
                f"multiple centroid versions {sorted(vs)} — an append "
                "interleaved a retrain; run retrain() to reassign "
                "everything under one space"
            )
        return vs.pop() if vs else 1

    def _cents_for(self, version: int) -> list[list[int]]:
        try:
            cents, _ = self._centroids.require(
                self._space_params(), version=version
            )
        except FileNotFoundError:
            raise ValueError(
                f"vector index at {self.path} has no trained centroids "
                "yet — append() a first batch to train (and persist) "
                "the space"
            ) from None
        return cents

    def centroids(self) -> list[list[int]]:
        """The centroids of the index's ACTIVE space version (see
        :meth:`active_space_version`), param-checked against the frozen
        space parameters."""
        return self._cents_for(self.active_space_version())

    # -- schema / read -----------------------------------------------------
    def _schema(self) -> T.StructType:
        id_t = {"long": T.LongType(), "int": T.IntegerType(),
                "string": T.StringType()}[self.params["id_type"]]
        type_of = {"string": T.StringType(), "int": T.IntegerType(),
                   "long": T.LongType(), "double": T.DoubleType()}
        fields = [
            T.StructField(self.params["id_col"], id_t),
            T.StructField("list", T.IntegerType()),
            T.StructField("vec_q", T.ArrayType(T.LongType())),
        ]
        if self.params["pq_m"]:
            fields.append(
                T.StructField("pq_code", T.ArrayType(T.IntegerType()))
            )
        fields += [T.StructField(c, type_of[t])
                   for c, t in self.params["attr_cols"].items()]
        return T.StructType(fields)

    def df(self, lists: "list[int] | None" = None,
           snap=None) -> DataFrame:
        """Live index rows; ``lists`` prunes the read to files whose
        manifest list range overlaps the probed lists — the files of
        un-probed lists are never opened (manifest-level skipping, the
        same machinery as the stores' chunk pruning). ``snap`` pins the
        read to a caller-held snapshot — search MUST pass the snapshot
        its probe lists were derived from, or a retrain completing
        mid-search would silently match old-space probe ids against
        new-space-clustered files (review r13)."""
        snap = snap if snap is not None else self._txlog.snapshot()
        self.active_space_version(snap)  # refuse mixed-version reads
        want = None if lists is None else {int(x) for x in lists}
        out = self._read_entries(snap.entries_may_hold("data", chunks=want))
        if lists is not None:
            out = out.filter(F.col("list").isin(sorted(want)))
        # DELETED ids are masked out (see delete()): a forgotten vector
        # is never scored as a neighbour from the delete commit on
        return self._mask_deleted(out, snap)

    # -- write -------------------------------------------------------------
    def _training_frame(self, df: DataFrame) -> DataFrame:
        """The k-means training input under the frozen ``train_sample``
        knob: 0 trains on the FULL frame (bit-parity with the
        in-memory operators — the oracle contract); N > 0 trains on a
        DETERMINISTIC content-hash sample of ~N rows — the standard
        IVF practice at corpus scale: training cost stops scaling with
        the corpus while assignment still covers every row. Sampling
        trades centroid optimality, never correctness — any partition
        is a valid space; recall comes from n_probe.

        The sample is a zero-shuffle hash-threshold FILTER (one count
        to size the cut, then ``md5-hex8 < cut`` — stable under
        re-partitioning and re-runs), NOT an ``orderBy(hash).limit``:
        a TakeOrdered at k=65536 keeps a 65k-row heap per partition
        and merges in ONE task, re-executed by every training pass —
        measured pathological (the r16 first cut hung a 2M ingest)."""
        ts = self.params["train_sample"]
        if not ts:
            return df
        n = df.count()  # bounded driver action: one scalar
        if n <= ts:
            return df
        from holcstore_spark.operators.sampling import (
            _frac_to_hex, hash_hex8,
        )

        p = self.params
        cut = _frac_to_hex(ts / n)
        return df.filter(
            hash_hex8([p["id_col"]], "ivftrain") < F.lit(cut)
        )

    def _assigned(self, df: DataFrame, cents: list) -> DataFrame:
        from holcstore_spark.operators.similarity import (
            _assign_to_centroid,
            quantized,
        )

        p = self.params
        # the id gets the same declared-type treatment as attr_cols: an
        # id column whose physical type differs from the frozen id_type
        # would commit parquet files that only fail at READ time, when
        # _schema() is forced over them (ADVICE r12)
        cols = [F.col(p["id_col"]).cast(p["id_type"]).alias(p["id_col"]),
                quantized(p["vec_col"]).alias("vec_q")]
        cols += [F.col(c).cast(t).alias(c)
                 for c, t in p["attr_cols"].items()]
        d = df.select(*cols)
        if p["pq_m"]:
            # PQ codes from slices of the quantized vector — identical
            # to pq_encode's quantized(slice(raw)) because element-wise
            # quantization commutes with slicing
            books = self.pq_books()
            sub = p["dim"] // p["pq_m"]
            codes = [
                _assign_to_centroid(
                    F.slice(F.col("vec_q"), j * sub + 1, sub), books[j]
                ).cast("int")
                for j in range(p["pq_m"])
            ]
            d = d.withColumn("pq_code", F.array(*codes))
        return d.withColumn(
            "list", _assign_to_centroid(F.col("vec_q"), cents).cast("int")
        ).select(*self._schema().fieldNames())

    def _stage(self, assigned: DataFrame, space_v: int) -> list:
        """One file per list (list = manifest chunk axis): a single
        range-partitioned write can emit list-SPANNING files on skewed
        samples, which would dodge binpack forever — so materialize
        once and write per list, as BandIndex does per band. Every
        entry is stamped with the centroid version that assigned it
        (the mixed-version read guard's evidence)."""
        def check(lists):
            if any(x is None for x in lists):
                raise ValueError(
                    "rows with NULL list assignment cannot be staged — "
                    "check the vector column for nulls"
                )

        entries = self._stage_by_chunk(
            assigned, "list",
            sort_cols=(self.params["id_col"],), key_cols=(),
            chunk_check=check,
        )
        for e in entries:
            e["space_v"] = int(space_v)
        return entries

    def append(
        self, df: DataFrame, txn_app=None, txn_version=None,
    ) -> bool:
        """Assign ``df``'s vectors into the index and commit — training
        happens EXACTLY ONCE, on the first append (persisted as
        centroid version 1); later appends reuse that space. Idempotent
        under ``(txn_app, txn_version)`` replay: returns False and
        commits nothing."""
        from holcstore_spark.operators.similarity import (
            train_ivf_centroids,
        )
        from holcstore_spark.sources.txlog import TxLog, resolve_txn

        p = self.params
        txn_id = resolve_txn(txn_app, txn_version)
        snap = self._txlog.snapshot()
        if snap.replayed(txn_id):
            return False
        need_space = self._centroids.latest_version() is None
        need_pq = bool(p["pq_m"]) and \
            self._pq_stores[0].latest_version() is None
        # the training frame is shared: building it runs one bounded
        # count job under train_sample, so compute it at most ONCE per
        # first append (review r16: the PQ block re-ran the count)
        tf = self._training_frame(df) if (need_space or need_pq) else None
        if need_space:
            cents = train_ivf_centroids(
                tf, n_lists=p["n_lists"], iters=p["iters"],
                id_col=p["id_col"], vec_col=p["vec_col"], dim=p["dim"],
            )
            self._centroids.save(cents, self._space_params())
        if need_pq:
            # one deterministic codebook per subspace, trained on the
            # raw slices exactly like pq_encode/pq_topk (so a
            # full-corpus first append shares their oracle); racing
            # first appends both train, v1 wins first (same pinning
            # rationale as the IVF space). Trainings run concurrently
            # (train_subspace_books, §2.6) — the saves stay serial.
            from holcstore_spark.operators.similarity import (
                train_subspace_books,
            )

            sub = p["dim"] // p["pq_m"]
            books = train_subspace_books(
                tf, p["pq_m"], sub, p["pq_centroids"], p["iters"],
                p["id_col"], p["vec_col"],
            )
            for book, store in zip(books, self._pq_stores):
                store.save(book, self._pq_space_params())
        # assign under the ACTIVE space (v1 until a retrain swaps it);
        # an interleaved retrain turns this append into a mixed-version
        # state that reads refuse and retrain() repairs
        v_used = self.active_space_version(snap)
        adds = self._stage(self._assigned(df, self._cents_for(v_used)),
                           space_v=v_used)
        committed = self._txlog.commit_idempotent(
            snap.version, "append", TxLog.next_op_id(snap),
            {"data": adds}, {},
            touched=None,
            txn=txn_id,
        )
        return committed is not None

    def retrain(self, txn_app=None, txn_version=None) -> "int | None":
        """Train a NEW centroid version on the index's current live
        vectors and reassign every row under it — ONE transactional
        commit that swaps the whole inverted file (adds every list's
        new files, removes every old file, ``touched="all"``), the
        remediation for distribution drift: an index whose space was
        trained on day-0 data degrades as the corpus moves (vectors
        pile into few lists; probes miss true neighbours), and the only
        alternative is an out-of-band rebuild.

        Deliberately O(index) — a retrain IS a rebuild, just
        transactional: readers see the old space until the single
        commit lands, then the new one; never a mix (an append racing
        this commit produces the mixed-version state that reads refuse
        and a follow-up retrain repairs — retrain itself reads the raw
        entries and ignores the stored ``list``, so it can always run).
        Training is bit-identical to a fresh index built from the same
        live rows: the stored quantized vectors feed the deterministic
        trainer with ``pre_quantized=True`` (re-quantizing would scale
        twice). Deleted rows do not survive the rewrite (the reassigned
        frame is tombstone-masked), and the replaced files become
        vacuum-reclaimable. Idempotent under ``(txn_app,
        txn_version)`` replay: returns None and commits nothing.

        Returns the new centroid version number."""
        from holcstore_spark.operators.similarity import (
            _assign_to_centroid,
            train_ivf_centroids,
        )
        from holcstore_spark.sources.io_util import safe_local_checkpoint
        from holcstore_spark.sources.txlog import TxLog, resolve_txn

        p = self.params
        txn_id = resolve_txn(txn_app, txn_version)
        snap = self._txlog.snapshot()
        if snap.replayed(txn_id):
            return None
        entries = snap.files["data"]
        if not entries:
            raise ValueError(
                f"vector index at {self.path} holds no live files — "
                "nothing to retrain; append() first"
            )
        rows = self._mask_deleted(self._read_entries(entries), snap).drop("list")
        # materialized once: the frame feeds training (iters+1 passes)
        # AND the reassignment write
        rows = safe_local_checkpoint(rows)
        if not rows.take(1):
            raise ValueError(
                f"vector index at {self.path} has no live rows (all "
                "deleted) — nothing to retrain"
            )
        cents = train_ivf_centroids(
            self._training_frame(rows),
            n_lists=p["n_lists"], iters=p["iters"],
            id_col=p["id_col"], vec_col="vec_q", dim=p["dim"],
            pre_quantized=True,
        )
        new_v = self._centroids.save(cents, self._space_params())
        assigned = rows.withColumn(
            "list", _assign_to_centroid(F.col("vec_q"), cents).cast("int")
        ).select(*self._schema().fieldNames())
        adds = self._stage(assigned, space_v=new_v)
        committed = self._txlog.commit_idempotent(
            snap.version, "retrain", TxLog.next_op_id(snap),
            {"data": adds}, {"data": entries},
            touched="all",
            txn=txn_id,
        )
        return new_v if committed is not None else None

    # -- search --------------------------------------------------------------
    def topk(
        self,
        queries: DataFrame,
        k: int = 3,
        n_probe: int = 2,
        query_id: str = "q_id",
        filters: "F.Column | dict | None" = None,
        min_results: "int | None" = None,
        mode: str = "exact",
    ) -> DataFrame:
        """IVF probe search over the persisted index: each query's
        ``n_probe`` nearest lists are computed against the stored
        centroids, the UNION of probed lists prunes the index read at
        the manifest (only those lists' files open), and scoring joins
        on the list id exactly like :func:`ivf_topk` — same integer
        arithmetic, same deterministic ties, so results equal the
        in-memory operator given the same centroids.

        ``filters``: attribute predicate over the index's stored
        ``attr_cols`` (Column or lookup dict) — applied INSIDE the
        pruned scan, below the probe join.

        ``min_results``: the selectivity guard (VERDICT r12). A highly
        selective filter can shrink the PROBED candidate pool below
        ``k`` — a silent short result even though matching neighbours
        exist in un-probed lists. With ``min_results=m`` set, queries
        returning fewer than ``m`` rows are re-searched with doubled
        ``n_probe`` (only the short queries — satisfied queries keep
        their original-probe results) until they reach ``m`` rows or
        probing is exhaustive (``n_probe == n_lists``, at which point a
        short result is GENUINE scarcity: the filtered corpus holds
        fewer than ``m`` matches, and exhaustive probing equals exact
        filtered search). Escalation is driver-paced — at most
        log2(n_lists) extra rounds, each re-reading only the escalated
        queries' probed lists.

        ``mode``: ``"exact"`` scores stored quantized vectors
        (columns ``q_id, neighbor_id, score``); ``"adc"`` (PQ indexes
        only) ranks by Asymmetric Distance Computation over the stored
        ``pq_code`` — the IVF-PQ read path: the scan inside the pruned
        probed lists reads ONLY (id, list, pq_code), never the
        dim-sized ``vec_q`` column chunks (plan-asserted in tests), so
        the per-vector read cost is m codes instead of dim longs.
        Same integer arithmetic as :func:`pq_topk` (columns ``q_id,
        neighbor_id, adc_dist_q``), same deterministic ties
        (adc asc, neighbor asc).
        """
        from holcstore_spark.operators.similarity import (
            _probe_lists,
            _short_query_ids,
            quantized,
        )
        from holcstore_spark.sources.io_util import safe_local_checkpoint

        p = self.params
        if mode not in ("exact", "adc"):
            raise ValueError(f"unknown mode {mode!r}; exact or adc")
        if mode == "adc" and not p["pq_m"]:
            raise ValueError(
                f"vector index at {self.path} was created without "
                "pq_m — ADC search needs stored PQ codes"
            )
        if k < 1 or n_probe < 1:
            # n_probe=0 would also never grow under the doubling
            # escalation (0*2 == 0: an infinite driver loop)
            raise ValueError(f"k ({k}) and n_probe ({n_probe}) must "
                             "be >= 1")
        # ONE snapshot for the whole search: centroids, every probe
        # round, and every file read come from the same manifest state,
        # so a retrain completing mid-search cannot pair old-space
        # probe ids with new-space-clustered files (review r13) — the
        # search sees wholly the pre- or post-retrain index, never a
        # mix
        snap = self._txlog.snapshot()
        cents = self._cents_for(self.active_space_version(snap))
        base = queries.select(
            F.col(p["id_col"]).alias(query_id),
            quantized(p["vec_col"]).alias("__qq"),
        )
        # the query frame is evaluated multiple times (probe-list
        # collect, the broadcast join, escalation rounds) — materialize
        # once so a non-deterministic source cannot yield a probe-list
        # set inconsistent with the joined __probe values (ADVICE r12);
        # queries are small by contract (they broadcast anyway)
        base = safe_local_checkpoint(base)
        res = self._topk_once(base, k, n_probe, query_id, filters,
                              cents, _probe_lists, mode, snap)
        if min_results is None:
            return res
        want = min(int(min_results), k)
        n_lists = p["n_lists"]
        while n_probe < n_lists:
            n_probe = min(n_probe * 2, n_lists)
            # materialize each round: the counts collect and the next
            # union would otherwise re-execute every prior round's
            # probe search (O(rounds²) scan work), and the caller's
            # first action would re-run the whole chain once more
            res = safe_local_checkpoint(res)
            short = _short_query_ids(
                res, base.select(query_id), query_id, want
            )
            if not short:
                break
            sub = base.filter(F.col(query_id).isin(short))
            res = res.filter(~F.col(query_id).isin(short)).unionByName(
                self._topk_once(sub, k, n_probe, query_id, filters,
                                cents, _probe_lists, mode, snap)
            )
        return res

    def _topk_once(self, qry, k, n_probe, query_id, filters, cents,
                   _probe_lists, mode, snap) -> DataFrame:
        """One probe-search pass over a materialized query frame
        ``(query_id, __qq)`` — the :meth:`topk` docstring describes the
        plan shape."""
        from holcstore_spark.operators.similarity import (
            _apply_filters,
            cosine_q_arrow,
        )
        from pyspark.sql import Window

        p = self.params
        qry = qry.withColumn(
            "__probe", _probe_lists(F.col("__qq"), cents, n_probe)
        )
        # the probed-list union is at most n_lists ints
        probe_lists = sorted({
            int(x) for r in qry.select("__probe").collect()
            for x in r["__probe"]
        })
        if mode == "adc":
            return self._adc_once(qry, k, query_id, filters, probe_lists,
                                  snap)
        cand = _apply_filters(
            self.df(lists=probe_lists, snap=snap), filters
        ).select(
            F.col(p["id_col"]).alias("neighbor_id"),
            F.col("list"), F.col("vec_q").alias("__cq"),
        )
        q = qry.withColumn("list", F.explode("__probe")).drop("__probe")
        scored = cand.join(F.broadcast(q), on="list").filter(
            F.col("neighbor_id") != F.col(query_id)
        ).withColumn("score", cosine_q_arrow(F.col("__qq"), F.col("__cq")))
        w = Window.partitionBy(query_id).orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .select(query_id, "neighbor_id", "score")
        )

    def _adc_once(self, qry, k, query_id, filters, probe_lists, snap
                  ) -> DataFrame:
        """ADC ranking inside the pruned probed lists: the per-query
        lookup tables (m × pq_centroids exact int squared distances,
        query slice vs every codebook centroid) are built driver-side
        from the tiny broadcast codebooks — :func:`pq_topk`'s table
        shape — and the candidate scan reads only (id, list, pq_code);
        the distance is m ``element_at`` lookups per candidate."""
        import numpy as np

        from holcstore_spark.operators.similarity import _apply_filters

        from pyspark.sql import Window

        p = self.params
        m, sub = p["pq_m"], p["dim"] // p["pq_m"]
        books = [np.asarray(b, dtype=np.int64) for b in self.pq_books()]
        rows = qry.select(query_id, "__qq", "__probe").collect()
        table_rows = []
        for r in rows:
            qv = np.asarray(list(r["__qq"]), dtype=np.int64)
            tables = []
            for j in range(m):
                qs = qv[j * sub: (j + 1) * sub]
                tables.append(
                    ((books[j] - qs) ** 2).sum(axis=1)
                    .astype(int).tolist()
                )
            table_rows.append(
                (r[query_id], [int(x) for x in r["__probe"]], *tables)
            )
        tschema = T.StructType(
            [T.StructField(query_id, qry.schema[query_id].dataType),
             T.StructField("__probe", T.ArrayType(T.IntegerType()))]
            + [T.StructField(f"__t{j}", T.ArrayType(T.LongType()))
               for j in range(m)]
        )
        tdf = self.spark.createDataFrame(table_rows, tschema)
        q = tdf.withColumn("list", F.explode("__probe")).drop("__probe")
        cand = _apply_filters(
            self.df(lists=probe_lists, snap=snap), filters
        ).select(
            F.col(p["id_col"]).alias("neighbor_id"),
            F.col("list"), F.col("pq_code"),
        )
        joined = cand.join(F.broadcast(q), on="list").filter(
            F.col("neighbor_id") != F.col(query_id)
        )
        adc = F.element_at(F.col("__t0"), F.col("pq_code").getItem(0) + 1)
        for j in range(1, m):
            adc = adc + F.element_at(
                F.col(f"__t{j}"), F.col("pq_code").getItem(j) + 1
            )
        w = Window.partitionBy(query_id).orderBy(
            F.col("__adc").asc(), F.col("neighbor_id").asc()
        )
        return (
            joined.withColumn("__adc", adc)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .select(query_id, "neighbor_id",
                    F.col("__adc").alias("adc_dist_q"))
        )

    # -- graph ------------------------------------------------------------
    def knn_graph(
        self,
        k: int = 3,
        n_probe: int = 2,
        filters: "F.Column | dict | None" = None,
    ) -> DataFrame:
        """All-pairs top-``k`` cosine neighbour graph over the INDEXED
        corpus — :func:`~holcstore_spark.operators.similarity.knn_graph`
        built from the stored list assignment instead of re-assigning
        the corpus (VERDICT r13 ask #4): the candidate side reads
        ``(id, list, vec_q)`` straight from the clustered files — no
        ``_assign_to_centroid`` pass, no quantization (``vec_q`` is
        stored quantized), no candidate-side assignment compute at all
        (plan-asserted in tests) — and inherits snapshot pinning: the
        whole graph builds against ONE manifest state, so a retrain
        completing mid-build cannot mix spaces. Only the SOURCE side
        computes anything per vector: its ``n_probe`` nearest lists
        (inherent — probes beyond the home list are not stored).

        Equal to the operator given the same centroids: same kernel
        (:func:`_knn_cogroup_scored`), same probes, same ties.
        ``filters`` restricts the CANDIDATE side only, over the stored
        ``attr_cols`` (the :meth:`topk` contract)."""
        from holcstore_spark.operators.similarity import (
            _apply_filters,
            _knn_cogroup_scored,
            _knn_rank,
            _probe_lists,
        )

        p = self.params
        snap = self._txlog.snapshot()
        cents = self._cents_for(self.active_space_version(snap))
        rows = self.df(snap=snap)
        src = rows.select(
            F.col(p["id_col"]).alias("src_id"),
            F.col("vec_q").alias("__qq"),
        ).withColumn(
            "__list", F.explode(_probe_lists(F.col("__qq"), cents, n_probe))
        )
        cand = _apply_filters(rows, filters).select(
            F.col(p["id_col"]).alias("neighbor_id"),
            F.col("vec_q").alias("__cq"),
            F.col("list").alias("__list"),
        )
        scored = _knn_cogroup_scored(
            src, cand, self._schema()[p["id_col"]].dataType, k
        )
        return _knn_rank(scored, k)

    def update_knn_graph(
        self,
        prev_graph: DataFrame,
        new_docs: "DataFrame | None" = None,
        k: int = 3,
        n_probe: int = 2,
        expected_space_version: "int | None" = None,
    ) -> DataFrame:
        """Incremental KNN-graph maintenance (VERDICT r13 ask #6,
        delete-aware per VERDICT r14 ask #2): given ``prev_graph`` —
        the exact :meth:`knn_graph` output over the index at some
        earlier snapshot — produce the graph over the CURRENT index
        without a full rebuild, composing with any mix of
        :meth:`append` (pass the appended batch as ``new_docs``) and
        :meth:`delete` (detected from the tombstones, no parameter)
        since. Same ``k``/``n_probe``; the space must not have
        retrained since ``prev_graph`` was built (old-space edges and
        new-space probes do not compose — rebuild with
        :meth:`knn_graph` after a retrain). Pass
        ``expected_space_version`` — captured via
        :meth:`active_space_version` when the previous graph was built
        — to make a violated contract FAIL LOUDLY instead of returning
        a plausible-but-wrong graph (review r14); without it the
        contract is on the caller's honor.

        Bounded passes instead of corpus × corpus:

        - DELETED vectors (ids in ``prev_graph`` that are tombstoned
          now — prev was built over a masked read, so any such id was
          deleted since): their outgoing edges drop, and every LIVE
          source that held a deleted NEIGHBOR lost a top-k slot that
          cannot be backfilled from prev alone — the true (k+1)-th
          candidate was never materialized. Those sources (bounded by
          the deleted vectors' graph in-degree, NOT the corpus) are
          fully rescored against the live membership of their probed
          lists — per-source exactly the work one :meth:`topk` query
          does. Everyone else's previous edges remain valid: deletes
          only remove candidates, so an unaffected top-k stays the
          top-k.
        - NEW sources: the appended vectors probe their ``n_probe``
          lists and score against those lists' stored members (old and
          new) — the same work :meth:`topk` does for a query batch.
        - OLD sources (not delete-affected): only edges that can
          CHANGE are rescored — an old vector's top-k changes only if
          a new vector landed in one of its probed lists, so old
          sources probing an AFFECTED list (home list of ≥1 new
          vector) score against the NEW vectors only; per-source
          candidates are batch-sized, never corpus-sized. Merging with
          ``prev_graph`` and re-ranking per source is exact: the true
          top-k over (old ∪ new) candidates is the top-k of (previous
          top-k ∪ new-candidate scores).

        Work scales with |batch| × (members of probed lists) +
        |old sources probing affected lists| × |batch-per-list| +
        |delete-affected sources| × (members of their probed lists) —
        the full rebuild's corpus × corpus/n_lists term never appears.
        Equality with a from-scratch rebuild at fixed centroids is
        pytest-proven for append-only, delete-only and mixed updates
        (tests/test_vector_index.py)."""
        from holcstore_spark.operators.similarity import (
            _knn_cogroup_scored,
            _knn_rank,
            _probe_lists,
        )

        p = self.params
        snap = self._txlog.snapshot()
        space_v = self.active_space_version(snap)
        if (expected_space_version is not None
                and space_v != expected_space_version):
            raise RuntimeError(
                f"update_knn_graph: index space retrained (version "
                f"{space_v}, prev_graph built at "
                f"{expected_space_version}) — old-space edges and "
                "new-space probes do not compose; rebuild with "
                "knn_graph()"
            )
        cents = self._cents_for(space_v)
        id_t = self._schema()[p["id_col"]].dataType
        rows = self.df(snap=snap)
        prev = prev_graph.select("src_id", "neighbor_id", "score")
        cand_all = rows.select(
            F.col(p["id_col"]).alias("neighbor_id"),
            F.col("vec_q").alias("__cq"),
            F.col("list").alias("__list"),
        )

        def probe_src(frame):
            return frame.select(
                F.col(p["id_col"]).alias("src_id"),
                F.col("vec_q").alias("__qq"),
            ).withColumn(
                "__list",
                F.explode(_probe_lists(F.col("__qq"), cents, n_probe)),
            )

        # -- delete pass: drop dead edges, fully rescore the sources
        # that lost a neighbor (takedown lists are metadata-sized by
        # the ForgetMixin contract — broadcast). Skipped entirely when
        # the index holds no tombstones, so the append-only update
        # keeps its exact previous plan shape.
        lost_src = None
        rescored = None
        if snap.files["meta"]:
            tombs = F.broadcast(self.tombstones(snap).select(
                F.col(p["id_col"]).alias("__dead")
            ))
            prev = prev.join(
                tombs, prev["src_id"] == F.col("__dead"), "left_anti"
            )
            lost_src = prev.join(
                tombs, prev["neighbor_id"] == F.col("__dead"), "left_semi"
            ).select(F.col("src_id").alias(p["id_col"])).distinct()
            prev = prev.join(
                lost_src.select(F.col(p["id_col"]).alias("src_id")),
                on="src_id", how="left_anti",
            )
            rescored = _knn_rank(
                _knn_cogroup_scored(
                    probe_src(rows.join(lost_src, on=p["id_col"],
                                        how="left_semi")),
                    cand_all, id_t, k,
                ), k,
            )

        if new_docs is None:
            # delete-only update: unaffected edges + rescored sources
            if rescored is None:
                return prev  # nothing appended, nothing deleted
            return prev.unionByName(rescored)

        new_ids = new_docs.select(
            F.col(p["id_col"]).cast(p["id_type"]).alias(p["id_col"])
        ).distinct()
        new_rows = rows.join(new_ids, on=p["id_col"], how="left_semi")
        # delete-affected sources were rescored against CURRENT rows
        # (new vectors included) — exclude them from the delta pass or
        # their new-candidate scores would double up
        old_rows = rows.join(new_ids, on=p["id_col"], how="left_anti")
        if lost_src is not None:
            old_rows = old_rows.join(
                lost_src, on=p["id_col"], how="left_anti"
            )
        # pass 1 — new sources vs full membership of their probed lists
        new_edges = _knn_rank(
            _knn_cogroup_scored(probe_src(new_rows), cand_all, id_t, k), k
        )
        # pass 2 — old sources probing an affected list vs NEW vectors
        # only; affected lists are at most n_lists ints (driver-safe)
        affected = [
            r["list"] for r in new_rows.select("list").distinct().collect()
        ]
        old_src = probe_src(old_rows).filter(F.col("__list").isin(affected))
        cand_new = new_rows.select(
            F.col(p["id_col"]).alias("neighbor_id"),
            F.col("vec_q").alias("__cq"),
            F.col("list").alias("__list"),
        )
        delta = _knn_cogroup_scored(old_src, cand_new, id_t, k)
        merged = _knn_rank(prev.unionByName(delta), k)
        out = merged.unionByName(new_edges)
        if rescored is not None:
            out = out.unionByName(rescored)
        return out

    # -- maintenance -----------------------------------------------------
    def optimize(self, min_files: int = 4, max_lists: int = 64) -> int:
        """Per-list small-file binpack — same contract as
        BandIndex.optimize: row-preserving compacting commit,
        O(fragmentation), never O(index). Every repacked file keeps its
        list's centroid version (``space_v``)."""

        def refuse_mixed(cands, by_list):
            # mixed-version refusal is pure manifest math — check every
            # candidate BEFORE any repack IO (review r13: raising after
            # list 1's full read+write wasted the work and left staged
            # orphans with no sidecar note)
            for lst in cands:
                svs = {int(e.get("space_v", 1)) for e in by_list[lst]}
                if len(svs) > 1:
                    raise ValueError(
                        f"list {lst} holds files from multiple centroid "
                        f"versions {sorted(svs)} — run retrain() before "
                        "optimize() on a mixed-version index"
                    )

        repack = self._chunk_write(
            "list", key_cols=(), sort_cols=(self.params["id_col"],)
        )

        def write(src, sources):
            out = repack(src, sources)
            for e in out:
                e["space_v"] = int(sources[0].get("space_v", 1))
            return out

        return self._optimize_by_chunk(
            write, min_files=min_files, max_chunks=max_lists, check=refuse_mixed,
        )
