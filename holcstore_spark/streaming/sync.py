"""Incremental store-to-store sync — the reference's client↔server CDC
protocol (hostore/utils/ts_sync.py:204-261) re-expressed table-to-table.

Protocol (identical semantics, no HTTP required — a REST shim can wrap the
same three calls):

1. client computes ``since = last_updated_at(filters)`` locally — a
   *per-filter* watermark (reference: ts_sync.py:219; proven per-filter by
   test_chunk_timeserie_sync.py:263-282);
2. server lists chunk states with ``updated_at >= since`` in deterministic
   order, paginated (reference: chunk_timeserie_store.py:545-607);
3. per page: tombstones apply locally first (delete + stamp the *server's*
   updated_at so the watermark advances, ts_sync.py:241-246), then alive
   chunks are fetched in batches and imported atomically;
4. crash-resume is idempotent: the watermark only advances through imported
   rows, and ``>=`` re-fetches the boundary (reference:
   test_chunk_timeserie_sync.py:223-261).

Metadata on the driver, data in Spark. Up to ``APPEND_KEYS_CAP`` changed
(keys…, chunk) pairs, the watermark, the feed, and the overlap probe are
answered with pyarrow over the two stores' manifests, with no Spark job
(``ChunkStore.last_updated_at``, ``ChunkStore._changed_states``); only the
data rows travel as Spark frames. Above the cap the feed is the Spark
``updates`` frame, checkpointed once and streamed through
``toLocalIterator``.

Two physical strategies, picked automatically:

- **bulk** — when NO incoming alive (keys, chunk) pair physically exists
  client-side (bootstrap of a fresh replica, or an incremental pull of
  brand-new chunks/keys — the daily-append case), every page's
  chunk rewrite would be a pure append anyway, so the whole backlog
  lands as ONE Spark export-and-stage of the data plus the feed's meta
  rows (staged with Arrow), published in one atomic commit. A feed of
  tombstones only stages meta only.
- **paged incremental** — the general path. Pages are slices of the
  ordered feed, applied as same-kind runs: a tombstone run is a meta-only
  import, an alive run one export + copy-on-write import.
"""

from __future__ import annotations

from itertools import islice

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from holcstore_spark.sources.chunk_store import ChunkStore
from holcstore_spark.sources.io_util import safe_local_checkpoint


class SyncCrash(Exception):
    """Injected mid-pull failure for crash-resume tests."""


class SyncClient:
    def __init__(self, server: ChunkStore, client: ChunkStore):
        if server.config.keys != client.config.keys:
            raise ValueError("server and client stores must share key columns")
        if not server.config.allow_sync or not client.config.allow_sync:
            raise ValueError("both stores must be created with allow_sync=True")
        self.server = server
        self.client = client

    def pull(
        self,
        filters: dict | None = None,
        page_size: int = 200,
        crash_after_pages: int | None = None,
    ) -> int:
        """Pull server changes since the client's watermark. Returns the
        number of chunk states applied.

        Only chunk *states* (meta rows) ever reach the driver; the data
        rows travel server→client as Spark frames (export semi-join →
        append/rewrite), so the transfer scales with the cluster, not the
        driver."""
        since = self.client.last_updated_at(filters)
        feed = self.server._changed_states(since, filters)
        if feed is None:
            feed = self._spark_feed(since, filters)
        else:
            feed = self._drop_held(feed)
        # Bulk fast path: when NO incoming (keys, chunk) pair physically
        # exists client-side, every per-page partition rewrite would be a
        # pure append — import the whole backlog in one shot. Covers the
        # bootstrap (no client data at all) AND the daily-append
        # replication case (incremental pull of brand-new chunks/keys).
        # Crash injection forces the paged path so the injected page
        # boundary stays meaningful.
        if crash_after_pages is None and not self._any_physical_overlap(feed):
            return self._pull_bulk(feed)
        return self._pull_paged(feed, page_size, crash_after_pages)

    def _drop_held(self, feed: pd.DataFrame) -> pd.DataFrame:
        """Drop the feed states the client already holds VERBATIM (same
        keys, chunk, op_id as its latest state). The >= watermark resume
        re-fetches the boundary states every pull; they need no
        re-import — dropping them is idempotent (their stamps are already
        in the client meta, so the watermark is unaffected) and is what
        lets a daily-append pull see only genuinely-new chunks and take
        the bulk path."""
        if feed.empty:
            return feed
        cols = [*self.server.config.keys, "chunk_index", "op_id"]
        held = self.client._keys_latest_meta(feed)[cols]
        hit = feed.merge(held, on=cols, how="left", indicator=True)
        return feed.loc[(hit["_merge"] == "left_only").to_numpy()].reset_index(
            drop=True
        )

    def _spark_feed(self, since, filters) -> DataFrame:
        """The feed above ``APPEND_KEYS_CAP`` changed pairs: the Spark
        ``updates`` frame minus the states the client holds verbatim,
        re-sorted and checkpointed once."""
        feed = self.server.updates(since=since, filters=filters)
        if not self.client._meta_empty():
            applied = self.client.latest_meta(filters).select(
                *self.server.config.keys, "chunk_index", "op_id"
            )
            # no broadcast hint: the client meta can be store-sized while
            # an incremental feed is tiny (or vice versa on bootstrap) —
            # AQE picks the side to broadcast
            feed = feed.join(
                applied,
                on=[*self.server.config.keys, "chunk_index", "op_id"],
                how="left_anti",
            )
        # re-assert the feed's total order AFTER the anti-join: a shuffle
        # join repartitions and would otherwise hand the pager pages in
        # arbitrary order, breaking the prefix property crash-resume
        # depends on
        feed = feed.orderBy(
            "updated_at", *self.server.config.keys, "chunk_index"
        )
        return safe_local_checkpoint(feed)

    def _any_physical_overlap(self, feed) -> bool:
        """Whether any incoming alive (keys, chunk) pair already has
        PHYSICAL client rows (data, not meta: orphans from a crashed bulk
        import count, so the resume takes the deduping rewrite path). A
        driver feed probes with pyarrow: manifest file skipping on the
        pairs' chunks and key stats, then a scan of the pair columns. The
        Spark feed prunes the client scan to the incoming chunks first —
        either way the cost scales with the touched chunks, not the
        client store."""
        if not self.client.has_data():
            return False
        keys = list(self.server.config.keys)
        if isinstance(feed, pd.DataFrame):
            pairs = feed.loc[~feed["is_deleted"].astype(bool), [*keys, "chunk_index"]]
            if pairs.empty:
                return False
            in_sets = {k: pairs[k].drop_duplicates().tolist() for k in keys}
            client = self.client
            rows = client._scan_alive_rows(
                client._snapshot(), pairs, in_sets, values=False
            )
            return not rows.empty
        pairs = feed.filter(~F.col("is_deleted")).select(*keys, "chunk_index")
        chunks = [r[0] for r in pairs.select("chunk_index").distinct().collect()]
        if not chunks:
            return False
        probe = (
            self.client.data()
            .filter(F.col("chunk_index").isin(chunks))
            .join(pairs, on=[*keys, "chunk_index"], how="left_semi")
        )
        return bool(probe.limit(1).count())

    def _pull_bulk(self, feed) -> int:
        """One data append + one meta append for the full backlog."""
        keys = list(self.server.config.keys)
        if isinstance(feed, pd.DataFrame):
            total = len(feed)
            alive = feed.loc[~feed["is_deleted"].astype(bool), [*keys, "chunk_index"]]
            data_sdf = None if alive.empty else self.server.export_chunks_sdf(alive)
        else:
            total = feed.count()
            alive = feed.filter(~F.col("is_deleted")).select(*keys, "chunk_index")
            # no broadcast hint: a full-bootstrap spec is every alive chunk
            # of the server — let AQE pick the join strategy
            data_sdf = self.server.export_chunks_sdf(alive, hint_broadcast=False)
        if total == 0:
            return 0
        # data and meta (the watermark carrier) land in one atomic commit
        self.client.append_import(data_sdf, feed)
        return total

    def _pull_paged(
        self, feed, page_size: int, crash_after_pages: int | None
    ) -> int:
        applied = 0
        keys = list(self.server.config.keys)
        for page_no, page in enumerate(self._pages(feed, page_size)):
            if crash_after_pages is not None and page_no >= crash_after_pages:
                raise SyncCrash(f"injected crash before page {page_no}")
            # apply the page as contiguous same-kind runs IN updated_at
            # order: whatever a crash leaves applied is then a PREFIX of
            # the ordered feed, so the >= watermark resume re-fetches
            # every unapplied row. Splitting into all-tombstones-first
            # would let a tombstone's later stamp advance the watermark
            # past unapplied alive rows (or vice versa) and lose them.
            runs = (page["is_deleted"] != page["is_deleted"].shift()).cumsum()
            for _, run in page.groupby(runs, sort=False):
                if bool(run["is_deleted"].iloc[0]):
                    self.client.import_chunks(run.copy(), pd.DataFrame())
                else:
                    spec = run[[*keys, "chunk_index"]]
                    data_sdf = self.server.export_chunks_sdf(spec)
                    self.client.import_chunks_sdf(run.copy(), data_sdf)
                applied += len(run)
        return applied

    @staticmethod
    def _pages(feed, page_size: int):
        """Pages of the ordered feed as pandas frames: slices of a driver
        feed, or one linear ``toLocalIterator`` pass over the checkpointed
        Spark feed (driver memory bounded by ``page_size``, no per-page
        offset/limit job; reference's server-side pagination,
        chunk_timeserie_store.py:545-607)."""
        if isinstance(feed, pd.DataFrame):
            for start in range(0, len(feed), page_size):
                yield feed.iloc[start:start + page_size].reset_index(drop=True)
            return
        rows = feed.toLocalIterator()
        while batch := list(islice(rows, page_size)):
            yield pd.DataFrame([r.asDict() for r in batch])
