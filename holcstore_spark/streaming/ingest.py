"""Structured Streaming ingestion into a ChunkStore.

The reference's only streaming surface is replication (ts_sync.py); real
event-at-a-time ingestion is a natural extension on the long layout
(SURVEY §7.6): a ``readStream`` of ``(keys…, ts, value)`` rows lands in the
store via ``foreachBatch`` → :meth:`ChunkStore.ingest_long`, which
normalizes to the dense chunk grid and merges with ``update`` semantics.
Exactly-once per micro-batch comes from the checkpoint + the idempotent
combine-first merge (replaying a batch reproduces the same state).

Also provides event-time windowed rollups with watermarked late-data
handling — the streaming analogue of the reference's per-chunk aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from holcstore_spark.sources.chunk_store import ChunkStore


def stream_ingest(
    store: ChunkStore,
    stream: DataFrame,
    checkpoint: str,
    mode: str = "update",
    trigger_once: bool = False,
    txn_app: str | None = None,
) -> StreamingQuery:
    """Ingest a streaming long frame ``(keys…, ts, value)`` into the store.

    Each micro-batch routes through the distributed bulk-write path
    (ingest_long): dense-grid reindex + combine-first merge, no driver
    loops. ``trigger_once`` processes the available backlog then stops
    (batch-over-stream operation for tests and scheduled jobs).

    Each micro-batch lands as ONE
    atomic data+meta commit, so readers never observe a half-applied
    batch. Exactly-once has two tiers:

    - ``txn_app=None`` (default): checkpoint + idempotent combine-first
      re-merge — effectively-once under ``mode='update'`` ('insert'
      would refuse its own replay).
    - ``txn_app=<stable sink id>``: each micro-batch
      commits with ``(txn_app, txn_version=batch_id)`` and the log's
      idempotence watermark skips any replayed batch BEFORE it writes —
      true exactly-once for EVERY mode, including append-mode 'insert'
      (Delta's ``txn``-action idempotent-sink pattern). Use one distinct
      ``txn_app`` per logical sink (e.g. the checkpoint path); reusing
      an id across different queries would cross their watermarks.

    Checkpoint-loss caveat (same as Delta's): batch ids restart at 0
    after the checkpoint directory is lost, and a skipped batch is
    skipped WHOLE — if new source data arrived since the last committed
    batch, the restarted query folds it into the replayed batch ids and
    the watermark drops it too. Losing the checkpoint is therefore only
    lossless when the source content is unchanged; with the checkpoint
    intact (the normal case) batch ids resume past the watermark and
    the guarantee is unconditional.
    """

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        store.ingest_long(
            batch, mode=mode, txn_app=txn_app,
            txn_version=batch_id if txn_app is not None else None,
        )

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_rollup(
    stream: DataFrame,
    keys: tuple[str, ...],
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts: str = "ts",
    value: str = "value",
    exact_total: bool = False,
) -> DataFrame:
    """Event-time SESSION windows (``F.session_window``): per key, events
    closer than ``gap`` merge into one session; the session closes at
    ``last_event + gap`` (half-open — an event exactly at the boundary
    starts a new session). State is bounded by the watermark; sessions
    finalize once the watermark passes their end, so this runs forever at
    scale with O(open sessions) state."""
    aggs = [F.count(value).alias("n")]
    extra: list[str] = []
    if exact_total:
        aggs.append(
            F.sum(F.col(value).cast("decimal(28,6)")).cast("double").alias("sum_value")
        )
        extra = ["sum_value"]
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(*keys, F.session_window(F.col(ts), gap).alias("win"))
        .agg(*aggs)
        .select(
            *keys,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n", *extra,
        )
    )


def stream_dedup(
    stream: DataFrame,
    keys: tuple[str, ...],
    watermark: str = "2 hours",
    ts: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps the first-seen row per key and
    expires each key's state once the watermark passes it — the streaming
    twin of the batch ``exact_dedup``, safe to run forever (a plain
    ``dropDuplicates`` on an unbounded stream accumulates state without
    limit)."""
    return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def windowed_rollup(
    stream: DataFrame,
    keys: tuple[str, ...],
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts: str = "ts",
    value: str = "value",
    exact_total: bool = False,
) -> DataFrame:
    """Event-time windowed aggregate with late-data watermark: per key and
    window, count / mean / min / max of ``value``. Late rows beyond
    ``watermark`` are dropped by the engine (state is bounded — the
    property that keeps this runnable forever at scale).

    ``exact_total`` adds a ``sum_value`` column summed in DECIMAL(28,6) —
    order-independent (billing-grade) totals, since a float sum's low bits
    depend on reduction order and change run to run."""
    win = F.window(F.col(ts), window, slide) if slide else F.window(F.col(ts), window)
    aggs = [
        F.count(value).alias("n"),
        F.avg(value).alias("mean_value"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
    ]
    extra = []
    if exact_total:
        aggs.append(
            F.sum(F.col(value).cast("decimal(28,6)")).cast("double").alias("sum_value")
        )
        extra = ["sum_value"]
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(*keys, win.alias("win"))
        .agg(*aggs)
        .select(
            *keys,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n", "mean_value", "min_value", "max_value", *extra,
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: tuple[str, ...],
    within_seconds: int,
    watermark: str = "2 hours",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
) -> DataFrame:
    """Watermarked stream-stream INNER join: pair every left event with
    the right events of the same key whose timestamp falls within
    ``within_seconds`` BEFORE it (the click-attribution shape:
    purchase ⋈ preceding clicks).

    Both sides carry watermarks and the join condition time-bounds the
    match window, so Spark can expire buffered state once the watermark
    passes — the property that keeps a stream-stream join runnable
    forever: state is O(events inside the watermark horizon), not
    O(history). On in-order data the result equals the batch range
    join exactly.
    """
    r2 = right.withWatermark(right_ts, watermark)
    for k in on:
        r2 = r2.withColumnRenamed(k, f"__r_{k}")
    l2 = left.withWatermark(left_ts, watermark)
    cond = None
    for k in on:
        c = F.col(k) == F.col(f"__r_{k}")
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (F.col(right_ts) <= F.col(left_ts))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {within_seconds} SECONDS"))
    )
    return l2.join(r2, on=cond, how="inner").drop(*[f"__r_{k}" for k in on])
