"""Replicate the reference's two load-harness shapes
(hostore/tests/test_chunk_timeserie_store_perf.py:130-148) against the
ChunkStore and print wall-times for BASELINE.md.

- H1 "heavy": 1000 keys x 105,120 pts @ 15 min (3 years)  ~= 105M rows
- H2 "light":   20 keys x  43,800 pts @ 1 h   (5 years)   ~= 876k rows

The insert goes through ingest_long (the distributed path): the source
frame is generated IN SPARK (sequence/explode), not driver-side pandas.

Usage: python scripts/perf_load.py [h1|h2]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def run(shape: str) -> None:
    from holcstore_spark import ChunkStoreConfig, get_spark
    from holcstore_spark.sources.chunk_store import ChunkStore

    spark = get_spark(app_name=f"holc-perf-{shape}")
    if shape == "h1":
        n_keys, periods, freq, axis = 1000, 105_120, "15min", ("year", "month")
        start = "2021-01-01"
    else:
        n_keys, periods, freq, axis = 20, 43_800, "1h", ("year",)
        start = "2020-01-01"
    step = {"15min": 900, "1h": 3600}[freq]

    path = tempfile.mkdtemp(prefix=f"holc_perf_{shape}_")
    shutil.rmtree(path, ignore_errors=True)
    cfg = ChunkStoreConfig(keys=("key",), freq=freq, tz="Europe/Paris",
                           chunk_axis=axis, key_types={"key": "str"})
    store = ChunkStore(spark, path, cfg)

    keys = spark.range(n_keys).select(
        F.concat(F.lit("serie_"), F.col("id")).alias("key")
    )
    src = keys.withColumn(
        "ts",
        F.explode(
            F.sequence(
                F.lit(start).cast("timestamp"),
                F.lit(start).cast("timestamp")
                + F.expr(f"INTERVAL {step * (periods - 1)} SECOND"),
                F.expr(f"INTERVAL {step} SECOND"),
            )
        ),
    ).withColumn("value", F.rand(seed=42))

    t0 = time.perf_counter()
    store.ingest_long(src, mode="insert")
    t_insert = time.perf_counter() - t0
    n_rows = n_keys * periods

    # read-back: every key sequentially for h2; a 50-key sample for h1
    read_keys = [f"serie_{i}" for i in range(n_keys if shape == "h2" else 50)]
    t0 = time.perf_counter()
    for k in read_keys:
        s = store.get_ts({"key": k})
        assert s is not None and len(s) >= periods - 1
    t_read = time.perf_counter() - t0

    # batched point reads: same keys, ONE Spark job via get_many_ts(list)
    t0 = time.perf_counter()
    batched = store.get_many_ts([{"key": k} for k in read_keys])
    t_batch = time.perf_counter() - t0
    assert len(batched) == len(read_keys)
    assert all(len(s) >= periods - 1 for s in batched.values())

    # full scan (yield_many equivalent volume): distributed agg over all rows
    t0 = time.perf_counter()
    got = store.alive_data().groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).collect()[0]
    t_scan = time.perf_counter() - t0

    print(
        f"{shape}: rows={n_rows:,} scanned={got['n']:,} "
        f"insert={t_insert:.1f}s ({n_rows / t_insert / 1e6:.2f}M rows/s) "
        f"read[{len(read_keys)} keys]={t_read:.1f}s "
        f"({t_read / len(read_keys) * 1000:.0f}ms/key) "
        f"batch_read[{len(read_keys)} keys]={t_batch:.1f}s "
        f"({t_batch / len(read_keys) * 1000:.0f}ms/key) "
        f"scan_all={t_scan:.1f}s ({got['n'] / t_scan / 1e6:.1f}M rows/s)"
    )
    shutil.rmtree(path, ignore_errors=True)
    spark.stop()


def run_opt() -> None:
    """Round 10: measure that optimize() is O(fragmentation), not
    O(table) — fragment ONE month chunk of a 24-chunk table, binpack it,
    and contrast with the O(table) compact() on the same store."""
    import pandas as pd

    from holcstore_spark import ChunkStoreConfig, get_spark
    from holcstore_spark.sources.chunk_store import ChunkStore

    spark = get_spark(app_name="holc-perf-opt")
    path = tempfile.mkdtemp(prefix="holc_perf_opt_")
    shutil.rmtree(path, ignore_errors=True)
    cfg = ChunkStoreConfig(keys=("key",), freq="1h", tz="UTC",
                           chunk_axis=("year", "month"),
                           key_types={"key": "str"})
    store = ChunkStore(spark, path, cfg)
    # base table: 100 keys × 2 years hourly ≈ 1.75M rows over 24 chunks
    keys = spark.range(100).select(
        F.concat(F.lit("serie_"), F.col("id")).alias("key"))
    src = keys.withColumn(
        "ts", F.explode(F.sequence(
            F.lit("2021-01-01").cast("timestamp"),
            F.lit("2022-12-31 23:00").cast("timestamp"),
            F.expr("INTERVAL 1 HOUR"),
        ))).withColumn("value", F.rand(seed=7))
    store.ingest_long(src, mode="insert")
    n_rows = store.alive_data().count()
    # fragment exactly ONE chunk: 8 small appends into 2021-01
    jan = pd.Series(
        1.0, index=pd.date_range("2021-01-01", "2021-01-31 23:00",
                                 freq="1h", tz="UTC"))
    for i in range(8):
        store.set_ts({"key": f"frag_{i}"}, jan)
    n_files = len(store._txlog.snapshot().files["data"])
    t0 = time.perf_counter()
    n_chunks = store.optimize(min_files=4)
    t_opt = time.perf_counter() - t0
    n_files_after = len(store._txlog.snapshot().files["data"])
    t0 = time.perf_counter()
    store.compact()
    t_compact = time.perf_counter() - t0
    print(
        f"opt: rows={n_rows:,} files {n_files}->{n_files_after} "
        f"(repacked {n_chunks} of 24 chunks) "
        f"optimize={t_opt:.2f}s vs full compact={t_compact:.1f}s "
        f"({t_compact / t_opt:.0f}x)"
    )
    shutil.rmtree(path, ignore_errors=True)
    spark.stop()


def run_lookup() -> None:
    """Round 10: measure manifest key-stats file skipping on the read
    path — a fragmented chunk (one file per inserted series), point
    lookups timed with the pruning live vs disabled (the one skipping
    rule, ``txlog.may_hold``, monkeypatched to keep every file: chunk
    and key skipping off at every site), each as the arrow ``get_ts``
    and as the Spark ``alive_data().toPandas()``."""
    import pandas as pd

    import holcstore_spark.sources.txlog as txlog_mod
    from holcstore_spark import ChunkStoreConfig, get_spark
    from holcstore_spark.sources.chunk_store import ChunkStore

    spark = get_spark(app_name="holc-perf-lookup")
    path = tempfile.mkdtemp(prefix="holc_perf_lookup_")
    shutil.rmtree(path, ignore_errors=True)
    cfg = ChunkStoreConfig(keys=("key",), freq="1h", tz="UTC",
                           chunk_axis=("year", "month"),
                           key_types={"key": "str"})
    store = ChunkStore(spark, path, cfg)
    jan = pd.Series(
        1.0, index=pd.date_range("2021-01-01", "2021-01-31 23:00",
                                 freq="1h", tz="UTC"))
    n_series = 48
    for i in range(n_series):
        store.set_ts({"key": f"serie_{i:03d}"}, jan)
    n_files = len(store._txlog.snapshot().files["data"])
    probes = [f"serie_{i:03d}" for i in (3, 17, 29, 41)]

    def timed(tag):
        d = store.alive_data({"key": probes[0]})
        opened = len(d.inputFiles())
        t0 = time.perf_counter()
        for p in probes:
            store.get_ts({"key": p})
        t_keyed = (time.perf_counter() - t0) / len(probes)
        t0 = time.perf_counter()
        for p in probes:
            store.alive_data({"key": p}).toPandas()
        t_spark = (time.perf_counter() - t0) / len(probes)
        print(f"lookup[{tag}]: files_opened={opened}/{n_files} "
              f"get_ts={t_keyed * 1000:.0f}ms "
              f"alive_data.toPandas={t_spark * 1000:.0f}ms")

    timed("pruned")
    real = txlog_mod.may_hold
    txlog_mod.may_hold = lambda chunks=None, key_values=None: lambda e: True
    try:
        timed("unpruned")
    finally:
        txlog_mod.may_hold = real
    shutil.rmtree(path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    shape = sys.argv[1] if len(sys.argv) > 1 else "h2"
    {"opt": run_opt, "lookup": run_lookup}.get(shape, lambda: run(shape))()
