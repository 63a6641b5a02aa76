"""Soak: ChunkStore ingest at ~17.5M dense rows — serial vs
overlapped meta staging (OPTIMIZATION_r17 entry 2), interleaved A/B.

2,000 keys x 1 year hourly (8,784 pts/key, 2024 is a leap year) ->
17.57M dense rows across 12 month chunks. The meta job is
metadata-sized (24k rows) regardless, so the win is its fixed job
latency + the driver-side plan construction, hidden under the data
write's task tail.

Usage: python scripts/soak_ingest_overlap.py [reps_per_side]
"""
from __future__ import annotations

import os
import sys
import tempfile
import shutil
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def probe() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    return time.perf_counter() - t0


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from holcstore_spark import get_spark, ChunkStoreConfig
    from holcstore_spark.sources import chunk_store as cs_mod
    from holcstore_spark.sources.chunk_store import ChunkStore
    from pyspark.sql import functions as F

    spark = get_spark(app_name="soak-ingest-overlap")
    src = (
        spark.range(2_000).select(F.col("id").alias("k"))
        .crossJoin(
            spark.range(8_784).select(
                F.timestamp_seconds(
                    F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
                    + F.col("id") * 3600
                ).alias("ts")
            )
        )
        .withColumn("value", (F.crc32(F.concat_ws("|", "k", "ts")) % 1000).cast("double"))
        .persist()
    )
    n = src.count()
    print(f"source rows: {n}")

    def serial(spark, *thunks):
        return [t() for t in thunks]

    orig = cs_mod.overlap_jobs
    pattern = (["serial", "overlap", "overlap", "serial"] * ((reps + 1) // 2))[: 2 * reps]
    res = {"serial": [], "overlap": []}
    for mode in pattern:
        cs_mod.overlap_jobs = serial if mode == "serial" else orig
        path = tempfile.mkdtemp(prefix="holc_soak_ov_")
        shutil.rmtree(path, ignore_errors=True)
        st = ChunkStore(spark, path, ChunkStoreConfig(
            keys=("k",), freq="1h", tz="UTC", chunk_axis=("year", "month"),
            key_types={"k": "int"}))
        p = probe()
        t0 = time.perf_counter()
        st.ingest_long(src, mode="insert")
        dt = time.perf_counter() - t0
        res[mode].append(dt)
        nm = st.latest_meta().count()
        print(f"{mode}: ingest={dt:.2f}s (probe {p:.2f}, meta rows {nm})")
        shutil.rmtree(path, ignore_errors=True)
    cs_mod.overlap_jobs = orig
    for m, v in res.items():
        print(f"{m}: min={min(v):.2f} all={[round(x, 2) for x in v]}")
    spark.stop()


if __name__ == "__main__":
    main()
