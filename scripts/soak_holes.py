"""completeness_holes soak: python scripts/soak_holes.py <repo> [variant]

Runs the operator of the library in ``<repo>`` (so two trees can be timed
with the same script). ``variant`` is ``sparse`` (default), ``nullheavy``
or ``both``.

sparse: 10k keys, 2-year hourly requested range (17,519 grid points/key
-> the r15 dense-grid shape materializes ~175M rows), but each key is only
~343 points present (one contiguous week + every-100th hour scattered)
-> ~3.4M present rows. Times the operator with the noop sink and prints
a result checksum for cross-tree equality.

nullheavy: the same keys fed through ``reindex_to_grid`` first (each key's
own [min, max] span), so about 98 % of the rows carry a NULL value. The
reindexed rows are written to parquet once, outside the timed region;
each rep scans them and writes the holes to the noop sink. Prints the
time and the shuffle bytes (written + read, from the event log) of each
rep, and the same checksum as the sparse variant (the holes are equal).

``SOAK_KEYS`` overrides the key count; ``SPARK_GRAFT_CPUS`` the cores.
Shuffle and scratch files go to ``SPARK_GRAFT_LOCAL_DIR`` if set.
"""
import json, os, shutil, sys, tempfile, time

repo = sys.argv[1]
variant = sys.argv[2] if len(sys.argv) > 2 else "sparse"
sys.path.insert(0, repo)
os.chdir(repo)
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from pyspark.sql import functions as F
from holcstore_spark import get_spark
from holcstore_spark.operators.grid import completeness_holes, reindex_to_grid

work = tempfile.mkdtemp(prefix="soak_holes_")
log_dir = os.path.join(work, "events")
os.makedirs(log_dir)
spark = get_spark(app_name="soak_holes", extra_conf={
    "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
    "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
})
spark.range(1_000_000).selectExpr("sum(id)").collect()
sc = spark.sparkContext

N_KEYS = int(os.environ.get("SOAK_KEYS", 10_000))
SPAN_H = 17_519          # hourly points in [2024-01-01, 2025-12-31 23:00]
BOUNDS = {"start": "2024-01-01 00:00:00", "end": "2025-12-31 23:30:00"}
keys = spark.range(N_KEYS).withColumnRenamed("id", "k")
# one contiguous week starting at a key-derived offset + scattered points
present = keys.selectExpr(
    "k",
    f"explode(concat("
    f"  sequence((k*37) % 15000, (k*37) % 15000 + 167),"           # the week
    f"  transform(sequence(0, {SPAN_H//100 - 1}), i -> (i*100 + k % 100)))"  # scattered
    f") AS h"
).where(f"h < {SPAN_H}").distinct()
df = present.select(
    F.col("k"),
    F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,h,0,0)").alias("ts"),
    (F.col("k") + F.col("h")).cast("double").alias("value"),
)
n_present = df.count()   # materialize fixture cost OUTSIDE the timed region? No:
# the operator input is the lazy frame either way; keep lineage identical in
# both trees and time the whole pipeline (same fixture lineage cost in both).


def shuffle_mb(group: str) -> float:
    """Shuffle bytes (written + read) of the jobs of one job group, read
    from the application's event log (flushed as it goes)."""
    [name] = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    with open(os.path.join(log_dir, name)) as fh:
        events = [json.loads(line) for line in fh]
    stages, out = set(), 0
    for ev in events:
        if (ev.get("Event") == "SparkListenerJobStart"
                and (ev.get("Properties") or {}).get("spark.jobGroup.id") == group):
            stages.update(ev.get("Stage IDs", []))
    for ev in events:
        if ev.get("Event") == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
            m = ev.get("Task Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            w = m.get("Shuffle Write Metrics") or {}
            out += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    + w.get("Shuffle Bytes Written", 0))
    return out / 1e6


def timed(name: str, src, reps: int) -> None:
    for rep in range(reps):
        group = f"{name}-rep{rep}"
        sc.setJobGroup(group, f"holes soak {name} rep{rep}")
        t0 = time.perf_counter()
        holes = completeness_holes(src, keys=("k",), freq_seconds=3600, **BOUNDS)
        holes.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(1)   # let the event log catch up with the last task ends
        print(f"{name} rep{rep}: {dt:.2f}s shuffle={shuffle_mb(group):.3f}MB",
              flush=True)
    agg = completeness_holes(src, keys=("k",), freq_seconds=3600, **BOUNDS).agg(
        F.count(F.lit(1)).alias("n_holes"),
        F.sum(F.hash("k", "hole_start", "hole_end").cast("long")).alias("chk"),
    ).collect()[0]
    print(f"{name}: n_holes={agg['n_holes']} chk={agg['chk']}", flush=True)


try:
    print(f"keys={N_KEYS} present={n_present}", flush=True)
    if variant in ("sparse", "both"):
        timed("sparse", df, 3)
    if variant in ("nullheavy", "both"):
        path = os.path.join(work, "nullheavy")
        reindex_to_grid(df, ("k",), 3600).write.parquet(path)
        dense = spark.read.parquet(path)
        n = dense.count()
        n_null = dense.filter(F.col("value").isNull()).count()
        print(f"nullheavy rows={n} null={n_null / n:.1%}", flush=True)
        timed("nullheavy", dense, 2)
finally:
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
