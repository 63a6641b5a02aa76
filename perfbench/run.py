"""Benchmark driver for holcstore_spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Builds the workload's state from
``--seed`` (set-up is repeated and its median reported as ``setup_s``),
then runs the workload's closed loop and prints one JSON
object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The loop is a fixed amount of work, about ``--seconds`` long on a 4-core
host and never less than one cycle of every part. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json. ``--trace 1`` runs the same work
with every call in its own Spark job group and the event log on, and
reports the per-layer metrics.
Everything the run writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
HEAP = "1g"
#: Spark task slots. The calls are bound by per-job overhead, not by data,
#: so more slots do not make them faster; on a shared 4-core host, leaving
#: cores to the driver, the Python workers, JIT and GC made runs faster and
#: cut the run-to-run spread of call_gmean_ms from 0.16 to 0.04 (IQR/median,
#: five seeds of batch)
SPARK_CORES = 2


#: workload -> its parts
WORKLOADS = {
    "serve": ["serve.Serve"],
    "batch": ["ingest_sync.IngestSync", "analytics.Analytics", "corpus.Corpus"],
}


class Mix:
    """A workload: one or more parts whose calls run interleaved.

    A part has ``build(rep)``, ``cycle()`` (a generator that yields after
    each call) and ``cycle_s``, the nominal seconds of one warm cycle on a
    4-core host; a part whose store the loop writes also has
    ``stored_bytes()`` and ``live_rows()``.
    """

    def __init__(self, parts):
        self.parts = parts

    def build(self, rep: int) -> None:
        for p in self.parts:
            p.build(rep)

    def warm_up(self) -> None:
        """One cycle of every part: every operation type runs once."""
        for p in self.parts:
            for _ in p.cycle():
                pass

    def measure(self, seconds: float) -> None:
        """A fixed amount of work: each part runs ``round(seconds /
        cycle_s)`` whole cycles, at least one, so every operation type is
        measured and every run of a seed makes the same calls. The parts'
        calls interleave round-robin."""
        def cycles(p):
            for _ in range(max(1, round(seconds / p.cycle_s))):
                yield from p.cycle()

        gens = [cycles(p) for p in self.parts]
        while gens:
            for g in list(gens):
                if next(g, StopIteration) is StopIteration:
                    gens.remove(g)

    def bytes_per_row(self) -> float:
        """Bytes on disk per live row, over the parts that keep a store
        the loop writes to."""
        stores = [p for p in self.parts if hasattr(p, "stored_bytes")]
        return (sum(p.stored_bytes() for p in stores)
                / sum(p.live_rows() for p in stores))


def make_workload(name: str, *args) -> Mix:
    parts = []
    for ref in WORKLOADS[name]:
        module, cls = ref.split(".")
        parts.append(getattr(importlib.import_module(module), cls)(*args))
    return Mix(parts)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: the smoke test's size")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the library
    importable by Spark's Python workers."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CORES, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["TZ"] = "UTC"
    time.tzset()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident set then does not
        # depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(spec, bench, setup_s, bytes_per_row, rss) -> dict:
    from harness import gmean

    calls = [x for xs in bench.samples.values() for x in xs]
    values = {
        "setup_s": setup_s,
        "call_gmean_ms": gmean(calls) * 1000.0,
        "bytes_per_row": bytes_per_row,
        "peak_rss_mb": rss,
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]}


def per_layer(spec, bench, table, unattributed) -> dict:
    """Map the traced run onto the per-layer names of BENCHMARK.json:
    ``<module>.<verb>.<stat>``, ``txlog.<module>.<verb>.commits`` and
    ``bench.<stat>``. A verb this workload never calls reports 0."""
    from harness import gmean, median

    calls = [x for xs in bench.samples.values() for x in xs]
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name.startswith("txlog."):
            xs = bench.commits.get(name[len("txlog."):-len(".commits")], [])
            v = sum(xs) / len(xs) if xs else 0.0
        elif name == "bench.unattributed_jobs":
            v = unattributed
        elif name == "bench.call_gmean_ms":
            v = gmean(calls) * 1000.0
        else:
            verb, stat = name.rsplit(".", 1)
            rows = table.get(verb, [])
            if stat == "p50_ms":
                v = median([r["wall_ms"] for r in rows])
            else:
                v = sum(r[stat] for r in rows) / len(rows) if rows else 0.0
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def print_table(table, unattributed) -> None:
    """Human-readable per-layer table, on standard error."""
    from harness import median

    print(f"# {'verb':34s} {'calls':>5s} {'p50_ms':>8s} {'jobs':>6s} "
          f"{'cpu_s':>7s} {'shuf_mb':>8s} {'spill_mb':>8s} {'driver_s':>8s}",
          file=sys.stderr)
    for verb in sorted(table):
        rows = table[verb]
        n = len(rows)
        avg = {k: sum(r[k] for r in rows) / n
               for k in ("jobs", "task_cpu_s", "shuffle_mb", "spill_mb", "driver_s")}
        p50 = median([r["wall_ms"] for r in rows])
        print(f"# {verb:34s} {n:5d} {p50:8.1f} {avg['jobs']:6.2f} "
              f"{avg['task_cpu_s']:7.3f} {avg['shuffle_mb']:8.3f} "
              f"{avg['spill_mb']:8.3f} {avg['driver_s']:8.3f}", file=sys.stderr)
    print(f"# unattributed jobs: {unattributed}", file=sys.stderr)


def run(args, work: str) -> dict:
    import numpy as np

    from harness import Bench, elapsed, layer_table, median, peak_rss_mb

    from holcstore_spark import get_spark

    spec = load_spec()
    prepare_env(work)
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=spark_conf(work, bool(args.trace)))
    try:
        bench = Bench(spark, trace=bool(args.trace))
        rng = np.random.default_rng(args.seed)
        wl = make_workload(args.workload, spark, bench, work, rng, args.size)
        builds = [elapsed(lambda: wl.build(rep)) for rep in range(SETUP_REPS)]
        warm = elapsed(wl.warm_up)
        print(f"# builds (s): {[round(t, 3) for t in builds]}, warm-up: {warm:.3f}s",
              file=sys.stderr)
        print(f"# inputs {bench.inputs.hexdigest()}", file=sys.stderr)

        bench.measuring = True
        t0 = time.perf_counter()
        wl.measure(args.seconds)
        bench.measuring = False
        print(f"# loop: {time.perf_counter() - t0:.2f}s, {bench.attempted} calls",
              file=sys.stderr)
        for verb, xs in sorted(bench.samples.items()):
            print(f"# {verb}: {[round(x * 1000) for x in xs]} ms", file=sys.stderr)
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        bpr = wl.bytes_per_row()
    finally:
        stop_spark(spark)
    if args.trace:
        table, unattributed = layer_table(bench, os.path.join(work, "eventlog"))
        print_table(table, unattributed)
        metrics = per_layer(spec, bench, table, unattributed)
    else:
        metrics = end_to_end(spec, bench, median(builds) + warm, bpr, rss)
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "holcstore_spark", "__init__.py")):
        print(f"perfbench: no holcstore_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
