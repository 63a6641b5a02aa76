"""Timing, tracing and result plumbing shared by the workloads.

A workload drives the public ``holcstore_spark`` API through a
:class:`Bench`. Every call into the library goes through
:meth:`Bench.call`, which times it (the result is materialised inside the
timed region), checks its output outside the timed region, and counts it
as attempted or failed.

With tracing on, each call also runs under its own Spark job group, and
the set-up passes ``spark.eventLog.enabled`` so that after the session
stops :func:`layer_table` can join the event log's job starts to the
task-end metrics of each call.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

_LOG_RECORD = re.compile(r"^\d{20}\.json$")

#: the job group of Spark work the harness itself runs (oracles, checks)
HARNESS_GROUP = "perfbench-harness"


class CheckFailed(Exception):
    """An operation returned a result that differs from the model."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def log_version(root: str) -> int:
    """Highest committed transaction-log version under ``root`` (0 when the
    log is empty), read from the directory listing alone."""
    d = os.path.join(root, "_txlog")
    if not os.path.isdir(d):
        return 0
    vs = [int(f[:20]) for f in os.listdir(d) if _LOG_RECORD.match(f)]
    return max(vs, default=0)


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set of this Python process plus the JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


class Bench:
    """Times, checks and (optionally) traces the calls of one run."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        #: verb -> wall seconds of every measured call
        self.samples: dict[str, list[float]] = defaultdict(list)
        #: verb -> new transaction-log versions per call (traced runs)
        self.commits: dict[str, list[int]] = defaultdict(list)
        #: traced calls and child spans:
        #: (verb, group, t0_ms, t1_ms, jobs in group per status tracker)
        self.spans: list[tuple] = []
        self.measuring = False
        #: digest of the inputs generated at set-up (same seed, same digest)
        self.inputs = hashlib.sha256()
        self._seq = 0

    def note_input(self, data) -> None:
        """Fold generated input (a pandas frame or numpy array) into the
        input digest."""
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            data = pd.util.hash_pandas_object(data, index=False).to_numpy()
        self.inputs.update(data.tobytes())

    # -- calls -----------------------------------------------------------
    def call(self, verb: str, fn, check=None, logs=()):
        """Run ``fn()`` as one call of ``verb``; return its result, or None
        when it raised or failed its check.

        ``check(result)`` runs after the timed region and raises
        :class:`CheckFailed` (or any error) on a wrong result. ``logs``
        are store roots whose transaction-log versions the call may
        advance; traced runs record the delta per call.
        """
        before = [log_version(p) for p in logs] if self.trace else []
        group = None
        if self.trace:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            self.sc.setJobGroup(group, verb)
        t0_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        ok = True
        try:
            out = fn()
        except Exception:
            ok, out = False, None
            print(f"# {verb} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
        dt = time.perf_counter() - t0
        t1_ms = time.time() * 1000.0
        if self.trace:
            # the check and any harness work until the next call
            self.sc.setJobGroup(HARNESS_GROUP, "benchmark harness")
            if self.measuring:
                n_group = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self.spans.append((verb, group, t0_ms, t1_ms, n_group))
                self.commits[verb].append(
                    sum(log_version(p) for p in logs) - sum(before))
        # set-up and warm-up calls are not checked: every measured call
        # that follows checks the state they left
        if ok and check is not None and self.measuring:
            try:
                check(out)
            except Exception:
                ok = False
                print(f"# {verb} check failed:\n{traceback.format_exc()}",
                      file=sys.stderr)
        if self.measuring:
            self.attempted += 1
            self.samples[verb].append(dt)
            self.failed += not ok
        else:
            print(f"# set-up call {verb}: {dt:.3f}s", file=sys.stderr)
            if not ok:
                # a run whose set-up failed measures nothing
                raise CheckFailed(f"set-up call {verb} failed")
        return out if ok else None

    @contextmanager
    def span(self, verb: str):
        """A child span inside a call (traced runs only), for a layer the
        call passes through, e.g. the plan build of ``alive_data``."""
        if not (self.trace and self.measuring):
            yield
            return
        t0_ms = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append((verb, None, t0_ms, time.time() * 1000.0, 0))


# -- statistics ------------------------------------------------------------
def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def elapsed(fn) -> float:
    """Wall seconds ``fn()`` takes."""
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# -- event log -------------------------------------------------------------
def _lines(files):
    for p in files:
        with open(p) as f:
            yield from f


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the single application event log in ``log_dir``.

    Returns ``jobs`` (job id -> dict with group, submit and end times in
    epoch ms, and stage ids) and ``stage_metrics`` (stage id -> summed task
    metrics).
    """
    entries = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {entries}")
    path = os.path.join(log_dir, entries[0])
    if os.path.isdir(path):
        # rolling (v2) layout: events_<n>_<app id> parts plus a status marker
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f)
                 for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "t0": float(ev["Submission Time"]),
                "t1": float(ev["Submission Time"]),
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            s = stages[ev["Stage ID"]]
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r = m.get("Shuffle Read Metrics") or {}
            w = m.get("Shuffle Write Metrics") or {}
            s["shuffle_b"] += (r.get("Remote Bytes Read", 0)
                               + r.get("Local Bytes Read", 0)
                               + w.get("Shuffle Bytes Written", 0))
            s["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
    return jobs, stages


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_table(bench: Bench, log_dir: str) -> tuple[dict, int]:
    """Per-verb layer statistics of a traced run, and the number of jobs
    that ran inside a call's window without carrying the call's job group.

    A job belongs to the call or span whose wall-clock window contains its
    submission; the client is single-threaded, so windows of top-level
    calls never overlap. Harness jobs carry their own group and are skipped.
    """
    jobs, stages = read_event_log(log_dir)
    stage_job = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)
    job_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for sid, m in stages.items():
        if sid in stage_job:
            for k, v in m.items():
                job_metrics[stage_job[sid]][k] += v
    work = [(j["t0"], jid) for jid, j in jobs.items()
            if j["group"] != HARNESS_GROUP]
    work.sort()

    per_verb: dict[str, list[dict]] = defaultdict(list)
    unattributed = 0
    for verb, group, t0, t1, n_group in bench.spans:
        lo, hi = t0 - 1.0, t1 + 1.0
        mine = [jid for ts, jid in work if lo <= ts <= hi]
        if group is not None:
            unattributed += max(0, len(mine) - n_group)
        covered = _covered_ms(
            [(jobs[j]["t0"], jobs[j]["t1"]) for j in mine], t0, t1)
        per_verb[verb].append({
            "wall_ms": t1 - t0,
            "jobs": len(mine),
            "driver_s": max(0.0, (t1 - t0) - covered) / 1000.0,
            "task_cpu_s": sum(job_metrics[j]["cpu_s"] for j in mine),
            "shuffle_mb": sum(job_metrics[j]["shuffle_b"] for j in mine) / 2**20,
            "spill_mb": sum(job_metrics[j]["spill_b"] for j in mine) / 2**20,
        })
    return per_verb, unattributed
