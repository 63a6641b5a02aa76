"""Shared storage helpers for the store classes."""

from __future__ import annotations

import os
# module-level so tests can substitute an instrumented executor (the
# cancellation regression gates on shutdown(cancel_futures=True))
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame


#: serializes the constraint-propagation fallback in
#: safe_local_checkpoint AND the scoped unpersist-warning mute in
#: release_local_checkpoint (both toggle JVM-global state)
_CKPT_CONF_LOCK = __import__("threading").Lock()


def safe_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` with a fallback for a Spark 4 analyzer bug.

    Checkpointing a plan whose ``Union`` children share source attribute
    ids (e.g. both branches derive from one crossJoin-built frame) can
    crash in ``UnionBase.rewriteConstraints`` with
    ``NoSuchElementException: key not found: <attr>`` while
    ``LogicalRDD.rewriteStatsAndConstraints`` rebuilds the constraint set.
    Retrying with constraint propagation disabled skips that rewrite; the
    conf is restored immediately, so only the single materialization loses
    the (optional) inferred-constraint optimizations.
    """
    try:
        return df.localCheckpoint(eager=eager)
    except Exception as e:  # Py4JJavaError, match on the Scala message
        if "key not found" not in str(e):
            raise
        spark = df.sparkSession
        key = "spark.sql.constraintPropagation.enabled"
        # the read-set-restore toggles a SESSION-global conf: two
        # threads hitting the fallback concurrently (racing ingests are
        # a supported path since the indexes stage from thread pools)
        # could otherwise "restore" each other's temporary value and
        # leave constraint propagation off for the whole session
        # (review r14) — serialize the rare fallback
        with _CKPT_CONF_LOCK:
            old = spark.conf.get(key, None)
            spark.conf.set(key, "false")
            try:
                return df.localCheckpoint(eager=eager)
            finally:
                if old is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, old)


def release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort unpersist of a ``localCheckpoint``-ed frame's blocks.

    ``Dataset.unpersist`` only covers CacheManager-cached plans; the
    blocks a local checkpoint pins live on the ``LogicalRDD``'s backing
    RDD, which nothing releases until the driver GCs the frame. A
    long-lived loop that checkpoints per iteration (the sync feed, the
    soak harnesses; ``_stage_by_chunk`` was the original r14 case
    until its r16 rewrite dropped the checkpoint entirely) would
    otherwise accumulate storage memory on the executors (advisor
    r14). Reaching the RDD
    goes through the analyzed plan (``LogicalRDD.rdd`` case-class
    accessor) — internals, so every failure mode is swallowed: the
    fallback is the old behavior (blocks released at driver GC).

    Call ONLY when no further reads of ``df`` will happen — after the
    per-chunk staging scans have all completed."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        rdd = plan.rdd()
        # unpersisting a locally-checkpointed RDD logs a WARN that its
        # lineage "cannot be recomputed" — true, intended, and
        # once-per-micro-batch log spam here. Mute the logger ONLY for
        # the duration of this unpersist (set/restore under a lock —
        # a permanent ERROR level would hide every future legitimate
        # MapPartitionsRDD warning in the JVM, review r15)
        with _CKPT_CONF_LOCK:
            try:
                jvm = df.sparkSession.sparkContext._jvm
                mgr = jvm.org.apache.logging.log4j.LogManager
                cfg = jvm.org.apache.logging.log4j.core.config.Configurator
                name = "org.apache.spark.rdd.MapPartitionsRDD"
                # restore the logger's OWN config, not its EFFECTIVE
                # level: getLogger(name).getLevel() reports the
                # inherited root level, and restoring that through
                # Configurator would pin an explicit logger config that
                # never existed, detaching the logger from future
                # root-level changes (ADVICE r15). If the config we see
                # belongs to an ancestor, the logger had no explicit
                # level — remove the one the mute creates afterwards.
                ctx = mgr.getContext(False)
                lconf = ctx.getConfiguration().getLoggerConfig(name)
                explicit = lconf.getName() == name
                old = lconf.getLevel() if explicit else None
                cfg.setLevel(name, jvm.org.apache.logging.log4j.Level.ERROR)
                try:
                    rdd.unpersist(False)
                finally:
                    if explicit:
                        cfg.setLevel(name, old)
                    else:
                        ctx.getConfiguration().removeLogger(name)
                        ctx.updateLoggers()
            except Exception:
                # logging plumbing unavailable: release without the mute
                rdd.unpersist(False)
    except Exception:
        pass


def has_parquet(path: str) -> bool:
    """True when ``path`` holds at least one parquet data file (a plain
    layout directory emptied by a rewrite keeps only ``_SUCCESS``)."""
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def claim_file_first_wins(target: str, payload: str) -> str:
    """Atomically claim ``target`` with ``payload`` — FIRST writer wins
    (os.link never overwrites, unlike os.replace's silent
    last-writer-wins). Returns the content that actually lives at
    ``target`` afterwards, so callers can validate what landed against
    what they wanted and raise their own domain error on mismatch.
    Shared by the frozen-config writers (store config, band index,
    vector index)."""
    try:
        with open(target) as f:
            return f.read()
    except FileNotFoundError:
        pass
    tmp = f"{target}.tmp-{os.getpid()}-{id(payload)}"
    with open(tmp, "w") as f:
        f.write(payload)
    try:
        os.link(tmp, target)
        os.unlink(tmp)
        return payload
    except FileExistsError:
        os.unlink(tmp)
        with open(target) as f:
            return f.read()


def overlap_jobs(spark, *thunks):
    """Run independent Spark-job-launching thunks CONCURRENTLY from a
    small driver thread pool and return their results in order (guide
    §2.6: actions are only sequential because driver code calls them
    sequentially — overlapping lets each job's tasks back-fill executor
    cores the others' task tails leave idle, so the wall-clock cost is
    ~max of the thunks instead of their sum). The one driver pool: the
    binpack repacks of every manifest table, ChunkStore's overlapped
    data/meta staging and ``similarity.train_subspace_books``'s
    per-subspace PQ trainings run through it.

    Callers must guarantee the thunks are independent: no shared
    mutable state beyond thread-safe accumulators, and no thunk reads
    files another writes. JVM-thread-local properties (job group /
    description / scheduler pool) are inherited into the pool threads
    via ``inheritable_thread_target``, so cancellation, UI labels and
    job-group attribution keep covering the concurrent jobs.

    On the first failure the still-QUEUED thunks are cancelled (a
    16-chunk repack must not run every queued write after one failed),
    in-flight ones are awaited, and the exception of the first failed
    thunk in argument order propagates (results of the others are
    discarded)."""
    from pyspark import inheritable_thread_target

    if len(thunks) == 1:
        return [thunks[0]()]
    pool = ThreadPoolExecutor(max_workers=min(len(thunks), 4))
    try:
        futs = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
        # wait on FIRST_EXCEPTION, not result() in submission order:
        # blocking on futs[0] would let the workers drain the whole
        # queue before a later thunk's failure ever propagated
        wait(futs, return_when=FIRST_EXCEPTION)
        if any(f.done() and f.exception() for f in futs):
            pool.shutdown(wait=True, cancel_futures=True)
            raise next(
                f.exception() for f in futs
                if not f.cancelled() and f.exception()
            )
        return [f.result() for f in futs]
    finally:
        pool.shutdown(wait=True)
