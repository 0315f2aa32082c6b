"""Bounded broadcast semi-join helper, per-run persist tracking, and the
one eager-checkpoint policy (local vs reliable) the pipeline and connected
components share.

The pipeline repeatedly carves "rows whose id appears in this (usually
small) id set" out of a wide cached table. A forced ``F.broadcast`` hint is
the fast plan — the wide side never shuffles — but the hint bypasses
autoBroadcastJoinThreshold, and several of these id sets are corpus- or
candidate-scaled, so an unconditional hint OOMs at production scale
(ADVICE r1). AQE alone doesn't save the hint-free form either: the wide
side's shuffle is already materialized by the time AQE could downgrade the
join, which measured 3.4x slower end-to-end at sf0.1.

So the broadcast is chosen from a bound the run already holds, never from
a job run to size the id set: every pipeline id set is a set of doc ids,
bounded by a doc count observed on an action that fills a leaf. At or
under the limit the ids broadcast; with no bound, or a bound above the
limit, the semi-join shuffles, which is correct at every size. Above the
limit that includes the small candidate-pair id sets, so the wide side
shuffles too: at 200,000 pages (4-core host, limit 100,000) dedup wrote
39% more shuffle bytes than counting and broadcasting them, and ran 34%
faster, because each count re-ran the candidate stages.

Persist tracking is scoped per run (ADVICE r3): each pipeline run collects
the frames it persists into its own ``PersistScope`` so releasing one run's
caches can never evict another in-flight run's (e.g. an IncrementalDedup
batch releasing while a plain dedup()'s lazy counters are still pending).
``release_persisted()`` remains as the end-of-driver bulk release: it frees
the default scope AND every still-registered run scope.
"""

from __future__ import annotations

import os
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from webdedup.config import BROADCAST_ID_LIMIT

#: guards every _LIVE_SCOPES mutation: a streaming micro-batch thread can
#: track_persist() concurrently with a main-thread release_persisted(), and
#: unsynchronized check-then-act on the shared list can double-register a
#: scope or raise from list.remove (ADVICE r4)
_SCOPES_LOCK = threading.Lock()


#: storage level for every cache and local checkpoint a run takes: the
#: DataFrame default (also Spark's localCheckpoint default). The serialized
#: MEMORY_AND_DISK measured slower at 8 cores (BASELINE.md round 4).
PERSIST_LEVEL = StorageLevel.MEMORY_AND_DISK_DESER


def checkpointer(spark, checkpoint_dir: str | None = None):
    """Return ``fn(df)`` that materializes ``df`` NOW as a lineage-free
    ``LogicalRDD`` leaf: every plan built on the result reads the stored
    rows instead of re-planning (and re-running) the upstream DAG.

    localCheckpoint at :data:`PERSIST_LEVEL` is the fast default. Its
    blocks live on executors, so an executor loss fails the job; on
    clusters with executor churn pass ``checkpoint_dir`` (an HDFS /
    object-store directory) for RELIABLE checkpoints instead. The env
    fallback ``WEBDEDUP_CC_CHECKPOINT_DIR`` applies when the argument is
    None. Free the result with :func:`free_checkpoint` once nothing will
    re-materialize a plan derived from it.
    """
    if checkpoint_dir is None:
        checkpoint_dir = os.environ.get("WEBDEDUP_CC_CHECKPOINT_DIR") or None
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        return lambda df: df.checkpoint(eager=True)
    return lambda df: df.localCheckpoint(eager=True, storageLevel=PERSIST_LEVEL)


def _checkpoint_rdd(df: DataFrame):
    return df._jdf.queryExecution().analyzed().rdd()


def free_checkpoint(df: DataFrame) -> None:
    """Release a checkpointed frame's RDD blocks (and files) NOW.

    ``spark.catalog.clearCache()``/``DataFrame.unpersist()`` cannot reach
    them (they belong to the checkpoint RDD, not the CacheManager), and
    waiting for the ContextCleaner needs a driver GC cycle that may come
    only after the heap is already full. A RELIABLE checkpoint also owns
    an ``rdd-N`` directory that Spark never deletes by default
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` is off and
    GC-timed anyway) — a long-lived session would otherwise grow one
    directory per checkpoint until the volume fills, so the files are
    deleted here too. The two steps are independent best-effort cleanups:
    a failed unpersist never skips the file delete. Only call once nothing
    will ever re-materialize a plan derived from ``df`` (the blocks/files
    ARE the truncated lineage — a later action would raise
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND or a missing-file error, not
    recompute).
    """
    try:
        rdd = _checkpoint_rdd(df)
    except Exception:
        return  # session gone / non-RDD plan — nothing to free
    try:
        rdd.unpersist(False)
    except Exception:
        pass  # best-effort; the file delete below still runs
    try:
        f = rdd.getCheckpointFile()  # scala Option; empty for localCheckpoint
        if f is not None and f.isDefined():
            sc = df.sparkSession.sparkContext
            p = sc._jvm.org.apache.hadoop.fs.Path(f.get())
            fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(p, True)
    except Exception:
        pass  # fs unreachable — best-effort


class PersistScope:
    """Frames persisted by one pipeline run, released together.

    ``release()`` must only be called once every result derived from the
    scoped caches has been fully materialized (outputs written / collected).
    For plain persisted frames a lazy frame consumed afterwards merely
    recomputes instead of reading the cache (correct, just slower) — but a
    scope can also hold ``add_callback`` release actions that free
    checkpoint blocks/files (the pipeline's featurize leaf, the
    connected-components labels), and a frame
    whose lineage such a callback truncates CANNOT be re-materialized
    after release (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), so the
    materialize-before-release rule is a hard contract, not a perf hint.
    """

    def __init__(self):
        self._frames: list[DataFrame] = []
        self._callbacks: list = []
        with _SCOPES_LOCK:
            _LIVE_SCOPES.append(self)

    def add(self, df: DataFrame) -> DataFrame:
        df.persist(PERSIST_LEVEL)
        self._frames.append(df)
        # a scope can be bulk-released (release_persisted on another
        # thread) while still active on this thread's stack; the moment it
        # tracks a new frame it must be live again or that frame escapes
        # every future bulk release
        with _SCOPES_LOCK:
            if self not in _LIVE_SCOPES:
                _LIVE_SCOPES.append(self)
        return df

    def add_callback(self, fn) -> None:
        """Register an arbitrary release action (e.g. freeing a
        localCheckpoint's RDD blocks, which DataFrame.unpersist cannot
        reach). Runs once at release(); after that, frames whose lineage
        the callback truncates must not be re-materialized."""
        self._callbacks.append(fn)
        with _SCOPES_LOCK:
            if self not in _LIVE_SCOPES:
                _LIVE_SCOPES.append(self)

    def release(self) -> int:
        n = len(self._frames) + len(self._callbacks)
        for df in self._frames:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped / frame gone — best-effort
        self._frames.clear()
        for fn in self._callbacks:
            try:
                fn()
            except Exception:
                pass
        self._callbacks.clear()
        with _SCOPES_LOCK:
            if self in _LIVE_SCOPES:
                _LIVE_SCOPES.remove(self)
        return n


#: bottom scope: frames tracked outside any run scope (driver-query helpers)
_DEFAULT_SCOPE = PersistScope.__new__(PersistScope)
_DEFAULT_SCOPE._frames = []
_DEFAULT_SCOPE._callbacks = []
#: every scope not yet released — release_persisted() drains all of them
_LIVE_SCOPES: list[PersistScope] = [_DEFAULT_SCOPE]

# The active-scope stack is THREAD-LOCAL: Structured Streaming runs
# foreachBatch (→ IncrementalDedup.process → scoped_persists) on the
# stream-execution thread while the main thread may be inside its own
# dedup() run — a shared stack would route one thread's track_persist
# calls into the other thread's scope and let a finishing micro-batch
# release a concurrent run's caches mid-flight. Each thread starts at the
# shared default scope.
_TLS = threading.local()


def _stack() -> list:
    s = getattr(_TLS, "stack", None)
    if s is None:
        s = _TLS.stack = [_DEFAULT_SCOPE]
    return s


class scoped_persists:
    """Context manager: route this THREAD's track_persist() calls to a
    fresh PersistScope for the duration of the block WITHOUT releasing on
    exit (the run's results are lazy — the caller releases via the
    returned scope once they are materialized)."""

    def __enter__(self) -> PersistScope:
        self.scope = PersistScope()
        _stack().append(self.scope)
        return self.scope

    def __exit__(self, *exc) -> None:
        # pop by identity: a mis-nested exit (another context exited out of
        # order on this thread) must not silently mis-route later tracking
        s = _stack()
        if s and s[-1] is self.scope:
            s.pop()
        elif self.scope in s:
            s.remove(self.scope)


def track_persist(df: DataFrame) -> DataFrame:
    """persist() + register with this thread's innermost scope."""
    return _stack()[-1].add(df)


def track_release(fn) -> None:
    """Register a release callback with this thread's innermost scope."""
    _stack()[-1].add_callback(fn)


def track_checkpoint(df: DataFrame) -> DataFrame:
    """Eager :func:`checkpointer` leaf of ``df``, freed with this thread's
    innermost scope."""
    leaf = checkpointer(df.sparkSession)(df)
    track_release(lambda: free_checkpoint(leaf))
    return leaf


def release_persisted() -> int:
    """Unpersist EVERY tracked frame in every live scope; returns the count.

    This is the single-tenant end-of-driver-run barrier (bench reps, CLI
    exit). Runs that must not disturb others release their own
    ``PersistScope`` instead.
    """
    n = 0
    with _SCOPES_LOCK:
        scopes = list(_LIVE_SCOPES)
    for scope in scopes:
        n += scope.release()
    with _SCOPES_LOCK:
        if _DEFAULT_SCOPE not in _LIVE_SCOPES:
            _LIVE_SCOPES.append(_DEFAULT_SCOPE)
    return n


def widen_if_narrow(df: DataFrame, factor: int = 2) -> DataFrame:
    """Round-robin repartition a low-parallelism frame up to the session's
    default parallelism — the fix for single-file / single-row-group inputs
    whose scan cannot be split (guide §2.5 "input skew"): without it every
    per-row stage (gram building, the featurize UDF) runs on ONE core.

    No-op whenever the frame already has >= cores/``factor`` partitions —
    any production-scale scan (many files / row groups) — so the extra
    text exchange is only ever paid on toy inputs where it is trivially
    cheap. Round-robin repartition is deterministic under retries
    (sort-before-repartition is on by default, SPARK-23207).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n * factor <= target:
        return df.repartition(target)
    return df


def semi_join_ids(
    df: DataFrame,
    ids: DataFrame,
    key: str,
    max_broadcast_ids: int = BROADCAST_ID_LIMIT,
    known_max: int | None = None,
) -> DataFrame:
    """df LEFT SEMI JOIN ids ON key, broadcasting ids iff ``known_max`` is
    at or under ``max_broadcast_ids``.

    ``ids`` must be a single-column (or key-containing) DataFrame.

    ``known_max`` is a caller-supplied upper bound on the id-set size (every
    pipeline id set is a set of doc ids, so one observed corpus/batch count
    bounds them all). ``None`` means no bound: the join shuffles. Either
    way the call runs no job and takes no cache.
    """
    if known_max is not None and known_max <= max_broadcast_ids:
        ids = F.broadcast(ids)
    return df.join(ids, key, "left_semi")
