"""Job-boundary cleanup for operator-internal persist() caches.

Multi-pass operators (MinHash banding, sign-LSH, SemDeDup) persist an
intermediate so one action doesn't recompute the expensive branch per
DAG arm. The operator returns a LAZY plan, so it cannot unpersist —
the cache must outlive the function and die at the *job* boundary,
which only the caller knows. Spark's CacheManager holds strong
references to DataFrame caches (they are NOT garbage-collected with
the Python object), so an un-released cache leaks executor memory for
the session lifetime — a real problem for the serve daemon and any
benchmarking loop.

Contract: operators register every internal ``persist()`` via
:func:`scratch`; harness loops (bench, the oracle checker, the serve
tick) call :func:`release_scratch` when the job's actions are done.
Forgetting to release degrades to the old behavior (leak until
``spark.catalog.clearCache()``), never to a wrong answer.

Scoping: registration is keyed by the REGISTERING THREAD — the plan is
built (and its actions usually run) on the thread that called the
operator, so the thread is the job token. ``release_scratch`` frees
only the calling thread's frames plus frames whose registering thread
has exited (a serve tick's pool workers are dead by the tick-boundary
release; their frames must not outlive the tick). A process-global
release would let one job's boundary silently unpersist a cache a
concurrent job on another thread is mid-way through reusing — safe but
defeating the persist().
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
# thread ident -> (thread object, frames). The Thread object both
# detects liveness and disambiguates ident reuse after a thread exits.
_SCRATCH: dict[int, tuple[threading.Thread, list[DataFrame]]] = {}


def scratch(df: DataFrame) -> DataFrame:
    """Register an operator-internal persisted frame for deferred
    cleanup and return it unchanged (wraps ``x.persist()`` call sites)."""
    t = threading.current_thread()
    with _LOCK:
        ent = _SCRATCH.get(t.ident)
        if ent is None or ent[0] is not t:
            # fresh bucket; fold in any frames stranded under a reused
            # ident (their thread is gone — release with this bucket)
            _SCRATCH[t.ident] = ent = (t, [] if ent is None else ent[1])
        ent[1].append(df)
    return df


def release_scratch(*, all_threads: bool = False) -> int:
    """Unpersist the calling thread's registered scratch frames — plus
    frames registered by threads that have since exited — and return how
    many were released (non-blocking). ``all_threads=True`` frees
    everything regardless of owner (process shutdown / tests). Safe to
    call at any time: plans that still reference a released frame
    recompute instead of failing."""
    me = threading.current_thread()
    frames: list[DataFrame] = []
    with _LOCK:
        for ident, (t, fs) in list(_SCRATCH.items()):
            if all_threads or t is me or not t.is_alive():
                frames.extend(fs)
                del _SCRATCH[ident]
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def materialize(df: DataFrame) -> DataFrame:
    """Truncate lineage by materializing the frame — the per-round
    discipline of the iterative operators (graph rounds, suffix-array
    doubling): RELIABLE ``checkpoint()`` when the session has a
    checkpoint directory configured (the cluster posture —
    localCheckpoint blocks live on executors and die with them, so a
    lost executor fails the whole iterative query; a checkpoint dir on
    shared storage survives), else ``localCheckpoint`` (the local
    single-process posture, where executor loss is process death
    anyway and the local form skips the filesystem round-trip).
    Production wiring at session build: one line,
    ``spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")``, plus
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set by
    ``session.get_spark``) so the ContextCleaner deletes a checkpoint's
    files once its frame is garbage-collected."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
