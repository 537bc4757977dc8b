"""Session-scoped cache registry.

Operators in this package ``persist()`` intermediate frames whose blocks
must outlive the operator call — the returned DataFrame's lineage still
references them, so the operator itself can never safely unpersist
(contrast ``dedup.remove_near_dups``, which localCheckpoints past its
postings and unpersists inline). In a one-shot job those blocks die with
the session; in a long-lived session (streaming, a notebook, a query
server) they would accumulate in executor storage memory until eviction
pressure.

The contract: every such persist is routed through :func:`track`, and the
session owner calls :func:`unpersist_all` whenever the frames returned by
prior operator calls are no longer needed (typically after their terminal
action). This frees exactly the blocks this package created — unlike
``spark.catalog.clearCache()`` it never touches caches the application
itself manages. Two caveats to that promise:

* operators only ever ``track`` frames DERIVED from caller input (a
  ``withColumn``/``select``/``distinct`` of it, never the caller's
  DataFrame object itself), and ``DataFrame.unpersist`` is non-cascading,
  so a cache the application holds on the same source is a separate
  CacheManager entry and survives ``unpersist_all``. If an application
  persists the *identical derived plan* an operator builds internally,
  Spark canonicalizes them to one entry and ``unpersist_all`` will drop
  it — pathological, but possible;
* the registry is guarded by a process-wide lock, so concurrent threads
  sharing one SparkSession may interleave ``track``/``unpersist_all``
  safely — but ``unpersist_all`` releases EVERY tracked frame, including
  those another thread still computes over (whose results then silently
  recompute from lineage). Scope one registry epoch per logical job if
  you run operators concurrently.
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_CKPT_SLOTS: dict[str, object] = {}  # slot -> JVM RDD backing a localCheckpoint
_LOCK = threading.Lock()


def track_local_checkpoint(df: DataFrame, slot: str) -> DataFrame:
    """Eager ``localCheckpoint`` with an explicit storage lifecycle:
    materialize ``df``, register the backing JVM RDD under ``slot``, and
    RELEASE the blocks of the previous checkpoint registered under the
    same slot.

    Why: localCheckpoint blocks otherwise free only when the JVM
    garbage-collects the dropped DataFrame — measured on back-to-back
    ``knn_graph`` serves, executor storage filled until later joins
    spilled (18→71→140 s for identical calls, BASELINE.md round-10
    repeated-serve table). Slot-keyed release caps a serving path at ONE
    live checkpoint regardless of how many times it is called.

    Contract: the frame a previous same-slot call returned becomes
    INVALID once the next call checkpoints (its lineage was truncated to
    the now-released blocks) — consume each serve's result before
    requesting the next, which every sequential query/bench/driver loop
    already does. Releasing is best-effort: if the JVM handle can't be
    resolved the new checkpoint still works, the old blocks just wait
    for GC as before."""
    return register_checkpoint(df.localCheckpoint(eager=True), slot)


def register_checkpoint(out: DataFrame, slot: str) -> DataFrame:
    """Register the RDD backing the already-checkpointed frame ``out``
    under ``slot`` and release the blocks of the previous checkpoint
    registered there — the slot lifecycle of
    :func:`track_local_checkpoint` for a LAZY ``localCheckpoint``, whose
    blocks are written by the first action that reads ``out``:
    registering launches no job. Same contract: consume a call's result
    before the next same-slot call releases it.

    A previous checkpoint that no action has materialized yet is only
    dropped from the slot, not released: a caller may build two frames
    before reading either, and a local checkpoint whose storage level
    was released before its first job fails an assertion that ends the
    whole Spark application."""
    handle = checkpoint_handle(out)
    with _LOCK:
        prev = _CKPT_SLOTS.pop(slot, None)
        if handle is not None:
            _CKPT_SLOTS[slot] = handle
    if prev is not None and _is_checkpointed(prev):
        release_handle(prev)
    return out


def _is_checkpointed(handle: object) -> bool:
    try:
        return bool(handle.isCheckpointed())
    except Py4JError:
        return False


def release_checkpoint(slot: str) -> bool:
    """Free the blocks of the checkpoint registered under ``slot`` (the
    explicit end-of-life call for a caller done with a serve's result
    before any next serve would release it implicitly). True if a
    registered checkpoint was released."""
    with _LOCK:
        prev = _CKPT_SLOTS.pop(slot, None)
    release_handle(prev)
    return prev is not None


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK — spills rather than OOMs) and
    register it for :func:`unpersist_all`. Returns the persisted frame."""
    df = df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def unpersist_all(blocking: bool = False) -> int:
    """Unpersist every frame this package cached since the last call.

    Safe to call at any time: results already materialized stay valid
    (unpersist only drops cached blocks; lineage recomputes on re-use).
    Returns the number of frames released.
    """
    with _LOCK:
        drained = list(_TRACKED)
        _TRACKED.clear()
    n = 0
    for df in drained:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            # A frame whose SparkSession already stopped has nothing to
            # release; never let cleanup raise.
            pass
    return n


def chain_local_checkpoint(df: DataFrame, prev: object | None) -> tuple[DataFrame, object | None]:
    """Eager ``localCheckpoint`` for ITERATIVE LOOP bodies: materialize
    ``df``, then release the blocks of the PREVIOUS round's checkpoint
    (optimization round 14, guide §5 — storage blocks are execution
    memory's competitor).

    A loop that checkpoints each round (connected_components, k_core,
    label_propagation, pagerank) supersedes round r's blocks the moment
    round r+1 is materialized: the new checkpoint truncates lineage, so
    nothing can ever read the old blocks again. Without an explicit
    release they wait for a driver JVM GC + ContextCleaner pass (py4j
    holds the Python-side references), and in a long multi-query session
    the dead rounds pile up in the block manager — measured in the bench
    session as rising GC time on the checkpoint-heavy rows
    (graph_part_communities: 34.7 s GC of 194 s task time at rep 2).

    Contract: ``prev`` must be a handle whose blocks are referenced ONLY
    through lineage that ``df`` replaces — i.e. pass the handle returned
    by the previous same-loop call, never a checkpoint something else
    still reads. Returns ``(checkpointed_df, handle)``; release of the
    final round's handle is the caller's choice (usually: don't — the
    returned frame still serves it).
    """
    out = df.localCheckpoint(eager=True)
    try:
        handle = out._jdf.queryExecution().analyzed().rdd()
    except Exception:
        handle = None
    release_handle(prev)
    return out, handle


def _internal_rows(df: DataFrame) -> object | None:
    """The JVM internal-row RDD behind ``df``, or None when that handle is
    unavailable (no ``_jdf``, or a py4j error naming the accessor). A job
    failure — ``toRdd`` runs the query stages of an adaptive plan — is a
    ``Py4JJavaError`` and propagates."""
    try:
        return df._jdf.queryExecution().toRdd()
    except Py4JJavaError:
        raise
    except (Py4JError, AttributeError):
        return None


def materialize_count(df: DataFrame) -> int:
    """Exact row count via the JVM internal-row RDD — ONE job with no
    exchange. ``Dataset.count()`` plans a global aggregate whose final
    stage is a separate AQE job, so in iterative loops a per-round
    count costs two jobs; the RDD count is the same full scan without
    the shuffle (and without PySpark's ``df.rdd`` pickling wrapper).

    Used to FUSE probe + checkpoint (optimization round 15): on a
    ``localCheckpoint(eager=False)`` frame the count computes every
    partition, persisting the checkpoint blocks as it goes, and the
    end-of-job ``doCheckpoint`` finds none missing — one job where
    eager-checkpoint-then-probe costs two. Falls back to
    ``Dataset.count()`` only if the internal handle is unavailable; a
    failing job raises its own error once instead of re-running the
    scan."""
    rdd = _internal_rows(df)
    return int(df.count()) if rdd is None else int(rdd.count())


def num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical RDD without constructing
    PySpark's pickled ``df.rdd`` wrapper (which plans a row-conversion
    per call — pure driver overhead on deep plans). ``toRdd`` is cached
    on the query execution, so after :func:`materialize_count` this is
    free."""
    rdd = _internal_rows(df)
    return int(df.rdd.getNumPartitions()) if rdd is None else int(rdd.getNumPartitions())


def checkpoint_handle(df: DataFrame) -> object | None:
    """JVM RDD handle backing an already-materialized localCheckpoint of
    ``df`` (for a later :func:`release_handle`), or None if unresolvable."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return None


def release_handle(handle: object | None) -> None:
    """Best-effort block release of a JVM RDD handle from
    :func:`chain_local_checkpoint`. Never raises."""
    if handle is None:
        return
    try:
        handle.unpersist(False)
    except Exception:
        pass


def sweep_persistent_rdds(spark) -> int:
    """Unpersist EVERY persistent RDD in the session — the end-of-query
    sweep for a session owner (bench loop, driver harness) that knows no
    cross-query frame survives. localCheckpoint blocks are per-RDD (not
    CacheManager entries), so neither ``unpersist_all`` nor
    ``spark.catalog.clearCache()`` reaches them; this does. NEVER call
    it while a returned-but-unconsumed checkpointed frame is still
    pending — a localCheckpoint's lineage is truncated, so dropped
    blocks cannot recompute. Returns the number of RDDs released."""
    try:
        jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = jmap.values().iterator()
        n = 0
        while it.hasNext():
            try:
                it.next().unpersist(False)
                n += 1
            except Exception:
                pass
    except Exception:
        return 0
    with _LOCK:
        _CKPT_SLOTS.clear()
        _TRACKED.clear()
    return n
