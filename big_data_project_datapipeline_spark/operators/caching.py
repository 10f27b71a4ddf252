"""Cache-lifecycle plumbing for operators that persist intermediates.

Iterative operators (pagerank, copurchase_lift) persist small frames
that every unrolled iteration references; without cleanup those cache
entries pin executor memory for the session lifetime. Eagerly
checkpointing instead was measured 1.9–2.6× slower at sf0.1 (the extra
materialization dwarfs the cache it frees), so the contract here is:

- the operator stays a LAZY DataFrame — full speed, caches fill at the
  first job that reads them. For operators whose loop builds
  ``localCheckpoint(eager=False)`` snapshots that is not the caller's
  terminal action: under AQE, building a checkpoint runs every upstream
  shuffle stage at once (a cold q87 at sf0.001: 19 jobs while it is
  built, 1 at its ``toPandas``), so only the last snapshot's final
  stage waits for the caller;
- the persisted handles ride on the result; ``release_caches(df)``
  frees them explicitly once the caller is done;
- a ``weakref.finalize`` releases them AUTOMATICALLY when the result
  DataFrame is garbage-collected, so even callers that never heard of
  the handle don't leak past the result's lifetime. (Unpersist on an
  already-stopped session is swallowed — finalizers can run at
  interpreter shutdown.)

Releases are BLOCKING: the async default hands block removal to a
background thread that races the next query's allocation (an sf30
second-run OOM mode). A blocking unpersist returns after the blocks are
gone, so back-to-back heavy queries see storage actually return to
baseline.

``snapshots=``: localCheckpoint-backed frames the result's plan reads
(an iterative operator's final round state). Their blocks belong to
the checkpointed RDD inside the frame's LogicalRDD node — unreachable
by ``DataFrame.unpersist`` and ``catalog.clearCache``, historically
drained only by ContextCleaner GC, i.e. cross-run accumulation.
Released here via :func:`release_local_checkpoint`. NOTE the semantic
sharpening: a released checkpoint CANNOT recompute (lineage was
truncated at checkpoint time), so acting on the result or a derived
frame after release fails fast instead of recomputing. That is the
right trade: the GC path only fires when no Python ref to the result
remains, and explicit ``release_caches`` already means "done with it".

CALLER CONTRACT (review note): hold the RETURNED DataFrame alive until
your terminal action. A chained temporary — ``pagerank(e).select(...)
.count()`` — drops the result object mid-expression, the finalizer
fires, and the derived plan recomputes every unpersisted intermediate
(and, for checkpoint-backed operators, fails fast on the released
snapshot). Bind it first (``pr = pagerank(e); pr.select(...).count()``),
or call ``release_caches(pr)`` yourself when done.
"""

from __future__ import annotations

import weakref
from collections.abc import Iterable

from pyspark.sql import DataFrame


def release_local_checkpoint(df: DataFrame) -> None:
    """Eagerly free (blocking) the executor blocks behind a
    ``localCheckpoint()`` frame that no future computation references.

    Reaches the checkpointed RDD through the frame's ``LogicalRDD``
    plan node (the only handle that works — see module docstring).
    Guarded on MATERIALIZATION: a lazy checkpoint that never computed
    has no blocks to free, and unmarking it could still break a later
    materialization — so an un-materialized snapshot is left alone
    (the release degrades to the old ContextCleaner-drain behavior,
    which for zero blocks is free). The same guard makes a premature
    GC of a fully-lazy pipeline harmless. Quietly a no-op for frames
    whose analyzed plan is not a bare LogicalRDD, and best-effort
    against py4j surface changes.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith("LogicalRDD"):
            return
        rdd = plan.rdd()
        sc = df.sparkSession.sparkContext
        cached = {
            info.id() for info in sc._jsc.sc().getRDDStorageInfo()
        }
        if rdd.id() in cached:
            rdd.unpersist(True)
    except Exception:
        pass


def attach_cache_release(
    result: DataFrame,
    handles: Iterable[DataFrame],
    snapshots: Iterable[DataFrame] = (),
    upstream: Iterable[DataFrame] = (),
) -> DataFrame:
    """Tie the lifetime of persisted ``handles`` (and localCheckpoint
    ``snapshots``) to ``result``. Both release blocking; see the
    module docstring for the snapshot semantics.

    ``upstream``: frames this result DERIVES from whose own attached
    releases must not fire while the result is alive (the composition
    problem: ``modularity(edges, label_propagation(edges))`` drops the
    label frame at the call site, but the result's plan still reads
    it). The result keeps a strong reference — the upstream frames'
    own finalizers fire only after the result is collected by GC —
    and an explicit ``release_caches(result)`` cascades to them."""
    hs = tuple(handles)
    snaps = tuple(snapshots)
    ups = tuple(upstream)

    def _release() -> None:
        for h in hs:
            try:
                h.unpersist(blocking=True)
            except Exception:
                pass  # session already stopped / JVM gone
        for s in snaps:
            release_local_checkpoint(s)
        for u in ups:
            release_caches(u)

    result._cache_release = _release
    # strong ref: upstream finalizers must outlive the result
    result._cache_upstream = ups
    weakref.finalize(result, _release)
    return result


def release_caches(df: DataFrame) -> None:
    """Explicitly free intermediates persisted by the operator that
    produced ``df`` (no-op for frames without attached caches). For
    cache-only operators the result stays valid — Spark recomputes if
    it is acted on again; for operators that attach checkpoint
    snapshots, release means the result is DONE (see module
    docstring)."""
    fn = getattr(df, "_cache_release", None)
    if fn is not None:
        fn()
