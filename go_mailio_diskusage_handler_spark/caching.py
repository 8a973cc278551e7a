"""Cache-lifetime ownership for operators that persist intermediates.

Several operators persist a shared subplan (it feeds both sides of a
self-join, or a verify tier plus a size table) and return a LAZY
result, so the operator body has no post-action point at which to
unpersist — through round 5 the release was the CALLER's burden
(``spark.catalog.clearCache()`` between composite queries), which
leaks executor storage in any long-lived session that forgets.

:func:`own_cache` closes that contract: the persisted intermediates
are tied to the lifetime of the RETURNED frame with a weakref
finalizer.  When the consumer drops the result (rebinds the variable,
leaves scope, finishes the request), CPython refcounting fires the
finalizer and the cache blocks are released — no caller discipline,
no ``clearCache``.  While the result object is alive, re-running
actions on it still hits the cache, which is the correct lifetime: a
held handle means "I may execute this again".

Ownership is tracked in a module-level ``weakref.WeakKeyDictionary``
keyed by the owning DataFrame — NOT as an instance attribute, because
``DataFrame.__getattr__`` resolves unknown attributes against the
schema (``self.columns``, an analysis round-trip — an RPC under Spark
Connect) and a table with a real column of the stash name would
shadow it.

Composites transfer ownership instead of leaking it: an operator that
builds on another operator's (cache-owning) result passes that frame
via ``absorb`` so the release point moves OUT to the composite's own
result.  Operators that consume an owning frame EAGERLY (collect a
report, run an iterative loop over checkpoints) need nothing — the
owning frame dies at function exit, which is exactly when its cache
stops being useful.

**Derivation hazard**: ownership is tied to the exact returned Python
object.  If a consumer keeps only a DERIVED frame —
``op(...).select(...)`` as the sole handle — the owner is collected
immediately and the cache is gone before the derived plan ever runs
(recompute is silent and correct, just cold).  Library consumers that
hold a derived frame should transfer ownership with :func:`derive`::

    best = derive(keep_best(docs).select("doc_id"), keep_best(docs))
    # or, with one call to the operator:
    kb = keep_best(docs)
    best = derive(kb.select("doc_id"), kb)

**GC caveat**: release relies on prompt CPython refcounting.  A
reference cycle through an owning frame — or a non-refcounting
interpreter — defers the finalizer until a ``gc`` cycle runs, so the
no-``clearCache`` contract is "eventually", not "at the drop
statement", in those cases.  Long-lived services that need a
deterministic release point should call :func:`release_caches`.

Release uses non-blocking ``unpersist`` (the CacheManager entry is
dropped synchronously; block deletion proceeds in the background) and
swallows errors from a stopped session / half-torn-down JVM at
interpreter exit.

:func:`own_checkpoint` applies the same lifetime rule to a
``localCheckpoint`` frame, whose blocks belong to one RDD rather than
to a plan-keyed CacheManager entry that an identical plan could share.
"""

from __future__ import annotations

import weakref
from typing import Iterable

from pyspark.sql import DataFrame

#: owner DataFrame -> (list-of-cached-frames, finalizer).  Weak keys:
#: an entry vanishes with its owner; the finalizer (which holds the
#: frame list, not the owner) does the actual unpersist.
_OWNERS: "weakref.WeakKeyDictionary[DataFrame, tuple[list[DataFrame], weakref.finalize]]" = (
    weakref.WeakKeyDictionary()
)


def _release(frames: list[DataFrame]) -> None:
    for f in frames:
        try:
            f.unpersist(blocking=False)
        except Exception:
            # Session stopped or JVM gone (interpreter shutdown):
            # nothing left to release.
            pass


def own_cache(
    owner: DataFrame,
    *cached: DataFrame,
    absorb: Iterable[DataFrame] = (),
) -> DataFrame:
    """Tie persisted ``cached`` frames to ``owner``'s lifetime, and
    transfer any caches already owned by the ``absorb`` frames.

    Returns ``owner`` (same object) so call sites read
    ``return own_cache(result, sh)``.  See the module docstring for
    the derivation hazard and the GC caveat.
    """
    frames: list[DataFrame] = list(cached)
    for src in absorb:
        owned = _OWNERS.pop(src, None)
        if owned is None:
            continue
        src_frames, fin = owned
        fin.detach()
        for f in src_frames:
            if f not in frames:
                frames.append(f)
    if not frames:
        return owner
    prior = _OWNERS.pop(owner, None)
    if prior is not None:
        prior_frames, prior_fin = prior
        prior_fin.detach()
        frames = [f for f in prior_frames if f not in frames] + frames
    fin = weakref.finalize(owner, _release, frames)
    _OWNERS[owner] = (frames, fin)
    return owner


def derive(derived: DataFrame, *sources: DataFrame) -> DataFrame:
    """Transfer cache ownership from ``sources`` to a frame DERIVED
    from them, so the caches stay warm for exactly as long as the
    derived handle lives.

    For consumers that keep only ``op(...).select(...)`` (not the
    operator's own return value): without the transfer the owner is
    collected at once and the cache is released before first use.
    Sources that own nothing are ignored, so ``derive`` is safe to
    wrap around any operator output.
    """
    return own_cache(derived, absorb=sources)


def release_caches(df: DataFrame) -> None:
    """Release ``df``'s owned caches NOW (idempotent).  For callers
    that want deterministic release without dropping the handle —
    the reliable path in long-lived services (see the GC caveat)."""
    owned = _OWNERS.pop(df, None)
    if owned is None:
        return
    frames, fin = owned
    fin.detach()
    _release(frames)


def _unpersist_rdd(jrdd) -> None:
    try:
        jrdd.unpersist(False)
    except Exception:
        # Session stopped or JVM gone: nothing left to release.
        pass


def own_checkpoint(checkpointed: DataFrame) -> DataFrame:
    """Release the blocks of a ``localCheckpoint`` frame when the
    Python object itself is collected, never earlier.

    A local checkpoint cannot be recomputed: an action on it after its
    blocks are gone fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
    So the release belongs to the frame's lifetime — a reader still
    holding it keeps its blocks — rather than to the caller.  The
    finalizer holds the JVM RDD, not the frame, which it would keep
    alive forever.  Returns ``checkpointed`` (same object).
    """
    jrdd = checkpointed._jdf.logicalPlan().rdd()
    weakref.finalize(checkpointed, _unpersist_rdd, jrdd)
    return checkpointed
