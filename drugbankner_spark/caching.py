"""Shared-subtree cache registry (ADVICE r04).

Several operators persist a subtree that feeds BOTH sides of a
self-join (band keys, shingles, bucketed vectors) — without the persist
Catalyst plans the sides as independent subtrees and the corpus is
scanned/hashed twice. Those operators return LAZY DataFrames, so they
cannot unpersist before the caller's action; a long-lived driver
session would otherwise accumulate cached partitions with no release
path.

``shared_persist`` is a drop-in for ``.persist()`` that records the
handle here; ``release_shared_caches()`` unpersists everything recorded
— call it after the consuming action. One-shot pipelines can ignore
it: caches die with the session, and the storage level is evictable
(memory+disk, recomputable on loss).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SHARED: list[DataFrame | None] = []


def shared_persist(df: DataFrame) -> DataFrame:
    """Persist (default evictable memory+disk level) and register the
    handle for later release via :func:`release_shared_caches`."""
    out = df.persist()
    _SHARED.append(out)
    return out


def cache_mark() -> int:
    """Registry watermark for scoped release — pair with
    :func:`release_since`. Iterative operators (the suffix array's
    prefix-doubling loop) persist a fresh branch point every round;
    once the round's eager checkpoint has materialized, the round's
    caches are dead weight and releasing JUST them keeps a 20-round
    run's cache footprint at one round, without touching caches a
    composing caller registered earlier."""
    return len(_SHARED)


def _unpersist(df: DataFrame | None) -> int:
    """Unpersist one registry entry; 1 if it was released, else 0 (a
    slot ``release_between`` already cleared, or a stopped session —
    nothing left to release)."""
    if df is None:
        return 0
    try:
        df.unpersist()
        return 1
    except Exception:
        return 0


def release_since(mark: int) -> int:
    """Unpersist (and unregister) every shared cache recorded after
    ``mark``; returns how many were released."""
    n = 0
    while len(_SHARED) > mark:
        n += _unpersist(_SHARED.pop())
    return n


def release_between(lo: int, hi: int) -> int:
    """Unpersist registry entries recorded in ``[lo, hi)`` WITHOUT
    disturbing later entries (round 15): a lazy-checkpoint fixpoint
    loop (suffix array) materializes round r−1's checkpoint only
    during round r's first job, so round r−1's branch-point persist
    can be released only AFTER round r has registered its own —
    a stack-shaped ``release_since`` would release both. Released
    slots become ``None``; the stack releases skip them."""
    n = 0
    for i in range(lo, min(hi, len(_SHARED))):
        n += _unpersist(_SHARED[i])
        _SHARED[i] = None
    return n


def release_shared_caches() -> int:
    """Unpersist every registered shared subtree; returns how many were
    released. Safe to call at any time — caches are recomputable, so a
    release mid-consumption only costs recompute, never correctness."""
    return release_since(0)
