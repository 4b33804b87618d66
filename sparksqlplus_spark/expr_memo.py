"""Process-wide memoization of unresolved Column expression fragments.

Why this exists (round 17 O8, guide §1.2/§4): loop-built Column trees
are pure py4j round-trip cost — rebuilding an identical fragment on
every operator call was 0.1–1.1 s/call on the dedup pipelines. An
unresolved Column is immutable and binds to a DataFrame only at
analysis time, so one instance per argument tuple serves every query,
exactly like a compiled-regex cache.

Why not a bare ``functools.lru_cache`` (round 17 ADVICE #1): a cached
Column holds a py4j handle into the gateway JVM. If the process stops
its SparkSession/SparkContext and starts a new one (long-lived server,
notebook restart), the memoized fragments reference a dead JVM and the
next use fails with an opaque py4j error far from the cause. The
:func:`expr_cache` decorator therefore keys every entry additionally on
a **context epoch** — a counter that bumps whenever the active
``SparkContext`` object changes — so a fresh JVM transparently rebuilds
its fragments while same-context reuse stays a dict hit.
"""

from __future__ import annotations

import functools

_last_ctx = None  # strong ref on purpose: prevents id-reuse aliasing
_epoch = 0


def context_epoch() -> int:
    """Monotonic stamp of the active SparkContext's identity.

    Bumps whenever ``SparkContext._active_spark_context`` is a
    different object than last observed (new JVM/gateway after a
    stop+start, or first use). Holding a strong reference to the last
    context is deliberate: it keeps ``id()`` reuse from aliasing a new
    context to a stopped one, and a stopped SparkContext is a small
    driver-side object.
    """
    global _last_ctx, _epoch
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    if ctx is not _last_ctx:
        _epoch += 1
        _last_ctx = ctx
    return _epoch


def expr_cache(fn):
    """``functools.lru_cache`` for Column-fragment builders, keyed
    additionally on :func:`context_epoch` so a restarted SparkContext
    never serves stale py4j handles. The first call under a new epoch
    clears the cache, so the Columns (and their py4j handles) built
    under a dead context are released rather than kept forever.
    Arguments must be hashable (the builders take strings/ints by
    design)."""

    @functools.lru_cache(maxsize=None)
    def cached(_epoch: int, *args, **kwargs):
        return fn(*args, **kwargs)

    seen_epoch = None

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        nonlocal seen_epoch
        epoch = context_epoch()
        if epoch != seen_epoch:
            cached.cache_clear()
            seen_epoch = epoch
        return cached(epoch, *args, **kwargs)

    wrapper.cache_clear = cached.cache_clear
    wrapper.cache_info = cached.cache_info
    return wrapper
