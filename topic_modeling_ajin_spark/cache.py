"""Session-aware memoization for persisted DataFrames and fitted models.

Round-1 ADVICE: module-level memo dicts keyed only by ``sf_dir`` held
persisted DataFrames bound to the *creating* SparkSession (stale handles
after an in-process session restart), and repeated calls re-persisted
semantically-equal plans (the ``Asked to cache already cached data``
warnings in BENCH_r01). All memoization now routes through this registry:

- keys include the ``SparkSession`` object itself, so a restarted session
  naturally misses and rebuilds;
- each logical plan is persisted exactly once per (session, key);
- ``clear_caches`` is the explicit unpersist hook (tests and long-lived
  drivers call it between datasets to release executor storage memory).

The registry holds strong references to its sessions — intentional: the
cached DataFrames are only valid while their session lives, and clearing
releases both.
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple, Any] = {}
# memo is now callable from several driver threads at once (the composed
# verdict-table builders overlap independent gate chains per guide §2.6's
# concurrent-jobs pattern): a global registry lock guards the dict, and a
# per-key build lock makes two threads racing the SAME key serialize —
# one builds, the other waits and reads the memo — instead of both
# building (double work, double persist of semantically-equal plans: the
# exact bug class this registry exists to prevent). Lock order follows
# the build-dependency DAG (a build holding key X only ever acquires
# locks for its own sub-chains), so no cycle is possible.
_REGISTRY_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple, threading.Lock] = {}


def memo(
    spark: SparkSession,
    key: Any,
    build: Callable[[], Any],
    *,
    persist: bool = False,
    eager: bool = False,
) -> Any:
    """Build-once per (session, key). With ``persist=True`` the built
    DataFrame is ``.persist()``-ed (and with ``eager=True`` materialized
    immediately — do this only when consumers are concurrently-prepared
    broadcast subtrees, which recompute an unmaterialized cache)."""
    k = (spark, key)
    if k in _CACHE:
        return _CACHE[k]
    with _REGISTRY_LOCK:
        if k in _CACHE:
            return _CACHE[k]
        lock = _KEY_LOCKS.setdefault(k, threading.Lock())
    with lock:
        if k in _CACHE:
            return _CACHE[k]
        val = build()
        if persist:
            val = val.persist()
            if eager:
                val.count()
        with _REGISTRY_LOCK:
            _CACHE[k] = val
    return val


def _build_pool_cap(n_builders: int) -> int:
    """Concurrent-builder cap (r13 verdict task 1): the r13 pool sized
    itself ``max_workers=len(builders)`` — up to ~13 driver threads each
    submitting Spark jobs over the same executor pool. Solo that
    overlaps a straggler tail (guide §2.6: "2-3 jobs in flight is
    plenty"); on a CONTENDED box (the driver times cold entries while
    also running its 8-CPU bench and the oracle gate) the fan-out
    oversubscribes the machine and the driver's cold numbers came out
    1.5-3x worse than the builder's solo runs. Cap at cpus//4 (8 on the
    32-core box, 2 on the 8-core run) so overlap still back-fills the
    executor tail without fighting the rest of the machine;
    ``SPARK_GRAFT_BUILD_POOL`` overrides for measurement experiments.
    A value of either variable that is not an integer is ignored (the
    default applies) rather than failing every concurrent build."""
    env = os.environ.get("SPARK_GRAFT_BUILD_POOL")
    if env:
        try:
            return max(1, min(n_builders, int(env)))
        except ValueError:
            pass
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    except ValueError:
        cpus = os.cpu_count() or 8
    return max(2, min(n_builders, cpus // 4))


def build_concurrently(builders: list[Callable[[], Any]]) -> list[Any]:
    """Run independent memoized-chain builders from driver threads and
    return their results in order (guide §2.6: Spark happily runs several
    jobs at once inside one application; chains are only sequential
    because the driver calls their eager sections sequentially).

    The win is for COLD composed queries: the gate chains a manifest or
    data card joins are independent until the final join, but several of
    them contain driver-coordinated eager sections (the BPE fit's
    per-round collects, k-means/EM iterations, model-sized plan collects,
    localCheckpoint materializations) that leave most of the cluster idle
    while they run one after another. Building them from a small thread
    pool lets one chain's tiny jobs back-fill executors the other chains
    are not using; FIFO scheduling keeps the earliest chain prioritized.
    Results are deterministic: each builder returns the same memoized
    value it would have built serially (memo's per-key locks serialize
    shared sub-chains), only the wall-clock overlaps.

    The pool is CAPPED (``_build_pool_cap``): a queued builder has
    acquired no memo lock yet, and a running builder holding one is
    always making progress, so the cap cannot deadlock the
    build-dependency DAG — later builders simply wait for a slot.

    The first builder exception propagates (after all threads finish, so
    no half-built chain is abandoned mid-persist)."""
    if len(builders) <= 1:
        return [b() for b in builders]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=_build_pool_cap(len(builders))) as pool:
        futures = [pool.submit(b) for b in builders]
        # collect in submission order; .result() re-raises build errors
        return [f.result() for f in futures]


def materialized(df: Any) -> Any:
    """Force a DataFrame's (persisted) backing relation to materialize
    NOW — for use inside ``build_concurrently`` builders: the composed
    verdict tables are persisted lazily, so without this the whole gate
    stack's heavy lazy work runs serially inside the single downstream
    join/checkpoint job; a count() per builder thread populates the
    exact caches that job then reads, moving the work into the
    overlapped section. Scanning an InMemoryRelation materializes all
    of its columns, so the count is not a pruned shortcut. No-op cost
    for chains that are already eager (localCheckpoint memos)."""
    df.count()
    return df


def _unpersist(val: Any) -> None:
    if isinstance(val, DataFrame):
        try:
            val.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    elif isinstance(val, tuple):
        for item in val:
            _unpersist(item)


def clear_caches(spark: SparkSession | None = None) -> int:
    """Unpersist and drop every memoized value (optionally only one
    session's). Returns the number of entries released."""
    n = 0
    with _REGISTRY_LOCK:
        for k in list(_CACHE):
            if spark is not None and k[0] is not spark:
                continue
            _unpersist(_CACHE.pop(k))
            _KEY_LOCKS.pop(k, None)
            n += 1
    return n
