"""Session-scoped registry for operator-internal persists.

Several operators persist an intermediate frame because two plan
branches consume it (LSH band self-joins, the curation feature frame,
the incremental band index).  A bare ``df.persist()`` inside an
operator leaks by design: the caller never sees the handle, so a
long-lived session (a service, a bench loop, a notebook) accumulates
cached blocks until LRU eviction — harmless for one query, sloppy for
a 100 TB service posture.

The contract here:

- operators call :func:`managed_persist` instead of ``.persist()`` —
  same laziness, same storage level semantics, but the handle lands in
  a registry stored ON the SparkSession object itself (an attribute),
  so its lifetime is exactly the session's: when the session is
  garbage-collected the handles go with it, and two sessions can never
  see (or release) each other's barriers — no module-global growth, no
  id()-reuse aliasing;
- hosts that run many queries in one session (``bench.py``, the oracle
  test sweep, a service loop) call :func:`release_caches` at their
  query boundary, AFTER materializing the result they care about —
  storage memory stays flat across the run. A host that never calls it
  keeps at most one small Python/py4j handle per operator invocation
  on the driver (the executor-side blocks were always LRU-bounded);
  the registry itself is what release_caches drains;
- loop-owned frames (a driver loop's persisted edge tables) are not
  registered: ``operators.iterative.loop_scope`` unpersists them when
  the loop exits, exception path included.  A persisted frame an
  operator hands to its caller is always registered here;
- releasing is always SAFE, never required for correctness: an
  unpersisted frame that some still-live plan re-reads is simply
  recomputed (results identical, barrier benefit lost for that rerun).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_ATTR = "_exosql_cached_frames"


def _registry(spark: SparkSession) -> list[DataFrame]:
    reg = getattr(spark, _ATTR, None)
    if reg is None:
        reg = []
        setattr(spark, _ATTR, reg)
    return reg


def managed_persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist(level)`` + register the handle for
    :func:`release_caches`; a frame that is already persisted is only
    registered. Returns the same DataFrame."""
    if not df.is_cached:
        df = df.persist(level) if level is not None else df.persist()
    _registry(df.sparkSession).append(df)
    return df


def managed_persist_disk(df: DataFrame) -> DataFrame:
    """MEMORY_AND_DISK variant, shaped for ``df.transform(...)`` chains."""
    return managed_persist(df, StorageLevel.MEMORY_AND_DISK)


def registry_mark(spark: SparkSession) -> int:
    """Current registry length — pair with :func:`release_since` so an
    operator that fully OWNS its persists (it returns a small
    localCheckpoint-ed result, nothing downstream re-reads the cached
    frames) can drain exactly the handles it registered, without
    touching frames an enclosing pipeline still relies on."""
    return len(_registry(spark))


def release_since(spark: SparkSession, mark: int) -> int:
    """Unpersist (non-blocking) every frame registered after ``mark``
    and remove it from the registry. Returns the number released.
    Safe under nesting for stack-shaped use: an operator releasing its
    own suffix never touches earlier frames."""
    released = 0
    reg = _registry(spark)
    while len(reg) > mark:
        df = reg.pop()
        try:
            df.unpersist(blocking=False)
            released += 1
        except Exception:
            continue
    return released


def release_caches(spark: SparkSession) -> int:
    """Unpersist every frame :func:`managed_persist` registered for this
    session (non-blocking). Returns the number released. Call at query
    boundaries, after materializing the results you need."""
    released = 0
    reg = _registry(spark)
    while reg:
        df = reg.pop()
        sc = getattr(spark, "sparkContext", None)
        if sc is None or getattr(sc, "_jsc", None) is None:
            continue  # session already stopped — nothing to release
        try:
            df.unpersist(blocking=False)
            released += 1
        except Exception:
            # best-effort: a session stopped between the check above and
            # the unpersist (or any py4j error) must not abandon the
            # remaining registry entries
            continue
    return released


def live_count(spark: SparkSession) -> int:
    """Number of registered-but-unreleased frames for this session."""
    return len(getattr(spark, _ATTR, ()))
