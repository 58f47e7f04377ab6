"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are what we would set cluster-side for the 100 TB target:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — replaces hand-tuned shuffle counts.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number a ceiling, not a knob.
- Arrow enabled so any pandas_udf / toPandas path is vectorized.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- A codegen cache that keeps the session's generated code
  (``spark.sql.codegen.cache.maxEntries``).  At Spark's default of 100
  entries a warm pass of 20 small dashboard SELECTs recompiled 28
  classes and a warm pass of three LLM-pipeline operators 103, with much
  of the Janino compiling on executor threads, on the critical path.
  It is a STATIC conf: the cache is built once per JVM, sized from the
  first session's conf, so it can only be set here, in the factory,
  before the session exists.

:func:`scoped_conf` is the one save/set/restore of session confs: the
iterative loops' AQE-off scope and ``Context``'s per-query sizing and
coercion scopes all go through it.  Scopes on one session hold that
session's lock, so a scope never saves another scope's values and the
caller's confs always come back.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Parquet TIMESTAMP(NANOS) (the driver's events table) is unreadable by
# Spark's parquet reader unless nanos are surfaced as long — we convert to
# micros in io.load_table. Session-scoped, safe to set at runtime.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "exosql_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config(NANOS_AS_LONG, "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# Each session's conf-scope lock, stored as an attribute on the
# SparkSession object (the context.py view-registry pattern); created
# under one module lock so two threads never make two.
_CONF_LOCK_ATTR = "_exosql_conf_lock"
_CONF_LOCK_GUARD = threading.Lock()


def _conf_lock(spark: SparkSession) -> threading.RLock:
    with _CONF_LOCK_GUARD:
        lock = getattr(spark, _CONF_LOCK_ATTR, None)
        if lock is None:
            lock = threading.RLock()
            setattr(spark, _CONF_LOCK_ATTR, lock)
        return lock


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session conf for the scope's duration and
    restore the caller's values on every exit path, the exception path
    included.  The scope holds the session's lock (re-entrant, so scopes
    nest on one thread): a scope opened on another thread waits, instead
    of saving this scope's values and restoring them after it ends.  The
    session conf is still shared, so a query planned on another thread
    outside any scope sees the scope's values while it lasts — run one
    query per session at a time.  An empty ``confs`` takes no lock."""
    if not confs:
        yield
        return
    with _conf_lock(spark):
        conf = spark.conf
        saved = {k: conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                conf.set(k, v)


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime-settable confs we rely on, on a session we didn't build
    (the driver hands ``entry``/``queries()`` its own session)."""
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
    except Exception:
        pass
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
