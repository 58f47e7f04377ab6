"""Table loading over the driver-generated parquet testdata.

Mirrors the reference's extractor table-scan contract
(``lib/exosql/executor.ex :: execute/2`` ``:execute`` leaf → extractor
``execute(config, table, quals, columns)``): here the "extractor" is the
parquet source and quals/column pruning are Catalyst's predicate pushdown
and column pruning — verified in tests via ``plans.explain`` helpers.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exosql_spark.session import ensure_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session-scoped memo of file-backed sources, stored as an attribute on the
# SparkSession object (the cache.py registry pattern: lifetime == session's,
# two sessions can't alias).  What is reused is the lazy DataFrame — i.e. the
# resolved scan METADATA (file listing, footer schema, inferred CSV/JSON
# schema), never data: every action on the returned frame still reads the
# files.  Each lookup re-stats the entry's files, so a dataset rewritten
# under the same path is resolved afresh instead of serving a stale listing.
_MEMO_ATTR = "_exosql_source_memo"


def _fingerprint(path: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted ``(path, size, mtime_ns)`` of ``path`` itself when it is a
    file, else of every file under it (dataset directories walked
    recursively).  A missing path fingerprints as ``()``."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names
    ]
    out = []
    for f in files:
        try:
            st = os.stat(f)
        except FileNotFoundError:  # removed while we walked
            continue
        out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def memoized(
    spark: SparkSession, key: tuple, path: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the session's frame for ``key`` (kind, absolute path, read
    options) if ``path``'s fingerprint is unchanged since it was built;
    otherwise ``build()`` it and remember it with the new fingerprint."""
    memo = getattr(spark, _MEMO_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _MEMO_ATTR, memo)
    fp = _fingerprint(path)
    hit = memo.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    df = build()
    memo[key] = (fp, df)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes the events nanosecond timestamp
    to a micro-precision timestamp_ntz (values are micro-aligned in the
    generated data, so this is lossless and matches the DuckDB oracle).

    The lazy frame is memoized per session (see :func:`memoized`):
    DataFrames are immutable plans, so reuse is safe while the files are
    unchanged — actions recompute from the parquet input every time."""
    path = f"{sf_dir}/{name}.parquet"

    def build() -> DataFrame:
        ensure_session_confs(spark)
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        return df

    return memoized(spark, ("parquet", os.path.abspath(path)), path, build)


class Tables:
    """Lazy per-query table accessor: ``t = Tables(spark, sf_dir);
    t.lineitem`` — avoids re-reading footers for unused tables."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register testdata tables as temp views (for the SQL API path)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
