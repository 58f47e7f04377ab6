"""Pluggable sources — the Spark equivalent of exosql extractors.

Reference extractor behavior (callbacks ``schema/1``, ``schema/2``,
``execute(config, table, quals, columns)``):
  - CSV dir extractor: ``lib/exosql/csv.ex :: ExoSQL.Csv`` (S2)
  - Env extractor:     ``lib/exosql/env.ex :: ExoSQL.Env`` (S3)
  - Node extractor:    ``lib/exosql/node.ex :: ExoSQL.Node`` (S4)
  - HTTP extractor:    (S5, lower confidence in reference)

Qual pushdown + column pruning (the reference planner's work,
``lib/exosql/planner.ex :: plan/1``) are Catalyst built-ins for the file
sources; the HTTP source documents where manual ``pushFilters`` would go
in a Python DataSource connector.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def _require_dir(path: str) -> None:
    if not os.path.isdir(path):
        from pyspark.errors import AnalysisException

        raise AnalysisException(f"[PATH_NOT_FOUND] Path does not exist: {path}")


def _file_tables(
    path: str, patterns: tuple[str, ...], load: Callable[[str], DataFrame]
) -> dict[str, DataFrame]:
    """{file stem: load(entry)} for the entries of directory ``path``
    matching ``patterns``."""
    _require_dir(path)
    tables: dict[str, DataFrame] = {}
    for f in sorted(f for p in patterns for f in glob.glob(os.path.join(path, p))):
        name = os.path.splitext(os.path.basename(f))[0]
        if name in tables:
            # name.jsonl + name.json would otherwise silently keep
            # only the later-globbed file as the table
            raise ValueError(
                f"{path!r}: duplicate table name {name!r} "
                f"(more than one of {', '.join(patterns)} match it)"
            )
        tables[name] = load(f)
    return tables


def _memo_read(
    spark: SparkSession, kind: str, read: Callable[[str], DataFrame], *opts: Any
) -> Callable[[str], DataFrame]:
    """Loader that reads an entry once per session until its files change
    (:func:`exosql_spark.io.memoized`, keyed by kind, absolute path and
    the read options)."""
    from exosql_spark.io import memoized

    return lambda f: memoized(
        spark, (kind, os.path.abspath(f), *opts), f, lambda: read(f)
    )


def csv_dir(spark: SparkSession, path: str, infer_schema: bool = True) -> dict[str, DataFrame]:
    """Directory of ``*.csv`` = database; file stem = table; header row =
    columns. With ``infer_schema=False`` reproduces the reference's
    all-values-are-strings model (``lib/exosql/csv.ex``) for coercion
    compat tests."""

    def read(f: str) -> DataFrame:
        return (
            spark.read.option("header", "true")
            .option("inferSchema", str(infer_schema).lower())
            .csv(f)
        )

    return _file_tables(path, ("*.csv",), _memo_read(spark, "csv", read, infer_schema))


def jsonl_dir(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Directory of ``*.jsonl`` / ``*.json`` (JSON-lines) = database;
    file stem = table.  Schema inferred per file — the standard
    interchange format for scraped/exported corpora, and the one the
    CSV model can't carry nested fields through."""
    return _file_tables(
        path,
        ("*.jsonl", "*.json"),
        _memo_read(spark, "jsonl", lambda f: spark.read.json(f)),
    )


def orc_dir(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Directory of ORC tables = database: each ``<name>.orc`` entry —
    a single file or a Spark-written dataset directory — is a table.
    The second binary columnar format next to parquet; predicate
    pushdown and column pruning come through the native ORC reader
    exactly as for parquet (Catalyst sees the same relation API)."""
    return _file_tables(
        path, ("*.orc",), _memo_read(spark, "orc", lambda f: spark.read.orc(f))
    )


def parquet_dir(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Directory of ``*.parquet`` = database (the testdata layout); each
    table is :func:`exosql_spark.io.load_table`, memoized the same way."""
    from exosql_spark.io import load_table

    return _file_tables(
        path,
        ("*.parquet",),
        lambda f: load_table(spark, path, os.path.splitext(os.path.basename(f))[0]),
    )


def env_table(spark: SparkSession) -> dict[str, DataFrame]:
    """OS environment variables as a (key, value) table — tiny,
    driver-side by nature (matches ``lib/exosql/env.ex``)."""
    rows = [(k, v) for k, v in sorted(os.environ.items())]
    return {"env": spark.createDataFrame(rows, "key string, value string")}


def http_source(spark: SparkSession, spec: dict[str, Any]) -> dict[str, DataFrame]:
    """HTTP-API-as-table (S5): a real Python DataSource connector with
    per-page partitions and qual pushdown — see
    :mod:`exosql_spark.sources.httpapi`. The transport is injectable
    (no network in this container; point it at requests.get in prod)."""
    from exosql_spark.sources.httpapi import http_table

    name = spec.get("table", "api")
    return {
        name: http_table(
            spark,
            url=spec.get("url", "https://api.example.com/items"),
            pages=int(spec.get("pages", 4)),
            **{k: v for k, v in spec.items() if k in ("schema_ddl", "transport")},
        )
    }


def node_source(
    spark: SparkSession, snapshot: dict[str, Any] | None = None
) -> dict[str, DataFrame]:
    """Node/VM introspection tables (S4 — the reference exposes Erlang
    VM stats; here: host cpu/memory/process views, driver-side tiny).

    ``snapshot`` injects a PINNED stats provider behind the same three
    table surfaces (r12 verdict Next #7 — the source_env_pinned
    pattern): ``{"cpu": (n_cpus, load1, load5, load15), "meminfo":
    {key: kb}, "process": (pid, utime_s, stime_s, maxrss_kb)}``.  With
    it, the extractor's MECHANICS (registration through Context,
    schemas, filter pushdown on the key column) become hash-checkable
    against a literal oracle; without it the tables read the live
    host, which no oracle can state."""
    if snapshot is not None:
        cpu = [tuple(snapshot["cpu"])]
        meminfo = dict(snapshot["meminfo"])
        proc = [tuple(snapshot["process"])]
    else:
        import resource

        la1, la5, la15 = os.getloadavg()
        cpu = [(os.cpu_count() or 0, la1, la5, la15)]
        meminfo = {}
        try:
            with open("/proc/meminfo") as fh:
                for line in fh:
                    k, _, rest = line.partition(":")
                    meminfo[k.strip()] = int(rest.strip().split()[0])
        except OSError:
            pass
        ru = resource.getrusage(resource.RUSAGE_SELF)
        proc = [(os.getpid(), ru.ru_utime, ru.ru_stime, ru.ru_maxrss)]
    mem = [
        (k, v)
        for k, v in meminfo.items()
        if k in ("MemTotal", "MemFree", "MemAvailable", "Buffers", "Cached")
    ]
    return {
        "cpu": spark.createDataFrame(
            cpu, "n_cpus int, load1 double, load5 double, load15 double"
        ),
        "memory": spark.createDataFrame(mem, "key string, kb bigint"),
        "process": spark.createDataFrame(
            proc, "pid long, utime_s double, stime_s double, maxrss_kb bigint"
        ),
    }


def resolve_source(spark: SparkSession, spec: Any) -> dict[str, DataFrame]:
    """Resolve a context source spec to {table_name: DataFrame}."""
    if callable(spec):
        out = spec(spark)
        if not isinstance(out, dict):
            raise TypeError("callable source spec must return {name: DataFrame}")
        return out
    if isinstance(spec, dict):
        if "csv" in spec:
            return csv_dir(spark, spec["csv"], spec.get("infer_schema", True))
        if "jsonl" in spec:
            return jsonl_dir(spark, spec["jsonl"])
        if "orc" in spec:
            return orc_dir(spark, spec["orc"])
        if "parquet" in spec:
            return parquet_dir(spark, spec["parquet"])
        if spec.get("env"):
            return env_table(spark)
        if spec.get("node"):
            # {"node": True} = live host; {"node": {...}} = pinned
            # snapshot (see node_source)
            node = spec["node"]
            return node_source(spark, node if isinstance(node, dict) else None)
        if "http" in spec:
            return http_source(spark, spec["http"])
        if "tables" in spec:
            return dict(spec["tables"])
    raise ValueError(f"unrecognized source spec: {spec!r}")
