"""Federation API — the exosql entry-point surface on Spark.

Reference surface (``lib/exosql.ex``):
  - ``ExoSQL.query(sql, context)``   → :func:`query`
  - ``ExoSQL.explain(sql, context)`` → :func:`explain`
  - ``ExoSQL.format_result(result)`` → :func:`format_result`
  - ``ExoSQL.parse/2`` + re-execute with different ``__vars__``
    → :meth:`Context.prepare` (reusable handle: the dialect rewrite and
    source resolution run once; ``spark.sql`` still parses and analyzes
    on every run) or :meth:`Context.sql` with ``vars``.

The reference *context* is a map ``%{"db" => {ExtractorModule, opts}}``
(``lib/exosql/parser.ex :: real_parse/2`` resolves ``db.table`` against
extractor ``schema/1,2`` callbacks — lazily, at parse time). Here a
context maps database names to source specs; sources resolve **on first
reference** (a query mentioning ``db.t``, or explicit ``table()`` /
``table_names()`` introspection).

Resolution is reused per session: file-backed specs (``csv``, ``jsonl``,
``orc``, ``parquet`` directories) resolve through a session-scoped memo
(:func:`exosql_spark.io.memoized`), so a new ``Context`` or a one-shot
:func:`query` over files the session has already seen runs no listing or
schema-inference job; every lookup re-stats the files and rebuilds an
entry whose files changed. ``env``, ``node``, ``http``, ``tables`` and
callable specs resolve afresh for every new context.

Each query binds temp views named ``db_table`` only for the tables it
references (exosql's ``db.table`` is rewritten to ``db_table`` by a
literal-masked identifier rewrite so the same queries run on Spark SQL).
The names are shared by every context on the session, so a session-wide
registry re-binds a view whenever it holds another context's frame and
skips the bind when it already holds the right one.

Variables: exosql resolves ``$name`` placeholders from the context key
``"__vars__"`` (``lib/exosql/expr.ex :: run_expr`` ``{:var, name}``).
We bind them via Spark's parameterized SQL (named-parameter markers);
``$$`` escapes a literal dollar sign.

Dynamic typing: the reference coerces string↔number inside any
expression (``lib/exosql/utils.ex :: to_number/1``, ``expr.ex``
arithmetic clauses) — ``"1" + price`` works, unparseable numbers become
errors-at-eval. Spark's equivalent permissive mode is
``spark.sql.ansi.enabled=false`` (numeric-string operands coerce in
arithmetic *and* comparisons; unparseable → NULL). ``Context(...,
coerce=True)`` or ``ctx.sql(..., coerce=True)`` scope that conf to the
single parse/analysis (casts are resolved into the plan at analysis
time), mapping exosql's dynamic semantics onto Catalyst with no textual
expression rewriting. Deltas vs the reference, documented: integer
arithmetic widens to double, and unparseable coercions yield NULL
instead of raising.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from exosql_spark.sources import resolve_source


# Which DataFrame each ``db_table`` temp view of a session holds, stored
# as an attribute on the SparkSession object (the cache.py registry
# pattern).  Contexts on one session share the view namespace, so a view
# is re-bound whenever it holds another frame than the query needs, and
# left alone (no ``createOrReplaceTempView`` round trip) when it holds
# the same one.
_VIEWS_ATTR = "_exosql_bound_views"


def _bind_views(spark: SparkSession, views: dict[str, DataFrame]) -> None:
    """Make each temp view ``name`` hold ``views[name]`` on ``spark``."""
    bound = getattr(spark, _VIEWS_ATTR, None)
    if bound is None:
        bound = {}
        setattr(spark, _VIEWS_ATTR, bound)
    for name, df in views.items():
        if bound.get(name) is not df:
            df.createOrReplaceTempView(name)
            bound[name] = df


@dataclass
class _RegisteredDB:
    name: str
    spec: Any
    tables: dict[str, DataFrame] | None = field(default=None)  # None = not yet resolved


class Context:
    """Maps db names → pluggable sources, mirroring exosql's context map.

    spec forms (see :mod:`exosql_spark.sources`):
      {"csv": "/path/to/dir"}                → CSV directory (S2)
      {"jsonl": "/path/to/dir"}              → JSON-lines directory
      {"parquet": "/path/to/dir"}            → parquet directory of tables
      {"env": True}                          → OS environment table (S3)
      {"tables": {"name": DataFrame}}        → pre-built DataFrames
      {"http": {...}} / callable             → custom sources
    """

    def __init__(
        self,
        spark: SparkSession,
        databases: dict[str, Any] | None = None,
        coerce: bool = False,
    ):
        self.spark = spark
        self._coerce = coerce
        self._dbs: dict[str, _RegisteredDB] = {}
        for name, spec in (databases or {}).items():
            self.add_database(name, spec)

    def add_database(self, name: str, spec: Any) -> None:
        """Register a database *spec*. Resolution (schema discovery) is
        deferred to first reference — remote sources with many tables
        cost nothing until a query touches them (reference extractors
        resolve ``schema/1,2`` lazily too) — and file-backed specs reuse
        what the session already resolved for the same unchanged files.
        Views are bound per query, only for the tables it references."""
        self._dbs[name] = _RegisteredDB(name, spec)

    def _resolve(self, db: _RegisteredDB) -> dict[str, DataFrame]:
        if db.tables is None:
            db.tables = resolve_source(self.spark, db.spec)
        return db.tables

    def table_names(self) -> list[str]:
        return [
            f"{db.name}.{t}"
            for db in self._dbs.values()
            for t in self._resolve(db)
        ]

    def table(self, db: str, name: str) -> DataFrame:
        return self._resolve(self._dbs[db])[name]

    # -- query path ---------------------------------------------------

    def _rewrite(self, sql: str) -> tuple[str, dict[str, DataFrame]]:
        """Rewrite the exosql dialect to Spark SQL: ``db.table`` refs →
        ``db_table`` views, ``$var`` → ``:var`` named parameters
        (``$$`` → literal ``$``), plus the compat rewrites in
        :mod:`exosql_spark.dialect` (strftime / jp / to_datetime
        literal forms, DISTINCT ON desugar). String-literal content is
        masked first so e.g. a query containing ``'visit db.events'``
        or ``'price in $USD'`` is never rewritten inside the quotes.

        Only databases actually referenced by the query get resolved,
        and only the tables it references are bound as views. Returns
        the Spark SQL and its ``{view name: DataFrame}`` bindings."""
        from exosql_spark.dialect import mask_literals, unmask_literals
        from exosql_spark.dialect import rewrite as dialect_rewrite

        masked, lits = mask_literals(sql)
        views: dict[str, DataFrame] = {}
        for db in self._dbs.values():
            if not re.search(rf"\b{re.escape(db.name)}\s*\.", masked):
                continue
            for t, df in self._resolve(db).items():
                view = f"{db.name}_{t}"
                masked, n = re.subn(
                    rf"\b{re.escape(db.name)}\s*\.\s*{re.escape(t)}\b", view, masked
                )
                if n:
                    views[view] = df
        _bind_views(self.spark, views)
        # $$ → literal $; $var → :var (named parameter marker)
        masked = masked.replace("$$", "\x02")
        masked = re.sub(r"\$([A-Za-z_][A-Za-z_0-9]*)", r":\1", masked)
        masked = masked.replace("\x02", "$")
        return dialect_rewrite(unmask_literals(masked, lits)), views

    def _run(self, rewritten: str, vars: dict[str, Any] | None, coerce: bool) -> DataFrame:
        if not coerce:
            return self.spark.sql(rewritten, args=vars) if vars else self.spark.sql(rewritten)
        prev = self.spark.conf.get("spark.sql.ansi.enabled", "true")
        self.spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            # spark.sql parses+analyzes eagerly: coercion casts are baked
            # into the returned plan, so restoring the conf right after is
            # safe even though execution happens later.
            return self.spark.sql(rewritten, args=vars) if vars else self.spark.sql(rewritten)
        finally:
            self.spark.conf.set("spark.sql.ansi.enabled", prev)

    def sql(
        self,
        sql: str,
        vars: dict[str, Any] | None = None,
        coerce: bool | None = None,
    ) -> DataFrame:
        rewritten, _ = self._rewrite(sql)
        return self._run(rewritten, vars, self._coerce if coerce is None else coerce)

    def prepare(self, sql: str, coerce: bool | None = None) -> "Prepared":
        """``ExoSQL.parse/2`` parity: rewrite once, return a reusable
        handle that re-executes with different ``vars`` bindings. The
        dialect rewrite and source resolution run exactly once; each
        run still has ``spark.sql`` parse and analyze the rewritten
        text (Spark keeps no plan cache for SQL text)."""
        rewritten, views = self._rewrite(sql)
        return Prepared(
            self, rewritten, self._coerce if coerce is None else coerce, views
        )

    def explain(self, sql: str, vars: dict[str, Any] | None = None) -> str:
        df = self.sql(sql, vars)
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )


@dataclass
class Prepared:
    """Reusable rewritten-query handle (reference ``ExoSQL.parse/2`` →
    repeated ``ExoSQL.execute/2`` with fresh ``__vars__``). Each run
    re-binds the handle's own views first — another context on the
    session may have bound the same ``db_table`` names to other
    sources — then parses and analyzes the SQL anew."""

    context: Context
    rewritten: str
    coerce: bool = False
    views: dict[str, DataFrame] = field(default_factory=dict)

    def run(self, vars: dict[str, Any] | None = None) -> DataFrame:
        _bind_views(self.context.spark, self.views)
        return self.context._run(self.rewritten, vars, self.coerce)

    __call__ = run


def query(
    spark: SparkSession,
    sql: str,
    context: dict[str, Any] | Context | None = None,
    vars: dict[str, Any] | None = None,
    coerce: bool | None = None,
) -> DataFrame:
    """``ExoSQL.query(sql, context)`` equivalent; returns a DataFrame
    (lazy — the reference returned fully-materialized rows; callers
    ``.collect()`` at the edge if they need that)."""
    ctx = context if isinstance(context, Context) else Context(spark, context or {})
    return ctx.sql(sql, vars, coerce=coerce)


def explain(
    spark: SparkSession,
    sql: str,
    context: dict[str, Any] | Context | None = None,
    vars: dict[str, Any] | None = None,
) -> str:
    """``ExoSQL.explain/2`` equivalent (formatted physical plan — strictly
    more informative than the reference's logical-tree pretty-print)."""
    ctx = context if isinstance(context, Context) else Context(spark, context or {})
    return ctx.explain(sql, vars)


def format_result(df: DataFrame, n: int = 100) -> str:
    """``ExoSQL.format_result/1`` equivalent — ASCII table of the first n
    rows (driver-side; for interactive/dashboard use only)."""
    return df._show_string(n, 0, False)


@dataclass
class Result:
    """``%ExoSQL.Result{columns, rows}`` parity shape
    (``lib/exosql/result.ex``): column names + row-oriented values.
    Only materialize at the API edge — everything upstream stays a
    lazy DataFrame."""

    columns: list[str]
    rows: list[list[Any]]

    def __len__(self) -> int:
        return len(self.rows)


def to_result(df: DataFrame, limit: int | None = None) -> Result:
    """Materialize a DataFrame into the reference's Result shape.
    ``limit`` guards accidental full-table driver collects."""
    if limit is not None:
        df = df.limit(limit)
    return Result(columns=list(df.columns), rows=[list(r) for r in df.collect()])
