"""Federation API — the exosql entry-point surface on Spark.

Reference surface (``lib/exosql.ex``):
  - ``ExoSQL.query(sql, context)``   → :func:`query`
  - ``ExoSQL.explain(sql, context)`` → :func:`explain`
  - ``ExoSQL.format_result(result)`` → :func:`format_result`
  - ``ExoSQL.parse/2`` + re-execute with different ``__vars__``
    → :meth:`Context.prepare` (reusable handle: the dialect rewrite and
    source resolution run once; ``spark.sql`` still parses and analyzes
    on every run) or :meth:`Context.sql` with ``vars``.

Each query is sized from its inputs.  ``sql()`` and ``Prepared.run()``
parse and analyze it, then add up the estimated size of the leaves of
its optimized plan (subqueries included): every table it reads, bound
by this context or not.  When that fits AQE's smallest partitions
(``spark.sql.adaptive.coalescePartitions.minPartitionSize`` per core;
see :func:`_fits_one_partition`), the query is physically planned
there and then, under AQE off and one shuffle partition: a dashboard
query over small tables has nothing for AQE to adapt, and AQE would
still run every shuffle stage as a job of its own and re-plan between
them (a warm pass of 20 dashboard SELECTs ran 48
jobs that way, 28 this way — one per query plus one per broadcast).
The estimate is Spark's own — the one its broadcast-join threshold is
compared against — so a file table counts at its size on disk.
Collecting the returned frame runs that plan; :func:`to_result` with a
``limit`` and :func:`format_result` make their new plan over it the same
way (:func:`as_planned`), while any other frame derived from it plans
afresh under the session's confs.  Larger inputs, and inputs without
statistics (an http table), plan lazily under the session's confs, as
before.  This is the rule ``iterative.loop_scope`` applies to driver
loops; both scopes go through :func:`exosql_spark.session.scoped_conf`,
which sets the shared session conf while it plans, so run one query per
session at a time.

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
references (:mod:`exosql_spark.dialect` rewrites exosql's ``db.table``
to ``db_table``, and every other dialect form, in one literal-masked
pass, and reports the tables it rewrote).
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

from dataclasses import dataclass, field
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from exosql_spark.dialect import rewrite
from exosql_spark.session import scoped_conf
from exosql_spark.sources import resolve_source


# Which DataFrame each ``db_table`` temp view of a session holds, stored
# as an attribute on the SparkSession object (the cache.py registry
# pattern).  Contexts on one session share the view namespace, so a view
# is re-bound whenever it holds another frame than the query needs, and
# left alone (no ``createOrReplaceTempView`` round trip) when it holds
# the same one.
_VIEWS_ATTR = "_exosql_bound_views"


#: How a query over small inputs is planned: one shuffle partition and
#: no AQE.  A query whose inputs fit one partition has nothing for AQE
#: to coalesce or split, and AQE would still run each shuffle stage as a
#: job of its own and re-plan between them.
_SMALL_INPUT_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


#: Attribute naming the confs a frame's plan was made under, set on the
#: frames :meth:`Context._run` plans eagerly.
_PLANNED_ATTR = "_exosql_planned_confs"


def as_planned(df: DataFrame):
    """A conf scope in which a new plan over ``df`` (a limit, a write)
    is made the way ``df``'s own was.  A :class:`Context` query over
    small inputs was planned under :data:`_SMALL_INPUT_CONFS`, and a
    plan that wraps it is made afresh when its action runs, so run that
    action inside this scope; for any other frame the scope sets
    nothing."""
    return scoped_conf(df.sparkSession, vars(df).get(_PLANNED_ATTR, {}))


def _fits_one_partition(df: DataFrame) -> bool:
    """Whether the inputs of ``df``'s optimized plan — the leaves of the
    plan and of its subqueries — together fit AQE's smallest partitions:
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` times the
    default parallelism.  AQE's coalescing (parallelism first, Spark's
    default) would cut a shuffle that size into partitions of at most
    its minimum size, tasks whose fixed cost outweighs their work.  A
    larger input keeps AQE: at 25 MB of parquet a window ran 1.4–1.9×
    slower in one task than spread over 4 cores.  A source without
    statistics (an http table) reports ``spark.sql.defaultSizeInBytes``,
    which counts as large."""
    spark = df.sparkSession
    limit = spark.sparkContext.defaultParallelism * (
        spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
        )
    )
    plan = df._jdf.queryExecution().optimizedPlan()
    subqueries = plan.subqueriesAll()
    plans = [plan] + [subqueries.apply(i) for i in range(subqueries.size())]
    total = 0
    for p in plans:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            total += leaves.apply(i).stats().sizeInBytes()
            if total > limit:
                return False
    return True


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
        """Translate the exosql dialect to Spark SQL
        (:func:`exosql_spark.dialect.rewrite` — ``db.table``, ``$var``
        and the compat rewrites, in one literal-masked pass) and bind
        the views it references.  The dialect asks for a database's
        table names only when the query mentions it, so only referenced
        databases get resolved, and only the tables the query
        references are bound as ``db_table`` views. Returns the Spark
        SQL and its ``{view name: DataFrame}`` bindings."""
        rewritten, refs = rewrite(
            sql, {name: partial(self._resolve, db) for name, db in self._dbs.items()}
        )
        views = {f"{db}_{t}": self.table(db, t) for db, t in refs}
        _bind_views(self.spark, views)
        return rewritten, views

    def _run(self, rewritten: str, vars: dict[str, Any] | None, coerce: bool) -> DataFrame:
        """Parse and analyze ``rewritten``, then size it from its own
        optimized plan (see :func:`_fits_one_partition`).  When its
        inputs fit one partition the query is also physically planned
        here, under AQE off and one shuffle partition: physical planning
        reads both confs, so the plan is forced inside the scope, and
        collecting the returned frame runs that plan (a ``DISTRIBUTE
        BY`` without a count keeps the session's partition count, which
        the parser fixes).  Otherwise planning stays lazy and follows
        the session's confs.  ``coerce`` scopes ``spark.sql.ansi.enabled=false``
        around all of it; analysis bakes the coercion casts into the
        plan, so execution later needs no conf."""
        ansi = {"spark.sql.ansi.enabled": "false"} if coerce else {}
        with scoped_conf(self.spark, ansi):
            df = self.spark.sql(rewritten, args=vars) if vars else self.spark.sql(rewritten)
            if _fits_one_partition(df):
                with scoped_conf(self.spark, _SMALL_INPUT_CONFS):
                    df._jdf.queryExecution().executedPlan()
                setattr(df, _PLANNED_ATTR, _SMALL_INPUT_CONFS)
        return df

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
        text (Spark keeps no plan cache for SQL text), and plans it
        when its inputs are small (see :meth:`_run`)."""
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
    (not yet executed — the reference returned fully-materialized rows;
    callers ``.collect()`` at the edge if they need that).  Run one
    query per session at a time: Context queries over small inputs and
    iterative operators' loop scopes change the shared session conf
    while they plan (see :func:`exosql_spark.session.scoped_conf`)."""
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
    rows (driver-side; for interactive/dashboard use only).  The table
    is a new plan over ``df``, made and run inside :func:`as_planned`."""
    with as_planned(df):
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
    ``limit`` guards accidental full-table driver collects; the limited
    frame is a new plan over ``df``, made and run inside
    :func:`as_planned`."""
    if limit is None:
        rows = df.collect()
    else:
        with as_planned(df):
            rows = df.limit(limit).collect()
    return Result(columns=list(df.columns), rows=[list(r) for r in rows])
