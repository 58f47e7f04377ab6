"""Core relational surface: scan/project/filter/predicates/case/
subqueries/sort/limit/CTE/generate_series.

SURVEY.md §2 rows covered: S1, S6, S7, S8, P1–P7, O1–O4.
Reference anchors: ``lib/exosql/executor.ex :: execute/2`` (``:execute``,
``:select``, ``:filter``, ``:order_by``, ``:limit``, ``:offset`` clauses),
``lib/exosql/expr.ex :: run_expr/2`` (predicates, CASE, scalar subquery),
``lib/exosql/builtins.ex :: generate_series``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from exosql_spark.catalog import register
from exosql_spark.io import Tables
from exosql_spark.queries import _util as _u

# --------------------------------------------------------------------
# M0 flagship — TPC-H-Q1-style pricing summary.
# Exercises scan + filter (pushed to parquet) + project + hash agg
# (partial/final, whole-stage codegen) + sort. At 100 TB: lineitem scan
# is embarrassingly parallel, agg output is 4 groups → no skew concern.
# --------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_u.dsum_sql('l_quantity')}                                        AS sum_qty,
       {_u.dsum_sql('l_extendedprice')}                                   AS sum_base_price,
       {_u.dsum_sql('l_extendedprice * (1 - l_discount)')}                AS sum_disc_price,
       {_u.dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}  AS sum_charge,
       {_u.davg_sql('l_quantity')}                                        AS avg_qty,
       {_u.davg_sql('l_extendedprice')}                                   AS avg_price,
       {_u.davg_sql('l_discount')}                                        AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("agg", "flagship"),
    bench=True,
)
def q1_pricing_summary(spark, sf_dir):
    t = Tables(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _u.dsum("l_quantity").alias("sum_qty"),
            _u.dsum("l_extendedprice").alias("sum_base_price"),
            _u.dsum(disc_price).alias("sum_disc_price"),
            _u.dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            _u.davg("l_quantity").alias("avg_qty"),
            _u.davg("l_extendedprice").alias("avg_price"),
            _u.davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------
# S1/P1/P3 — scan with projection + filter; both reach the parquet scan
# (PushedFilters / ReadSchema asserted in tests/test_plans.py).
# --------------------------------------------------------------------


@register(
    "scan_project_filter",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_quantity >= 45 AND l_discount > 0.05
""",
    tags=("scan",),
)
def scan_project_filter(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.lineitem.filter(
        (F.col("l_quantity") >= 45) & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# --------------------------------------------------------------------
# P4 — predicate zoo: IN list, BETWEEN, LIKE, IS NULL, NOT.
# --------------------------------------------------------------------


@register(
    "predicates_zoo",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 1000 AND 50000
  AND o_orderstatus LIKE 'O%'
  AND o_custkey IS NOT NULL
  AND NOT (o_orderkey < 10)
""",
    tags=("filter",),
)
def predicates_zoo(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(1000, 50000)
        & F.col("o_orderstatus").like("O%")
        & F.col("o_custkey").isNotNull()
        & ~(F.col("o_orderkey") < 10)
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


@register(
    "predicate_ilike",
    oracle="""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE c_mktsegment ILIKE '%bui%'
""",
    tags=("filter",),
)
def predicate_ilike(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.customer.filter(F.col("c_mktsegment").ilike("%bui%")).select(
        "c_custkey", "c_mktsegment"
    )


# --------------------------------------------------------------------
# P6 — CASE (searched and matched forms).
# --------------------------------------------------------------------


@register(
    "case_expr",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS size_bucket,
       CASE o_orderstatus WHEN 'O' THEN 'open'
                          WHEN 'F' THEN 'finished'
                          ELSE 'other' END AS status_name
FROM orders
""",
    tags=("expr",),
)
def case_expr(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
        .alias("size_bucket"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "finished")
        .otherwise("other")
        .alias("status_name"),
    )


# --------------------------------------------------------------------
# P7 — scalar subquery in expression position.
# --------------------------------------------------------------------


@register(
    "scalar_subquery",
    oracle="""
SELECT c_custkey, round(c_acctbal, 4) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
""",
    tags=("subquery",),
)
def scalar_subquery(spark, sf_dir):
    t = Tables(spark, sf_dir)
    t.customer.createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 4) AS acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        """
    )


# --------------------------------------------------------------------
# O1–O3 — ORDER BY (multi-key, mixed direction) + LIMIT + OFFSET.
# Ordered by a unique key so the row set is deterministic; Spark compiles
# orderBy+limit to TakeOrderedAndProject (top-k, no global sort).
# --------------------------------------------------------------------


@register(
    "sort_limit_offset",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20 OFFSET 10
""",
    tags=("sort",),
)
def sort_limit_offset(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(10)
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------
# S7 — CTE; S8 — subquery in FROM.
# --------------------------------------------------------------------


_CTE_SQL = f"""
WITH big_orders AS (
  SELECT o_custkey, count(*) AS n_orders, {_u.dsum_sql('o_totalprice')} AS spend
  FROM orders
  WHERE o_totalprice > 100000
  GROUP BY o_custkey
)
SELECT t.o_custkey, t.n_orders, t.spend
FROM (SELECT * FROM big_orders WHERE n_orders >= 2) t
"""


@register("cte_from_subquery", oracle=_CTE_SQL, tags=("cte",))
def cte_from_subquery(spark, sf_dir):
    """Identical SQL text runs on both engines (dsum_sql is valid Spark
    SQL and DuckDB SQL; decimal accumulation keeps sums order-stable)."""
    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("orders")
    return spark.sql(_CTE_SQL)


# --------------------------------------------------------------------
# S6 — generate_series as a FROM source (table function).
# Spark: spark.range (parallel, partitioned — scales to any N without
# materializing on the driver).
# --------------------------------------------------------------------


@register(
    "generate_series",
    oracle="""
SELECT n, n * n AS n_squared
FROM generate_series(1, 1000, 7) AS t(n)
""",
    tags=("source",),
)
def generate_series(spark, sf_dir):
    return (
        spark.range(1, 1001, 7)
        .select(F.col("id").alias("n"))
        .withColumn("n_squared", F.col("n") * F.col("n"))
    )


# --------------------------------------------------------------------
# §1 — $var parameterized queries (reference: ExoSQL.query/3 with
# __vars__; exosql.ex query("... $var ...", context) binding).
# --------------------------------------------------------------------

_PARAM_SQL_BODY = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {_u.dsum_sql('o_totalprice')} AS revenue,
       max(o_orderdate) AS last_date
FROM {{orders}}
WHERE o_totalprice >= {{min_price}}
  AND o_orderdate >= CAST({{start_date}} AS DATE)
  AND o_orderpriority LIKE {{prio_like}}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

_PARAM_VARS = {"min_price": 25000.0, "start_date": "1995-06-01", "prio_like": "%-%I%"}


@register(
    "params_var_binding",
    oracle=_PARAM_SQL_BODY.format(
        orders="orders",
        min_price="25000.0",
        start_date="'1995-06-01'",
        prio_like="'%-%I%'",
    ),
    tags=("core", "params"),
)
def params_var_binding(spark, sf_dir):
    """SURVEY §1 ``$var`` parameterized queries as a DRIVER-checked
    entry (previously tests-only): the Spark side runs the exosql
    dialect text with ``$min_price`` / ``$start_date`` / ``$prio_like``
    placeholders through ``Context.sql(sql, vars=...)`` — the dialect
    rewrite turns ``$var`` into Spark named parameters (``:var``) and
    ``spark.sql(..., args=...)`` binds them as TRUE parameters (never
    string-spliced, so a value like ``"'; DROP"`` is just data).  The
    oracle is the constant-substituted twin of the same SQL body, so a
    binding bug (wrong var, wrong type coercion, off-by-one rewrite
    inside LIKE patterns) diverges the engines.  Three binding types
    are covered: float, date-as-string (cast in SQL), and a LIKE
    pattern containing ``%``/``_``-adjacent metacharacters."""
    from exosql_spark.context import Context

    ctx = Context(spark, {"db": {"parquet": sf_dir}})
    sql = _PARAM_SQL_BODY.format(
        orders="db.orders",
        min_price="$min_price",
        start_date="$start_date",
        prio_like="$prio_like",
    )
    return ctx.sql(sql, vars=_PARAM_VARS)


@register(
    "dialect_star_exclude",
    oracle="""
SELECT * EXCLUDE (o_orderdate, o_orderpriority)
FROM orders
WHERE o_orderkey < 200
ORDER BY o_orderkey
""",
    tags=("project", "dialect"),
)
def dialect_star_exclude(spark, sf_dir):
    """``SELECT * EXCLUDE (cols)`` — DuckDB/Snowflake's column
    subtraction, desugared by the dialect layer to Spark's spelling
    ``* EXCEPT (cols)`` (a step of ``dialect.rewrite``; rewritten
    only DIRECTLY after a star, so a column literally named exclude
    is untouched — same non-reserved-word discipline as the QUALIFY
    guard).  The oracle runs EXCLUDE natively in DuckDB, so the hash
    proves both engines subtract the same columns and keep the rest
    in the same order.  Column subtraction is projection pruning's
    user-facing face: the scan must read everything BUT the excluded
    columns — at 100 TB dropping wide columns from the read
    schema is the difference between I/O-bound and not."""
    from exosql_spark.context import Context

    ctx = Context(spark, {"db": {"parquet": sf_dir}})
    return ctx.sql(
        "SELECT * EXCLUDE (o_orderdate, o_orderpriority) FROM db.orders "
        "WHERE o_orderkey < 200 ORDER BY o_orderkey"
    )


_RECURSIVE_HIERARCHY_SQL = """
WITH RECURSIVE nodes AS (
  SELECT c_custkey AS id,
         CASE WHEN c_custkey = 1 THEN NULL
              ELSE CAST(floor(c_custkey / 2) AS BIGINT) END AS parent
  FROM customer WHERE c_custkey BETWEEN 1 AND 127
),
anc(id, anc_id, depth) AS (
  SELECT id, parent, 1 FROM nodes WHERE parent IS NOT NULL
  UNION ALL
  SELECT a.id, n.parent, a.depth + 1
  FROM anc a JOIN nodes n ON a.anc_id = n.id AND n.parent IS NOT NULL
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(id) AS BIGINT) AS min_id,
       CAST(max(id) AS BIGINT) AS max_id
FROM anc GROUP BY depth ORDER BY depth
"""


@register(
    "recursive_cte_hierarchy",
    oracle=_RECURSIVE_HIERARCHY_SQL,
    tags=("sql", "recursive", "dialect"),
    bench=True,  # plan-novel: engine-managed recursion execution, tracked since r13
)
def recursive_cte_hierarchy(spark, sf_dir):
    """``WITH RECURSIVE`` hierarchy traversal (Spark 4's recursive CTE
    — org charts, BOM explosions, category trees: the workload class
    that previously forced a driver-side loop of joins).  IDENTICAL
    text runs natively on both engines: a planted binary tree over
    customer keys 1–127 (parent = floor(id/2)) expands to every
    (node, ancestor) pair via the recursive join-form; the per-depth
    counts are sensitive to the full fixpoint (6 levels, 642 ancestor
    pairs), so a wrong recursion depth or join semantics breaks the
    hash.  Distributed shape: each recursion step is one join+filter
    over the previous step's delta — bounded by tree depth, the same
    bounded-iteration discipline as pagerank/learn_bpe, but expressed
    entirely in SQL with the engine managing the loop."""
    t = Tables(spark, sf_dir)
    t.customer.createOrReplaceTempView("customer")
    return spark.sql(_RECURSIVE_HIERARCHY_SQL)
