"""Window functions — beyond-reference extension (SURVEY.md §2.5: the
reference has no OVER clause; dashboards there use GROUP BY +
self-joins). Spark gives ranking / analytic / frame-based aggregates
natively; the DuckDB oracle checks the same ANSI semantics.

Scale note: each window spec is one shuffle on its partition keys. We
keep partition keys high-cardinality (custkey/orderkey) so no single
partition dominates; an unpartitioned ORDER BY window would serialize —
avoided.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from exosql_spark.catalog import register
from exosql_spark.io import Tables


@register(
    "window_analytic_suite",
    oracle="""
SELECT o_custkey, o_orderkey,
       row_number() OVER w1 AS rn,
       rank()       OVER w1 AS rnk,
       dense_rank() OVER w1 AS drnk,
       round(o_totalprice, 4) AS price,
       round(lag(o_totalprice)  OVER w2, 4) AS prev_price,
       round(lead(o_totalprice) OVER w2, 4) AS next_price,
       first_value(o_orderkey) OVER w3 AS first_order,
       last_value(o_orderkey)  OVER w3 AS latest_order,
       nth_value(o_orderkey, 2) OVER w3 AS second_order
FROM orders
WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
       w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    tags=("window", "extension"),
)
def window_analytic_suite(spark, sf_dir):
    """Ranking (row_number/rank/dense_rank), analytic (lag/lead) and
    frame-value (first/last/nth_value over an unbounded frame) window
    functions as ONE driver row — the window-capacity consolidation
    of the former window_ranking / window_lag_lead /
    window_frame_values entries, every original column preserved and
    value-hashed.  Three window specs over the same o_custkey
    partition key: Catalyst plans ONE hash exchange (all specs share
    the partition key; the two sort orders add sorts, not shuffles),
    so consolidation also SAVES two shuffles over the three separate
    entries."""
    t = Tables(spark, sf_dir)
    w1 = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w2 = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = w2.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w1).alias("rn"),
        F.rank().over(w1).alias("rnk"),
        F.dense_rank().over(w1).alias("drnk"),
        F.round("o_totalprice", 4).alias("price"),
        F.round(F.lag("o_totalprice").over(w2), 4).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w2), 4).alias("next_price"),
        F.first("o_orderkey").over(w3).alias("first_order"),
        F.last("o_orderkey").over(w3).alias("latest_order"),
        F.nth_value("o_orderkey", 2).over(w3).alias("second_order"),
    )


@register(
    "window_running_agg",
    oracle="""
SELECT o_custkey, o_orderkey,
       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS running_spend,
       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / count(*) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 10000.0 + 0.5) / 10000.0 AS moving_avg3
FROM orders
""",
    tags=("window", "extension"),
    bench=True,
)
def window_running_agg(spark, sf_dir):
    """Frame aggregates accumulate in engine-specific order → exact
    decimal sums inside the frame, engine-deterministic rounding out."""
    t = Tables(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(25,6)")
    run = F.sum(dec).over(w.rowsBetween(W.unboundedPreceding, 0))
    mov = F.sum(dec).over(w.rowsBetween(-2, 0))
    nmov = F.count(F.lit(1)).over(w.rowsBetween(-2, 0))
    from exosql_spark.queries._util import fround

    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        fround(run.cast("double"), 4).alias("running_spend"),
        fround(mov.cast("double") / nmov, 4).alias("moving_avg3"),
    )


@register(
    "window_ntile_range_suite",
    oracle="""
SELECT 'ntile' AS variant,
       c_custkey,
       CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile,
       round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pct_rank,
       CAST(NULL AS BIGINT) AS o_orderkey,
       CAST(NULL AS DOUBLE) AS o_totalprice,
       CAST(NULL AS BIGINT) AS n_similar_price,
       CAST(NULL AS DOUBLE) AS avg_similar_price
FROM customer
UNION ALL
SELECT 'range',
       CAST(NULL AS BIGINT),
       CAST(NULL AS INTEGER),
       CAST(NULL AS DOUBLE),
       o_orderkey,
       o_totalprice,
       count(*) OVER w,
       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER w AS DOUBLE)
              / count(*) OVER w) * 10000.0 + 0.5) / 10000.0
FROM orders
WINDOW w AS (ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
""",
    tags=("window", "extension"),
)
def window_ntile_range_suite(spark, sf_dir):
    """Unpartitioned ranking + value-RANGE-frame windows as tagged
    variants (r17 window-capacity consolidation of
    window_ntile_percent + window_range_frame — the r16 pre-plan's
    capacity target, shifted to this NON-bench pair so the bench
    query set stays byte-identical per r16 verdict Next #7; every
    column of both originals preserved, null-padded per variant):

    - ``ntile``: quartiles + percent_rank over customers by account
      balance — unpartitioned ranking window, fine at dimension-table
      cardinality (for 100 TB fact tables use bucketed approx
      quantiles instead; exosql_spark.operators.text.quality buckets
      show the pattern);
    - ``range``: orders within ±1000 of each price (RANGE frame —
      value-based, not row-based), exact decimal sums inside the
      frame, engine-deterministic rounding out.  Unpartitioned, same
      dimension-cardinality caveat: shard the ORDER BY key for
      fact-scale."""
    from exosql_spark.queries._util import fround

    t = Tables(spark, sf_dir)
    wq = W.orderBy("c_acctbal", "c_custkey")
    nt = t.customer.select(
        F.lit("ntile").alias("variant"),
        "c_custkey",
        F.ntile(4).over(wq).alias("quartile"),
        F.round(F.percent_rank().over(wq), 6).alias("pct_rank"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("long").alias("n_similar_price"),
        F.lit(None).cast("double").alias("avg_similar_price"),
    )
    wr = W.orderBy("o_totalprice").rangeBetween(-1000, 1000)
    n = F.count(F.lit(1)).over(wr)
    dec_sum = F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(wr)
    rg = t.orders.select(
        F.lit("range").alias("variant"),
        F.lit(None).cast("long").alias("c_custkey"),
        F.lit(None).cast("int").alias("quartile"),
        F.lit(None).cast("double").alias("pct_rank"),
        "o_orderkey",
        "o_totalprice",
        n.alias("n_similar_price"),
        fround(dec_sum.cast("double") / n, 4).alias("avg_similar_price"),
    )
    return nt.unionByName(rg)


_QUALIFY_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM {orders}
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) <= 2
"""


@register(
    "window_qualify",
    oracle=_QUALIFY_SQL.format(orders="orders"),
    tags=("window", "dialect", "extension"),
)
def window_qualify(spark, sf_dir):
    """``QUALIFY`` (DuckDB/Snowflake/BigQuery window filter — Spark
    has no such clause): the SAME dialect text runs on both engines —
    DuckDB executes it natively as the oracle, Spark gets it through
    the dialect desugar (``dialect.rewrite``'s QUALIFY step: subquery
    with the predicate as a boolean flag, evaluated in the original select
    scope so Catalyst merges the repeated window expression into ONE
    Window node — top-2 orders per customer costs exactly one hash
    exchange + one sort, same plan as writing the subquery by hand).
    Better: Catalyst's InferWindowGroupLimit recognizes the desugared
    rank-filter and plants a PARTIAL WindowGroupLimit before the
    exchange (plan-pinned in tests/test_dialect.py), so at 100 TB each
    map task ships at most k rows per key instead of its whole
    partition."""
    from exosql_spark.context import Context

    ctx = Context(spark, {"db": {"parquet": sf_dir}})
    return ctx.sql(_QUALIFY_SQL.format(orders="db.orders"))
