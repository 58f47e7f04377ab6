"""exosql SQL-dialect rewrite tests — queries a reference user would
run verbatim must work through the federation API."""

from __future__ import annotations

from exosql_spark.context import Context
from exosql_spark.dialect import rewrite


def spark_sql(sql: str) -> str:
    """The Spark SQL text :func:`rewrite` makes of ``sql``."""
    return rewrite(sql)[0]


class TestRewriteUnits:
    def test_strftime_literal(self):
        assert (
            spark_sql("SELECT strftime(ts, '%Y-%m-%d') FROM t")
            == "SELECT date_format(ts, 'yyyy-MM-dd') FROM t"
        )

    def test_jp_literal(self):
        assert (
            spark_sql("SELECT jp(props, '/a/0/b') FROM t")
            == "SELECT get_json_object(props, '$.a[0].b') FROM t"
        )

    def test_to_datetime_with_duration(self):
        out = spark_sql("SELECT to_datetime(x, '-1d') FROM t")
        assert "INTERVAL '-1' DAY" in out and "timestamp_seconds" in out

    def test_distinct_on_desugar(self):
        out = spark_sql(
            "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, ts DESC"
        )
        assert "row_number() OVER (PARTITION BY k ORDER BY k, ts DESC)" in out
        assert "__exo_rn = 1" in out

    def test_distinct_on_with_limit(self):
        out = spark_sql(
            "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v LIMIT 5"
        )
        assert out.endswith("LIMIT 5")

    def test_strftime_quote_escaping(self):
        # Java patterns quote literals with single quotes — they must be
        # escaped for the SQL literal (regression: '%Y-%m-%dT%H' broke)
        out = spark_sql("SELECT strftime(ts, '%Y-%m-%dT%H') FROM t")
        assert "date_format(ts, 'yyyy-MM-dd''T''HH')" in out

    def test_plain_sql_untouched(self):
        sql = "SELECT a, count(*) FROM t GROUP BY a ORDER BY a"
        assert spark_sql(sql) == sql

    def test_string_literals_never_rewritten(self):
        sql = (
            "SELECT 'call strftime(ts, ''%Y'') later' AS note, "
            "strftime(ts, '%Y') AS y FROM t"
        )
        out = spark_sql(sql)
        assert "'call strftime(ts, ''%Y'') later'" in out
        assert "date_format(ts, 'yyyy')" in out

    def test_nested_two_levels(self):
        out = spark_sql(
            "SELECT strftime(to_datetime(jp(js, '/ts')), '%Y-%m') FROM t"
        )
        assert out.startswith("SELECT date_format((coalesce(timestamp_seconds(")
        assert "get_json_object(js, '$.ts')" in out
        assert "'yyyy-MM')" in out

    def test_distinct_on_star_no_helper_leak(self):
        out = spark_sql("SELECT DISTINCT ON (k) * FROM t ORDER BY k, v")
        assert "SELECT * EXCEPT (__exo_rn) FROM" in out

    def test_distinct_on_in_subquery(self):
        out = spark_sql(
            "SELECT count(*) AS n FROM "
            "(SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC) s"
        )
        assert "row_number() OVER (PARTITION BY k ORDER BY k, v DESC)" in out
        assert out.startswith("SELECT count(*) AS n FROM (")

    def test_distinct_on_literal_containing_keyword(self):
        out = spark_sql(
            "SELECT DISTINCT ON (k) k, 'ORDER BY trap LIMIT 3' AS s FROM t"
        )
        assert "'ORDER BY trap LIMIT 3'" in out
        assert "__exo_rn = 1" in out and not out.rstrip().endswith("LIMIT 3")

    def test_distinct_on_function_keys(self):
        out = spark_sql(
            "SELECT DISTINCT ON (lower(k), f(a, b)) k, v FROM t"
        )
        assert "PARTITION BY lower(k), f(a, b)" in out

    def test_double_quoted_strings_masked(self):
        # exosql examples write double-quoted strings (LIKE "%x%")
        sql = 'SELECT "call strftime(ts) now" AS s, strftime(ts, "%Y") AS y FROM t'
        out = spark_sql(sql)
        assert '"call strftime(ts) now"' in out
        assert "date_format(ts, 'yyyy')" in out

    def test_backslash_escaped_quote_in_literal(self):
        sql = r"SELECT 'it\'s strftime(x, \'%Y\') time' AS s FROM t"
        assert spark_sql(sql) == sql

    def test_qualify_after_top_level_with(self):
        # the WITH clause stays outside the desugar; the CTE body is a
        # level of its own
        assert spark_sql(
            "WITH cte AS (SELECT a, b FROM t) "
            "SELECT a FROM cte QUALIFY rank() OVER (ORDER BY b) = 1"
        ) == (
            "WITH cte AS (SELECT a, b FROM t) "
            "SELECT * EXCEPT (__exo_q) FROM ("
            "SELECT a, (rank() OVER (ORDER BY b) = 1) AS __exo_q FROM cte"
            ") WHERE __exo_q"
        )

    def test_distinct_on_after_top_level_with(self):
        assert spark_sql(
            "WITH cte AS (SELECT k, v FROM t) "
            "SELECT DISTINCT ON (k) k, v FROM cte ORDER BY k, v"
        ) == (
            "WITH cte AS (SELECT k, v FROM t) "
            "SELECT k, v FROM ("
            "SELECT *, row_number() OVER (PARTITION BY k ORDER BY k, v) AS __exo_rn "
            "FROM cte) WHERE __exo_rn = 1 ORDER BY k, v"
        )

    def test_db_table_and_vars_in_the_same_pass(self):
        asked = []

        def tables(db):
            def names():
                asked.append(db)
                return ["t", "u"]

            return names

        sql, refs = rewrite(
            "SELECT 'db.t $x', a FROM db.t JOIN db . u ON $k = $$1",
            {"db": tables("db"), "other": tables("other")},
        )
        assert sql == "SELECT 'db.t $x', a FROM db_t JOIN db_u ON :k = $1"
        assert refs == [("db", "t"), ("db", "u")]
        assert asked == ["db"]  # an unmentioned database is never asked


class TestDialectEndToEnd:
    def test_strftime_in_federated_sql(self, spark, sf_dir):
        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        rows = ctx.sql(
            "SELECT strftime(o_orderdate, '%Y-%m') AS ym "
            "FROM tpch.orders WHERE o_orderkey = 1"
        ).collect()
        assert len(rows) == 1 and len(rows[0].ym) == 7 and "-" in rows[0].ym

    def test_jp_in_federated_sql(self, spark, sf_dir):
        ctx = Context(spark, {"ev": {"parquet": sf_dir}})
        rows = ctx.sql(
            "SELECT jp(props, '/k') AS k FROM ev.events WHERE event_id = 1"
        ).collect()
        assert rows[0].k is not None

    def test_distinct_on_in_federated_sql(self, spark, sf_dir):
        """The reference's DISTINCT ON runs verbatim: latest order per
        customer."""
        from pyspark.sql import functions as F

        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        got = ctx.sql(
            "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey "
            "FROM tpch.orders "
            "ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC"
        )
        # one row per customer, and it's the latest order
        orders = ctx.table("tpch", "orders")
        n_cust = orders.select("o_custkey").distinct().count()
        rows = got.collect()
        assert len(rows) == n_cust
        spot = orders.filter(F.col("o_custkey") == rows[0].o_custkey).orderBy(
            F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
        )
        assert spot.first().o_orderkey == rows[0].o_orderkey

    def test_to_datetime_epoch_in_sql(self, spark, sf_dir):
        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        rows = ctx.sql(
            "SELECT to_datetime(0) AS epoch0"
        ).collect()
        assert str(rows[0].epoch0).startswith("1970-01-01")

    def test_db_table_inside_literal_untouched(self, spark, sf_dir):
        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        rows = ctx.sql(
            "SELECT 'visit tpch.orders today' AS s, count(*) AS n FROM tpch.orders"
        ).collect()
        assert rows[0].s == "visit tpch.orders today" and rows[0].n > 0

    def test_distinct_on_star_schema(self, spark, sf_dir):
        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        df = ctx.sql(
            "SELECT DISTINCT ON (o_custkey) * FROM tpch.orders "
            "ORDER BY o_custkey, o_orderdate DESC"
        )
        assert "__exo_rn" not in df.columns
        assert df.columns == ctx.table("tpch", "orders").columns

    def test_dollar_var_and_dollar_escape(self, spark, sf_dir):
        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        rows = ctx.sql(
            "SELECT concat('price in $', 'USD') AS cur, o_orderkey "
            "FROM tpch.orders WHERE o_orderkey = $k",
            vars={"k": 1},
        ).collect()
        assert rows[0].cur == "price in $USD" and rows[0].o_orderkey == 1

    def _one_row(self, spark):
        from datetime import datetime

        df = spark.createDataFrame([(datetime(2024, 1, 2, 3, 4, 5),)], "ts timestamp")
        return df, Context(spark, {"d": {"tables": {"t": df}}})

    def test_qualify_after_top_level_with_executes(self, spark):
        _, ctx = self._one_row(spark)
        rows = ctx.sql(
            "WITH cte AS (SELECT ts FROM d.t) "
            "SELECT ts FROM cte QUALIFY row_number() OVER (ORDER BY ts) = 1"
        ).collect()
        assert len(rows) == 1

    def test_distinct_on_after_top_level_with_executes(self, spark):
        _, ctx = self._one_row(spark)
        df = ctx.sql("WITH cte AS (SELECT ts FROM d.t) SELECT DISTINCT ON (ts) ts FROM cte")
        assert df.columns == ["ts"] and len(df.collect()) == 1

    def test_strftime_epoch_seconds_matches_column_builder(self, spark):
        """SQL ``strftime`` and the Column builder splice ``%s`` the same
        way (epoch seconds, not Java's second-of-minute)."""
        from exosql_spark.functions.datetime_compat import strftime

        df, ctx = self._one_row(spark)
        for fmt in ("%s", "%Y-%m-%d %s", "%Y"):
            got = ctx.sql(f"SELECT strftime(ts, '{fmt}') AS s FROM d.t").collect()
            want = df.select(strftime("ts", fmt).alias("s")).collect()
            assert got == want, fmt
        assert got[0].s == "2024"
        epoch = ctx.sql("SELECT strftime(ts, '%s') AS s FROM d.t").first().s
        assert epoch == str(int(df.selectExpr("unix_timestamp(ts) AS e").first().e))


class TestContextApi:
    def test_lazy_registration(self, spark, sf_dir):
        calls = []

        def failing_source(s):
            calls.append(1)
            raise RuntimeError("must not resolve unreferenced db")

        ctx = Context(
            spark,
            {"tpch": {"parquet": sf_dir}, "broken": failing_source},
        )
        # query touching only tpch: broken must never resolve
        n = ctx.sql("SELECT count(*) AS n FROM tpch.orders").first().n
        assert n > 0 and calls == []

    def test_prepare_reexecute(self, spark, sf_dir):
        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        handle = ctx.prepare(
            "SELECT o_orderkey, o_totalprice FROM tpch.orders WHERE o_orderkey = $k"
        )
        r1 = handle.run({"k": 1}).collect()
        r2 = handle({"k": 2}).collect()
        assert r1[0].o_orderkey == 1 and r2[0].o_orderkey == 2

    def test_coercion_arithmetic(self, spark, sf_dir):
        ctx = Context(spark, {"tpch": {"parquet": sf_dir}}, coerce=True)
        row = ctx.sql(
            "SELECT '1' + o_orderkey AS plus, "
            "cast(o_orderkey AS string) * 2 AS twice, "
            "('10' > o_orderkey) AS gt, "
            "'n/a' + 0 AS bad "
            "FROM tpch.orders WHERE o_orderkey = 4"
        ).first()
        assert row.plus == 5.0 and row.twice == 8.0
        assert row.gt is True and row.bad is None

    def test_coercion_off_by_default_restores_conf(self, spark, sf_dir):
        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        before = spark.conf.get("spark.sql.ansi.enabled")
        ctx.sql("SELECT 1 AS x", coerce=True).collect()
        assert spark.conf.get("spark.sql.ansi.enabled") == before


class TestQualifyDesugar:
    def test_rewrite_shape(self):
        out = spark_sql(
            "SELECT a, rank() OVER (ORDER BY b) AS r FROM t QUALIFY r = 1"
        )
        assert out.startswith("SELECT * EXCEPT (__exo_q) FROM (")
        assert out.endswith(") WHERE __exo_q")
        assert "(r = 1) AS __exo_q" in out

    def test_order_limit_stay_outside(self):
        out = spark_sql(
            "SELECT a FROM t QUALIFY rank() OVER (ORDER BY b) <= 3 "
            "ORDER BY a LIMIT 5"
        )
        assert out.endswith("WHERE __exo_q ORDER BY a LIMIT 5")

    def test_subquery_recursion_and_noop(self):
        out = spark_sql(
            "SELECT a FROM t WHERE x IN "
            "(SELECT y FROM u QUALIFY rank() OVER (ORDER BY z) = 1)"
        )
        assert "WHERE x IN (SELECT * EXCEPT (__exo_q)" in out
        assert spark_sql("SELECT a FROM t") == "SELECT a FROM t"

    def test_qualify_inside_string_literal_untouched(self):
        sql = "SELECT a FROM t WHERE b = 'does not qualify for this'"
        assert spark_sql(sql) == sql

    def test_qualify_as_column_name_untouched(self):
        """ADVICE r12: ``qualify`` is non-reserved — a column named
        qualify followed by an operator / RHS keyword / end-of-query
        must NOT trigger the desugar (the old token-only trigger
        produced malformed SQL); a real QUALIFY clause (predicate
        expression after the token, including NOT) still does."""
        for sql in (
            "SELECT a FROM t WHERE qualify = 1",
            "SELECT a FROM t WHERE qualify IS NULL",
            "SELECT a FROM t WHERE qualify IN (1, 2)",
            "SELECT a FROM t WHERE qualify BETWEEN 1 AND 2",
            "SELECT a FROM t WHERE qualify > 5 AND b = 2",
            "SELECT a, qualify FROM t ORDER BY qualify",
            "SELECT qualify + 1 AS q1 FROM t WHERE qualify - 3 < 0",
            # ADVICE r13: negated predicates over the column — NOT
            # immediately followed by an RHS keyword is column usage
            "SELECT a FROM t WHERE qualify NOT IN (1, 2)",
            "SELECT a FROM t WHERE qualify NOT LIKE 'x%'",
            "SELECT a FROM t WHERE qualify NOT BETWEEN 1 AND 2",
            "SELECT a FROM t WHERE qualify NOT RLIKE '^x'",
        ):
            assert spark_sql(sql) == sql, sql
        # real clauses still desugar — including bare QUALIFY NOT <pred>
        for sql in (
            "SELECT a FROM t QUALIFY rank() OVER (ORDER BY z) = 1",
            "SELECT a FROM t QUALIFY NOT (rank() OVER (ORDER BY z) > 2)",
        ):
            assert "__exo_q" in spark_sql(sql), sql

    def test_qualify_column_executes(self, spark, sf_dir):
        """End-to-end: a table with a column literally named qualify
        still filters on it through Context.sql."""
        from exosql_spark.context import Context

        ctx = Context(spark, {"tpch": {"parquet": sf_dir}})
        rows = ctx.sql(
            "SELECT r_name, r_regionkey AS qualify FROM tpch.region "
            "WHERE r_regionkey >= 0 AND r_regionkey = 2"
        ).collect()
        assert [r.r_name for r in rows] == ["ASIA"]
        # and filtering BY the aliased column in an outer query
        rows = ctx.sql(
            "SELECT * FROM (SELECT r_name, r_regionkey AS qualify "
            "FROM tpch.region) WHERE qualify = 2"
        ).collect()
        assert [r.r_name for r in rows] == ["ASIA"]

    def test_executes_with_single_window_node(self, spark, sf_dir):
        """The repeated window expression (select list + QUALIFY) must
        collapse to ONE Window operator — the desugar may not double
        the sort/exchange."""
        from exosql_spark.context import Context

        ctx = Context(spark, {"db": {"parquet": sf_dir}})
        df = ctx.sql(
            "SELECT o_custkey, o_orderkey, "
            "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            "FROM db.orders "
            "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 2"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("- Window ") == 1, plan
        # the rank()<=k flag is recognized by Spark's top-k-per-group
        # rewrite: partial WindowGroupLimit BEFORE the exchange, so at
        # 100 TB each map task ships at most k rows per key
        assert plan.count("WindowGroupLimit") == 2, plan
        rows = df.collect()
        assert rows
        per_cust = {}
        for r in rows:
            per_cust.setdefault(r.o_custkey, []).append(r.rn)
        assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 2
                   for v in per_cust.values())


class TestStarExclude:
    def test_rewrite_only_after_star(self):
        assert (
            spark_sql("SELECT * EXCLUDE (a, b) FROM t")
            == "SELECT * EXCEPT (a, b) FROM t"
        )
        assert (
            spark_sql("SELECT t.* exclude(x) FROM t")
            == "SELECT t.* EXCEPT(x) FROM t"
        )
        # DISTINCT/ALL between SELECT and the star still rewrite,
        # and a comma-separated later star does too
        assert (
            spark_sql("SELECT DISTINCT * EXCLUDE (a) FROM t")
            == "SELECT DISTINCT * EXCEPT (a) FROM t"
        )
        assert (
            spark_sql("SELECT a, * EXCLUDE (b) FROM t")
            == "SELECT a, * EXCEPT (b) FROM t"
        )
        # a column/alias literally named exclude is untouched
        for sql in (
            "SELECT exclude FROM t",
            "SELECT a AS exclude FROM t WHERE exclude (1) IS NOT NULL",
            "SELECT 'keep * EXCLUDE (a)' FROM t",
            # ADVICE r13: '*' as MULTIPLICATION before a function named
            # exclude is an operator, not a star projection
            "SELECT price * exclude(x) FROM t",
            "SELECT a FROM t WHERE b * exclude(c) > 0",
        ):
            assert spark_sql(sql) == sql

    def test_executes_and_prunes_schema(self, spark, sf_dir):
        """The desugared projection must reach the parquet scan's
        ReadSchema — column subtraction IS projection pruning."""
        from exosql_spark.context import Context

        ctx = Context(spark, {"db": {"parquet": sf_dir}})
        df = ctx.sql(
            "SELECT * EXCLUDE (o_orderdate, o_orderpriority) FROM db.orders"
        )
        assert "o_orderdate" not in df.columns and "o_orderkey" in df.columns
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "o_orderdate" not in plan.split("ReadSchema")[-1]
