"""Per-query sizing of Context queries and the session's codegen cache.

A Context query whose inputs fit AQE's smallest partitions is
planned when it is made, under AQE off and one shuffle partition; any
other query plans lazily under the session's confs.  Covered here: the
plan each path makes, inputs the context does not bind, old-vs-new row
equivalence over the dashboard templates, the job budget of a small
GROUP BY (shown and limited too), the conf scope's restore on every path
and across threads, and that the session keeps its generated code."""

from __future__ import annotations

import json
import os
import random
import threading
import uuid
from contextlib import contextmanager

import pytest

from exosql_spark.context import Context, format_result, query, to_result
from exosql_spark.operators.iterative import loop_conf
from exosql_spark.session import scoped_conf

AQE = "spark.sql.adaptive.enabled"
PARTITIONS = "spark.sql.shuffle.partitions"
ANSI = "spark.sql.ansi.enabled"
MIN_PARTITION = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

GROUP_BY = (
    "SELECT n_regionkey, count(*) AS n FROM tpch.nation "
    "WHERE n_nationkey >= $lo GROUP BY n_regionkey"
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan_nodes(df) -> list:
    """Every node of ``df``'s executed plan (forces planning)."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        out.append(p)
        ch = p.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _adaptive(df) -> bool:
    """Whether ``df`` plans under AQE (forces planning)."""
    return _plan_nodes(df)[0].getClass().getSimpleName() == "AdaptiveSparkPlanExec"


def _shuffles(df) -> list:
    """The shuffle exchanges of ``df``'s executed plan outside AQE."""
    return [p for p in _plan_nodes(df) if p.getClass().getSimpleName() == "ShuffleExchangeExec"]


def _jobs_in(spark, group: str, fn):
    """(fn's result, ids of the Spark jobs it ran) under its own job group."""
    sc = spark.sparkContext
    group = f"{group}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _conf(spark) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in (AQE, PARTITIONS, ANSI)}


@pytest.fixture(scope="module")
def small_sources(spark, sf_dir):
    nation = os.path.join(sf_dir, "nation.parquet")
    return {
        "parquet": {"tpch": {"parquet": sf_dir}},
        "tables": {"tpch": {"tables": {"nation": spark.read.parquet(nation)}}},
    }


# -- the plan each path makes ----------------------------------------------

@pytest.mark.parametrize("kind", ["parquet", "tables"])
def test_small_inputs_plan_one_partition_without_aqe(spark, small_sources, kind):
    spec = small_sources[kind]
    ctx = Context(spark, spec)
    for df in (
        ctx.sql(GROUP_BY, {"lo": 0}),
        ctx.prepare(GROUP_BY).run({"lo": 0}),
        query(spark, GROUP_BY, spec, {"lo": 0}),
    ):
        assert not _adaptive(df)
        shuffles = _shuffles(df)
        assert shuffles and all(p.numPartitions() == 1 for p in shuffles)
        assert len(df.collect()) == 5


def test_inputs_over_the_cut_keep_aqe(spark, small_sources):
    spec = small_sources["parquet"]
    ctx = Context(spark, spec)
    with scoped_conf(spark, {MIN_PARTITION: "1b"}):
        dfs = [
            ctx.sql(GROUP_BY, {"lo": 0}),
            ctx.prepare(GROUP_BY).run({"lo": 0}),
            query(spark, GROUP_BY, spec, {"lo": 0}),
        ]
    for df in dfs:
        assert _adaptive(df)
        assert len(df.collect()) == 5


def test_unknown_input_size_counts_as_large(spark):
    """An http table reports Spark's default size (no statistics)."""
    ctx = Context(spark, {"web": {"http": {"pages": 2}}})
    df = ctx.sql("SELECT page, count(*) AS n FROM web.api GROUP BY page")
    assert _adaptive(df)
    assert sorted(r.n for r in df.collect()) == [10, 10]


#: Queries over a small bound table plus an input the context does not
#: bind: a session view, a table function, a scalar subquery.  ``range``
#: is sized from its row count (8 bytes a row) without running.
UNBOUND_LARGE = {
    "session_view": "SELECT count(*) AS n FROM tpch.nation JOIN big ON n_nationkey = id",
    "table_function": (
        "SELECT count(*) AS n FROM tpch.nation JOIN range(100000000) ON n_nationkey = id"
    ),
    "scalar_subquery": (
        "SELECT n_name, (SELECT max(id) FROM range(100000000)) AS m FROM tpch.nation"
    ),
}


@pytest.mark.parametrize("name", sorted(UNBOUND_LARGE))
def test_inputs_the_context_does_not_bind_are_sized(spark, small_sources, name):
    """Every input of the query counts, not just the tables the context
    binds: one large unbound input keeps the query on AQE."""
    spark.range(100_000_000).createOrReplaceTempView("big")
    ctx = Context(spark, small_sources["parquet"])
    assert not _adaptive(ctx.sql("SELECT count(*) AS n FROM tpch.nation"))
    assert _adaptive(ctx.sql(UNBOUND_LARGE[name]))


# -- old-vs-new equivalence -------------------------------------------------

#: The dashboard templates (exosql dialect, with fixed vars and the
#: coerce flag) over the test tables plus a CSV ``crm`` and a JSON-lines
#: ``ops`` database.
DASHBOARD = [
    ("SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal "
     "FROM tpch.customer WHERE c_nationkey = $nation GROUP BY c_mktsegment",
     {"nation": 3}, False),
    ("SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
     "FROM tpch.orders WHERE year(o_orderdate) = $year AND o_orderstatus = $status "
     "GROUP BY o_orderpriority",
     {"year": 1997, "status": "F"}, False),
    ("SELECT a.tier, COUNT(*) AS n, ROUND(SUM(a.mrr), 2) AS mrr FROM crm.accounts a "
     "JOIN tpch.customer c ON a.custkey = c.c_custkey WHERE c.c_mktsegment = $seg "
     "GROUP BY a.tier",
     {"seg": "BUILDING"}, False),
    ("SELECT t.severity, COUNT(*) AS n, MAX(t.hours_open) AS worst FROM crm.tickets t "
     "JOIN crm.accounts a ON t.account_id = a.account_id WHERE a.tier = $tier "
     "GROUP BY t.severity",
     {"tier": "gold"}, False),
    ("SELECT service, COUNT(*) AS n, SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS failed, "
     "MAX(duration_ms) AS slowest FROM ops.deploys WHERE day >= $day GROUP BY service",
     {"day": "2024-01-12"}, False),
    ("SELECT o_orderkey, o_totalprice, o_orderdate FROM tpch.orders "
     "WHERE o_custkey = $cust ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
     {"cust": 42}, False),
    ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
     "ROUND(SUM(l_extendedprice), 2) AS price FROM tpch.lineitem "
     "WHERE year(l_shipdate) = $year AND l_quantity < $qty "
     "GROUP BY l_returnflag, l_linestatus",
     {"year": 1998, "qty": 30}, False),
    ("SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total FROM tpch.events "
     "WHERE user_id = $user GROUP BY event_type",
     {"user": 7}, False),
    ("SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM tpch.events "
     "WHERE event_type = $etype AND day(ts) <= $dom GROUP BY CAST(ts AS DATE)",
     {"etype": "click", "dom": 20}, False),
    ("SELECT n.n_name, COUNT(DISTINCT a.account_id) AS accounts, SUM(a.seats) AS seats "
     "FROM crm.accounts a JOIN tpch.customer c ON a.custkey = c.c_custkey "
     "JOIN tpch.nation n ON c.c_nationkey = n.n_nationkey WHERE n.n_regionkey = $region "
     "GROUP BY n.n_name",
     {"region": 2}, False),
    ("SELECT p_brand, COUNT(*) AS n, MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi "
     "FROM tpch.part WHERE p_size BETWEEN $lo AND $lo + 5 AND p_type = $ptype "
     "GROUP BY p_brand",
     {"lo": 8, "ptype": "ECONOMY"}, False),
    # numeric column against a string var: exosql's dynamic coercion
    ("SELECT tier, COUNT(*) AS n, SUM(seats) AS seats FROM crm.accounts "
     "WHERE seats >= $minseats GROUP BY tier",
     {"minseats": "120"}, True),
]


@pytest.fixture(scope="module")
def dashboard_spec(sf_dir, tmp_path_factory):
    rng = random.Random(1)
    crm = tmp_path_factory.mktemp("crm")
    ops = tmp_path_factory.mktemp("ops")
    tiers = ["bronze", "silver", "gold", "platinum"]
    (crm / "accounts.csv").write_text(
        "account_id,custkey,tier,seats,mrr\n"
        + "".join(
            f"{i},{rng.randrange(150)},{rng.choice(tiers)},{rng.randrange(1, 500)},"
            f"{rng.randrange(1000, 900000) / 100:.2f}\n"
            for i in range(200)
        )
    )
    (crm / "tickets.csv").write_text(
        "ticket_id,account_id,severity,hours_open\n"
        + "".join(
            f"{i},{rng.randrange(200)},{rng.randrange(1, 5)},{rng.randrange(1, 2000)}\n"
            for i in range(600)
        )
    )
    (ops / "deploys.jsonl").write_text(
        "".join(
            json.dumps({
                "deploy_id": i,
                "service": rng.choice(["api", "web", "worker"]),
                "day": f"2024-01-{rng.randrange(1, 31):02d}",
                "ok": rng.random() < 0.9,
                "duration_ms": rng.randrange(100, 600000),
            }) + "\n"
            for i in range(300)
        )
    )
    return {"tpch": {"parquet": sf_dir}, "crm": {"csv": str(crm)}, "ops": {"jsonl": str(ops)}}


def test_dashboard_rows_equal_on_both_paths(spark, dashboard_spec):
    """Each template returns the same rows planned at one partition
    without AQE as planned lazily under AQE (minimum partition size 1
    byte)."""
    ctx = Context(spark, dashboard_spec)
    nonempty = 0
    for sql, vars, coerce in DASHBOARD:
        small = ctx.sql(sql, vars, coerce=coerce)
        with scoped_conf(spark, {MIN_PARTITION: "1b"}):
            large = ctx.sql(sql, vars, coerce=coerce)
        assert not _adaptive(small), sql
        # AQE wraps only plans with an exchange (a top-k has none)
        assert _adaptive(large) or not _shuffles(large), sql
        got = _rows(small)
        assert got == _rows(large), sql
        nonempty += bool(got)
    assert nonempty == len(DASHBOARD)


# -- job budget -------------------------------------------------------------

def test_small_group_by_runs_one_job(spark, small_sources):
    """A single-table GROUP BY is one job on every access path: no
    separate job for the shuffle stage, no AQE re-plan between them."""
    spec = small_sources["parquet"]
    ctx = Context(spark, spec)
    handle = ctx.prepare(GROUP_BY)
    paths = {
        "sql": lambda: ctx.sql(GROUP_BY, {"lo": 0}),
        "prepared": lambda: handle.run({"lo": 0}),
        "query": lambda: query(spark, GROUP_BY, spec, {"lo": 0}),
    }
    for name, run in paths.items():
        run().collect()  # resolution and codegen outside the budget
        res, jobs = _jobs_in(spark, f"budget-{name}", lambda: to_result(run()))
        assert len(res) == 5
        assert len(jobs) == 1, (name, jobs)
    # a limit or an ASCII table is a new plan over the frame, made the
    # way the frame's own plan was
    df = ctx.sql(GROUP_BY, {"lo": 0})
    for name, show in {
        "limit": lambda: len(to_result(df, limit=3)),
        "format": lambda: format_result(df).count("\n"),
    }.items():
        show()
        n, jobs = _jobs_in(spark, f"budget-{name}", show)
        assert n > 0
        assert len(jobs) == 1, (name, jobs)


# -- the conf scope ---------------------------------------------------------

def test_conf_scope_restores_on_every_path(spark, small_sources, monkeypatch):
    before = _conf(spark)
    ctx = Context(spark, small_sources["parquet"], coerce=True)
    real_sql = spark.sql
    seen = {}

    def spy(*a, **kw):
        seen.update(_conf(spark))
        return real_sql(*a, **kw)

    monkeypatch.setattr(spark, "sql", spy)
    df = ctx.sql("SELECT count(*) AS n FROM tpch.nation")
    assert seen == {**before, ANSI: "false"}  # parsed under coerce only
    assert not _adaptive(df)  # planned under the sizing confs
    assert _conf(spark) == before

    def boom(*a, **kw):
        raise RuntimeError("boom")

    monkeypatch.setattr(spark, "sql", boom)
    with pytest.raises(RuntimeError):
        ctx.sql("SELECT count(*) AS n FROM tpch.nation")
    with pytest.raises(RuntimeError):
        ctx.prepare("SELECT count(*) AS n FROM tpch.nation").run()
    assert _conf(spark) == before
    monkeypatch.undo()

    with pytest.raises(Exception, match="no_such_col"):
        ctx.sql("SELECT no_such_col FROM tpch.nation")
    assert _conf(spark) == before

    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {AQE: "false", PARTITIONS: "3", ANSI: "false"}):
            assert _conf(spark) == {AQE: "false", PARTITIONS: "3", ANSI: "false"}
            raise RuntimeError("boom")
    assert _conf(spark) == before


def test_conf_scope_across_threads(spark, small_sources, monkeypatch):
    """A Context query planned on one thread while a loop scope is open
    on another, with the query's scope held open until the loop's ends
    if it can be: the query's scope must wait for the loop's instead of
    saving the loop's values and restoring them after the loop is gone.
    Both threads finish with the session's own confs, and the query is
    still planned at one partition."""
    from exosql_spark import context as context_mod

    ctx = Context(spark, small_sources["parquet"])
    before = _conf(spark)
    loop_in, query_in, loop_out = threading.Event(), threading.Event(), threading.Event()
    real_scope, out = context_mod.scoped_conf, {}

    @contextmanager
    def held_scope(spark_, confs):
        with real_scope(spark_, confs):
            if confs:
                query_in.set()
                loop_out.wait(timeout=2)
            yield

    monkeypatch.setattr(context_mod, "scoped_conf", held_scope)

    def loop():
        with loop_conf(spark, 3):
            out["loop_conf"] = _conf(spark)
            loop_in.set()
            query_in.wait(timeout=2)
        loop_out.set()

    def run_query():
        loop_in.wait()
        df = ctx.sql(GROUP_BY, {"lo": 0})
        out["adaptive"] = _adaptive(df)
        out["rows"] = len(df.collect())

    threads = [threading.Thread(target=loop), threading.Thread(target=run_query)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert out["loop_conf"] == {**before, AQE: "false", PARTITIONS: "3"}
    assert out["rows"] == 5 and not out["adaptive"]
    assert _conf(spark) == before


# -- codegen cache ----------------------------------------------------------

def test_session_keeps_its_generated_code(spark):
    """After more distinct plans than Spark's default cache of 100
    entries, re-running the first plan compiles nothing."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def first():
        return spark.range(8).selectExpr("id * 7919 + 104729 AS x").collect()

    first()
    for i in range(120):
        spark.range(8).selectExpr(f"id * {i + 2} + {i + 3} AS x").collect()
    n = compiles.getCount()
    assert first()[1].x == 7919 + 104729
    assert compiles.getCount() == n
