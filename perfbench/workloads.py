"""The workloads.

Each workload generates its inputs from the seed, sets up its sources on
a session, lists its distinct operations, runs one operation (timing
only the user's materialization, never a ``count()``), and gives the
DuckDB hash that operation's result must match.
"""

from __future__ import annotations

import os
import random
import re
import shutil
from dataclasses import dataclass, field

import check
import datagen
import sparkstats
from spans import Tracer

from exosql_spark import cache, sinks
from exosql_spark.catalog import all_queries
from exosql_spark.context import Context, query, to_result
from exosql_spark.io import load_table


@dataclass
class Op:
    name: str
    kind: str = ""
    sql: str = ""
    vars: dict = field(default_factory=dict)
    coerce: bool = False


def _table_views(data_dir: str, prefix: str = "") -> dict[str, str]:
    return {f"{prefix}{t}": f"'{data_dir}/{t}.parquet'" for t in datagen.TABLES}


def _register_tables(spark, data_dir: str) -> None:
    for t in datagen.TABLES:
        load_table(spark, data_dir, t)


# -- dashboard_sql -------------------------------------------------------

#: (exosql-dialect SQL with $vars, var name -> generator, coerce)
TEMPLATES = [
    ("SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal "
     "FROM tpch.customer WHERE c_nationkey = $nation GROUP BY c_mktsegment",
     {"nation": lambda r: r.randrange(25)}, False),
    ("SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
     "FROM tpch.orders WHERE year(o_orderdate) = $year AND o_orderstatus = $status "
     "GROUP BY o_orderpriority",
     {"year": lambda r: r.randrange(1995, 2002), "status": lambda r: r.choice("FOP")}, False),
    ("SELECT a.tier, COUNT(*) AS n, ROUND(SUM(a.mrr), 2) AS mrr FROM crm.accounts a "
     "JOIN tpch.customer c ON a.custkey = c.c_custkey WHERE c.c_mktsegment = $seg "
     "GROUP BY a.tier",
     {"seg": lambda r: r.choice(datagen.SEGMENTS)}, False),
    ("SELECT t.severity, COUNT(*) AS n, MAX(t.hours_open) AS worst FROM crm.tickets t "
     "JOIN crm.accounts a ON t.account_id = a.account_id WHERE a.tier = $tier "
     "GROUP BY t.severity",
     {"tier": lambda r: r.choice(datagen.TIERS)}, False),
    ("SELECT service, COUNT(*) AS n, SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS failed, "
     "MAX(duration_ms) AS slowest FROM ops.deploys WHERE day >= $day GROUP BY service",
     {"day": lambda r: f"2024-01-{r.randrange(1, 31):02d}"}, False),
    ("SELECT o_orderkey, o_totalprice, o_orderdate FROM tpch.orders "
     "WHERE o_custkey = $cust ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
     {"cust": lambda r: r.randrange(150)}, False),
    ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
     "ROUND(SUM(l_extendedprice), 2) AS price FROM tpch.lineitem "
     "WHERE year(l_shipdate) = $year AND l_quantity < $qty "
     "GROUP BY l_returnflag, l_linestatus",
     {"year": lambda r: r.randrange(1995, 2002), "qty": lambda r: r.randrange(5, 51)}, False),
    ("SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total FROM tpch.events "
     "WHERE user_id = $user GROUP BY event_type",
     {"user": lambda r: r.randrange(150)}, False),
    ("SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM tpch.events "
     "WHERE event_type = $etype AND day(ts) <= $dom GROUP BY CAST(ts AS DATE)",
     {"etype": lambda r: r.choice(datagen.EVENT_TYPES), "dom": lambda r: r.randrange(1, 31)},
     False),
    ("SELECT n.n_name, COUNT(DISTINCT a.account_id) AS accounts, SUM(a.seats) AS seats "
     "FROM crm.accounts a JOIN tpch.customer c ON a.custkey = c.c_custkey "
     "JOIN tpch.nation n ON c.c_nationkey = n.n_nationkey WHERE n.n_regionkey = $region "
     "GROUP BY n.n_name",
     {"region": lambda r: r.randrange(5)}, False),
    ("SELECT p_brand, COUNT(*) AS n, MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi "
     "FROM tpch.part WHERE p_size BETWEEN $lo AND $lo + 5 AND p_type = $ptype "
     "GROUP BY p_brand",
     {"lo": lambda r: r.randrange(1, 46), "ptype": lambda r: r.choice(datagen.PART_TYPES)},
     False),
    # numeric column against a string var: exosql's dynamic coercion
    ("SELECT tier, COUNT(*) AS n, SUM(seats) AS seats FROM crm.accounts "
     "WHERE seats >= $minseats GROUP BY tier",
     {"minseats": lambda r: str(r.randrange(1, 500))}, True),
]

_DB_REF = re.compile(r"\b(tpch|crm|ops)\.(\w+)")


def _literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def bind_literals(sql: str, vars: dict) -> str:
    """Substitute ``$name`` with the SQL literal of ``vars[name]``."""
    return re.sub(r"\$([A-Za-z_]\w*)", lambda m: _literal(vars[m.group(1)]), sql)


def duck_twin(sql: str, vars: dict) -> str:
    """The DuckDB form of a dashboard query: constants substituted and
    ``db.table`` replaced by the ``db_table`` view."""
    return _DB_REF.sub(r"\1_\2", bind_literals(sql, vars))


#: One pass: (template, access mode).  10 prepared re-executions with
#: fresh vars, 6 ``Context.sql`` calls with new text, 4 one-shot
#: ``query`` calls that build and resolve a new context (the CSV-backed
#: ones re-infer their schema, which makes them the latency tail).
PASS = (
    [(t, "prepared") for t in range(10)]
    + [(t, "sql") for t in (0, 5, 6, 8, 10, 11)]
    + [(t, "query") for t in (2, 3, 9, 11)]
)


def dashboard_stream(seed: int) -> list[Op]:
    """One pass of :data:`PASS` in a seeded order with seeded vars; the
    mix is the same for every seed."""
    rng = random.Random(seed)
    slots = list(PASS)
    rng.shuffle(slots)
    ops = []
    for i, (tid, kind) in enumerate(slots):
        sql, gens, coerce = TEMPLATES[tid]
        vars = {k: g(rng) for k, g in gens.items()}
        ops.append(Op(f"q{i:02d}.t{tid}.{kind}", kind, sql, vars, coerce))
    return ops


class Dashboard:
    name = "dashboard_sql"
    why = "many small federated SELECTs with $vars: per-query fixed cost"
    result_layer = "context"
    sf = 0.01
    #: timed passes: 100 latency samples, so p90 has 10 samples beyond it
    passes = 5

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "tpch")
        self.spec = {
            "tpch": {"parquet": self.data},
            "crm": {"csv": os.path.join(work, "crm")},
            "ops": {"jsonl": os.path.join(work, "ops")},
        }
        self.seed = seed
        self.ops = dashboard_stream(seed)
        self.prepared: dict[str, object] = {}

    def make_inputs(self) -> None:
        datagen.write_tables(self.data, self.seed, self.sf)
        datagen.write_dashboard_dbs(self.spec["crm"]["csv"], self.spec["ops"]["jsonl"], self.seed)

    def input_files(self) -> list[str]:
        return [self.data, self.spec["crm"]["csv"], self.spec["ops"]["jsonl"]]

    def setup(self, spark) -> None:
        self.spark = spark
        self.prepared = {}  # handles are bound to the previous session's context
        self.ctx = Context(spark, self.spec)
        self.ctx.table_names()

    def run(self, op: Op, tracer: Tracer):
        if op.kind == "prepared":
            handle = self.prepared.get(op.sql)
            if handle is None:
                with tracer.span("context.prepare"):
                    handle = self.prepared[op.sql] = self.ctx.prepare(op.sql, coerce=op.coerce)
            with tracer.span("context.run"):
                df = handle.run(op.vars)
        elif op.kind == "sql":
            with tracer.span("context.sql"):
                df = self.ctx.sql(bind_literals(op.sql, op.vars), coerce=op.coerce)
        else:
            with tracer.span("context.query"):
                df = query(self.spark, op.sql, self.spec, op.vars, coerce=op.coerce)
        with tracer.span("context.to_result"):
            res = to_result(df)
        return df, res

    def digest(self, res) -> str:
        return check.rows_hash(res.columns, res.rows)

    def duck(self):
        views = _table_views(self.data, "tpch_")
        views["crm_accounts"] = f"read_csv_auto('{self.spec['crm']['csv']}/accounts.csv')"
        views["crm_tickets"] = f"read_csv_auto('{self.spec['crm']['csv']}/tickets.csv')"
        views["ops_deploys"] = f"read_json_auto('{self.spec['ops']['jsonl']}/deploys.jsonl')"
        return check.duck_connect(views)

    def expected(self, con, op: Op, observed: str) -> str:
        return check.duck_hash(con, duck_twin(op.sql, op.vars))


# -- llm_pipeline --------------------------------------------------------

class LlmPipeline:
    name = "llm_pipeline"
    why = "driver loops, persists and bulk parquet writes of the LLM operators"
    result_layer = "sinks"
    sf = 0.01
    passes = 3
    entries = (
        "graph_kcore_planted", "text_bpe_merges_planted", "dedup_minhash_pairs",
    )

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "tpch")
        self.out = os.path.join(work, "out")
        self.seed = seed
        catalog = all_queries()
        self.catalog = {n: catalog[n] for n in self.entries}
        self.ops = [Op(n) for n in self.entries]
        self.written_bytes = 0
        self._n = 0

    def make_inputs(self) -> None:
        datagen.write_tables(self.data, self.seed, self.sf)

    def input_files(self) -> list[str]:
        return [self.data]

    def setup(self, spark) -> None:
        self.spark = spark
        _register_tables(spark, self.data)

    def run(self, op: Op, tracer: Tracer):
        self._n += 1
        path = os.path.join(self.out, f"{op.name}.{self._n}")
        with tracer.span("queries.build"):
            df = self.catalog[op.name].fn(self.spark, self.data)
        with tracer.span("sinks.write"):
            sinks.write_table(df, path)
        if tracer.enabled:
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            tracer.count("sinks.files", len(files))
            tracer.count("sinks.bytes", sum(os.path.getsize(os.path.join(path, f)) for f in files))
            tracer.peak("cache.storage_peak_mb", sparkstats.storage_mb(self.spark))
        with tracer.span("cache.release"):
            tracer.count("cache.released", cache.release_caches(self.spark))
        return df, path

    def digest(self, path: str) -> str:
        """Hash of the written dataset as DuckDB reads it back; the
        dataset is removed afterwards."""
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        self.written_bytes += sum(os.path.getsize(os.path.join(path, f)) for f in files)
        con = check.duck_connect({})
        try:
            return check.duck_hash(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        finally:
            con.close()
            shutil.rmtree(path)

    def duck(self):
        return check.duck_connect(_table_views(self.data))

    def expected(self, con, op: Op, observed: str) -> str:
        oracle = self.catalog[op.name].oracle
        # entries without an exact oracle must reproduce their warm-pass output
        return check.duck_hash(con, oracle) if oracle else observed


WORKLOADS = {w.name: w for w in (Dashboard, LlmPipeline)}


# -- tracing of calls the package makes internally -----------------------

def instrument(tracer: Tracer) -> None:
    """Wrap the package functions that operators call internally, in every
    loaded ``exosql_spark`` module that holds a reference to them, so a
    traced run sees each call as a span.  Disabled, a wrapper only adds a
    function call."""
    import sys
    from contextlib import contextmanager

    from exosql_spark import io
    from exosql_spark.operators import iterative
    from exosql_spark.sources import resolve_source

    memo: dict = {}

    def load_table_traced(spark, sf_dir, name):
        with tracer.span("io.load_table"):
            df = io_load_table(spark, sf_dir, name)
        key = (id(spark), sf_dir, name)
        tracer.count("io.load_table_hits", memo.get(key) is df)
        memo[key] = df
        return df

    @contextmanager
    def loop_conf_traced(spark, partitions):
        with tracer.span("iterative.loop"), loop_conf(spark, partitions):
            yield

    def persist_traced(df, level=None):
        tracer.count("cache.persists")
        return managed_persist(df, level)

    io_load_table, loop_conf = io.load_table, iterative.loop_conf
    managed_persist = cache.managed_persist
    replace = {
        io_load_table: load_table_traced,
        loop_conf: loop_conf_traced,
        managed_persist: persist_traced,
        resolve_source: _spanned(tracer, "sources.resolve", resolve_source),
    }
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("exosql_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            try:
                new = replace.get(value)
            except TypeError:  # unhashable module attribute
                continue
            if new is not None:
                setattr(mod, attr, new)
    Context._rewrite = _spanned(tracer, "context.rewrite", Context._rewrite)
    Context._run = _spanned(tracer, "context.analyze", Context._run)


def _spanned(tracer: Tracer, name: str, fn):
    def wrapper(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)
    return wrapper
