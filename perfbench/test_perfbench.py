"""Tests of the benchmark itself: seeded inputs, the statistics it
reports, and that every timed operation materializes its full plan.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import datagen  # noqa: E402
import spans  # noqa: E402
from run import tree_sha1  # noqa: E402


# -- seeded inputs ---------------------------------------------------------

def _inputs(tmp, seed):
    d = os.path.join(tmp, str(seed))
    datagen.write_tables(os.path.join(d, "tpch"), seed, 0.002)
    datagen.write_dashboard_dbs(os.path.join(d, "crm"), os.path.join(d, "ops"), seed)
    return tree_sha1([d])


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    import workloads

    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    assert a == b
    assert _inputs(str(tmp_path / "c"), 8) != a
    assert workloads.dashboard_stream(7) == workloads.dashboard_stream(7)
    assert workloads.dashboard_stream(7) != workloads.dashboard_stream(8)


def test_dashboard_mix_is_the_same_for_every_seed():
    import workloads

    def mix(seed):
        return sorted((op.sql, op.kind) for op in workloads.dashboard_stream(seed))

    kinds = [op.kind for op in workloads.dashboard_stream(3)]
    assert [kinds.count(k) for k in ("prepared", "sql", "query")] == [10, 6, 4]
    assert {op.sql for op in workloads.dashboard_stream(3)} == {t[0] for t in workloads.TEMPLATES}
    assert mix(3) == mix(4)


# -- statistics ----------------------------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    assert spans.tail_count([float(i) for i in range(100)], 0.9) >= 10
    assert spans.tail_count([float(i) for i in range(99)], 0.9) < 10
    assert spans.quantile([1.0, 2.0, 3.0], 0.5) == 2.0


def test_self_time_subtracts_covered_part_of_children():
    s = [
        spans.Span("context.to_result", 0.0, 10.0, None, "op"),
        spans.Span("exec.job", 1.0, 3.0, 0, "op"),
        spans.Span("exec.job", 2.0, 5.0, 0, "op"),  # overlaps the first job
        spans.Span("exec.job", 8.0, 12.0, 0, "op"),  # runs past the parent
    ]
    assert spans.self_times(s) == [4.0, 2.0, 3.0, 4.0]
    assert spans.covered([(0.0, 1.0), (0.5, 2.0)], 0.0, 10.0) == 2.0


def test_external_spans_attach_to_innermost_containing_span():
    tr = spans.Tracer(enabled=True)
    tr.op = "op"
    tr.spans = [
        spans.Span("context.to_result", 0.0, 10.0, None, "op"),
        spans.Span("queries.build", 2.0, 4.0, 0, "op"),
    ]
    tr.add("exec.job", 3.0, 3.5)
    tr.add("plan.planning", 3.2, 3.3)  # never a parent itself
    tr.add("exec.job", 7.0, 8.0)
    tr.add("exec.job", 20.0, 21.0)
    assert [s.parent for s in tr.spans[2:]] == [1, 1, 0, None]


def test_failed_layer_is_innermost_span_left_by_an_exception():
    tr = spans.Tracer(enabled=True)
    with pytest.raises(ValueError):
        with tr.span("sinks.write"):
            with tr.span("exec.job"):
                raise ValueError
    assert tr.failed_layer == "exec"


def test_failed_frac_counts_errors_and_wrong_results():
    o = spans.Outcomes()
    for ok, layer in [(True, None), (False, "sinks"), (True, None), (False, None)]:
        o.record(ok, layer)
    assert (o.attempted, o.failed, o.failed_frac) == (4, 2, 0.5)
    assert o.by_layer == {"sinks": 1, "unknown": 1}
    assert spans.Outcomes().failed_frac == 0.0


def test_rows_hash_ignores_row_and_column_order():
    a = check.rows_hash(["x", "y"], [(1, "a"), (2, "b")])
    assert a == check.rows_hash(["y", "x"], [("b", 2), ("a", 1)])
    assert a != check.rows_hash(["x", "y"], [(1, "a"), (3, "b")])
    assert check.rows_hash(["v"], [(0.1 + 0.2,)]) == check.rows_hash(["v"], [(0.3,)])


# -- full-plan guard ------------------------------------------------------

def _plan_classes(spark, since: int) -> list[set[str]]:
    """Operator names of each SQL execution with id >= ``since``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.length()):
        eid = execs.apply(i).executionId()
        if eid < since:
            continue
        nodes = store.planGraph(eid).allNodes()
        out.append((eid, {_norm_node(nodes.apply(j).name()) for j in range(nodes.length())}))
    return [names for _, names in sorted(out)]


def _norm_node(name: str) -> str:
    name = re.sub(r" \(\d+\)$", "", name)  # codegen stage ids differ per execution
    return "Limit" if name.endswith("Limit") else name


def _write_only(name: str) -> bool:
    return name.startswith("Execute ") or name == "WriteFiles"


#: AQE's EmptyRelation keeps the logical subtree it replaced; whether its
#: leaf renders as LogicalRelation differs between executions.
_RENDERING_ONLY = {"LogicalRelation"}


def _next_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


@pytest.fixture(scope="module")
def spark():
    from exosql_spark import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()


@pytest.mark.parametrize("name", ["dashboard_sql", "llm_pipeline"])
def test_timed_plan_is_the_collected_plan(spark, tmp_path, monkeypatch, name):
    """Each operation's timed materialization (``to_result`` or
    ``sinks.write_table``) runs the same operator classes as collecting
    its result — nothing is pruned the way a ``count()`` would be."""
    import workloads

    wl = workloads.WORKLOADS[name](str(tmp_path), 5)
    wl.make_inputs()
    tracer = spans.Tracer(enabled=False)
    wl.setup(spark)
    # keep operator persists alive until the collect below has run
    monkeypatch.setattr(workloads.cache, "release_caches", lambda s: 0)
    for op in wl.ops:
        mark = _next_execution_id(spark)
        df, token = wl.run(op, tracer)
        timed = _plan_classes(spark, mark)[-1]
        mark = _next_execution_id(spark)
        df.collect()
        collected = _plan_classes(spark, mark)[-1]
        timed = {n for n in timed if not _write_only(n)} - _RENDERING_ONLY
        collected = collected - _RENDERING_ONLY
        assert timed == collected, (op.name, timed ^ collected)
        wl.digest(token)
        monkeypatch.undo()
        workloads.cache.release_caches(spark)
        monkeypatch.setattr(workloads.cache, "release_caches", lambda s: 0)
