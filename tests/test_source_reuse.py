"""Per-session source reuse: the fingerprinted memo behind file-backed
specs (``exosql_spark.io.memoized``) and the per-query view bindings of
``Context`` — old-vs-new equivalence, the two bugs the memo and the
view registry fix, and the job budget of a repeated one-shot query."""

from __future__ import annotations

import os
import uuid

import pytest

from exosql_spark.context import Context, query


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


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


# -- old-vs-new equivalence ------------------------------------------------

def _write(spark, kind: str, root, with_extra: bool) -> str:
    """A one-table ``kind`` database under ``root``; ``with_extra`` adds
    a column (the rewrite case)."""
    root.mkdir(exist_ok=True)
    rows = [(1, "ann", 2.5), (2, "bo", None), (3, "cy", 7.0)]
    extra = ",flag" if with_extra else ""
    if kind == "csv":
        body = "".join(
            f"{i},{n},{'' if x is None else x}" + (",true" if with_extra else "") + "\n"
            for i, n, x in rows
        )
        (root / "t.csv").write_text(f"id,name,x{extra}\n" + body)
    elif kind == "jsonl":
        lines = [
            f'{{"id": {i}, "name": "{n}", "x": {"null" if x is None else x}'
            + (', "flag": true' if with_extra else "")
            + "}"
            for i, n, x in rows
        ]
        (root / "t.jsonl").write_text("\n".join(lines) + "\n")
    else:
        df = spark.createDataFrame(rows, "id long, name string, x double")
        if with_extra:
            df = df.selectExpr("*", "true AS flag")
        getattr(df.coalesce(1).write.mode("overwrite"), kind)(str(root / f"t.{kind}"))
    return str(root)


def _direct(spark, kind: str, path: str, infer_schema: bool):
    """The uncached read each spec kind stands for."""
    if kind == "csv":
        return (
            spark.read.option("header", "true")
            .option("inferSchema", str(infer_schema).lower())
            .csv(os.path.join(path, "t.csv"))
        )
    if kind == "jsonl":
        return spark.read.json(os.path.join(path, "t.jsonl"))
    return getattr(spark.read, kind)(os.path.join(path, f"t.{kind}"))


FILE_KINDS = pytest.mark.parametrize(
    "kind,infer_schema",
    [("csv", True), ("csv", False), ("jsonl", True), ("orc", True), ("parquet", True)],
)


@FILE_KINDS
def test_fresh_context_matches_direct_read(spark, tmp_path, kind, infer_schema):
    path = _write(spark, kind, tmp_path / "db", with_extra=False)
    spec = {"d": {kind: path, "infer_schema": infer_schema}}
    direct = _direct(spark, kind, path, infer_schema)
    for _ in range(2):  # the second context resolves from the memo
        got = query(spark, "SELECT * FROM d.t", spec)
        assert got.schema == direct.schema
        assert _rows(got) == _rows(direct)


@FILE_KINDS
def test_fresh_context_sees_rewritten_schema(spark, tmp_path, kind, infer_schema):
    path = _write(spark, kind, tmp_path / "db", with_extra=False)
    spec = {"d": {kind: path, "infer_schema": infer_schema}}
    query(spark, "SELECT * FROM d.t", spec).collect()
    _write(spark, kind, tmp_path / "db", with_extra=True)
    direct = _direct(spark, kind, path, infer_schema)
    got = query(spark, "SELECT * FROM d.t", spec)
    assert "flag" in got.columns
    assert got.schema == direct.schema
    assert _rows(got) == _rows(direct)


def test_env_spec_resolves_per_query(spark, monkeypatch):
    sql = "SELECT value FROM sys.env WHERE key = 'EXOSQL_REUSE_MARKER'"
    monkeypatch.setenv("EXOSQL_REUSE_MARKER", "1")
    assert query(spark, sql, {"sys": {"env": True}}).collect()[0].value == "1"
    monkeypatch.setenv("EXOSQL_REUSE_MARKER", "2")
    assert query(spark, sql, {"sys": {"env": True}}).collect()[0].value == "2"


# -- rewritten files -------------------------------------------------------

def test_sink_write_read_back_twice_on_one_session(spark, sf_dir):
    """The entry rewrites its parquet dataset under the same path on
    every call; the second call must not read the first call's files."""
    from exosql_spark.catalog import all_queries

    fn = all_queries()["sink_write_read_back"].fn
    first = _rows(fn(spark, sf_dir))
    assert first
    assert _rows(fn(spark, sf_dir)) == first


def test_parquet_overwrite_same_path_reads_new_rows(spark, tmp_path):
    table = str(tmp_path / "t.parquet")
    spec = {"p": {"parquet": str(tmp_path)}}
    spark.createDataFrame([(1,)], "a long").write.parquet(table)
    assert _rows(query(spark, "SELECT a FROM p.t", spec)) == [(1,)]
    spark.createDataFrame([(2,), (3,)], "a long").write.mode("overwrite").parquet(table)
    assert _rows(query(spark, "SELECT a FROM p.t", spec)) == [(2,), (3,)]


# -- contexts sharing a db name -------------------------------------------

def _twin_contexts(spark, tmp_path):
    ctxs = []
    for v in (1, 2):
        d = tmp_path / f"db{v}"
        d.mkdir()
        (d / "t.csv").write_text(f"a\n{v}\n")
        ctxs.append(Context(spark, {"shared": {"csv": str(d)}}))
    return ctxs


def test_contexts_sharing_db_name_via_sql(spark, tmp_path):
    a, b = _twin_contexts(spark, tmp_path)
    sql = "SELECT a FROM shared.t"
    assert _rows(a.sql(sql)) == [(1,)]
    assert _rows(b.sql(sql)) == [(2,)]
    assert _rows(a.sql(sql)) == [(1,)]


def test_contexts_sharing_db_name_via_prepared(spark, tmp_path):
    a, b = _twin_contexts(spark, tmp_path)
    pa, pb = a.prepare("SELECT a FROM shared.t"), b.prepare("SELECT a FROM shared.t")
    assert _rows(pa.run()) == [(1,)]
    assert _rows(pb.run()) == [(2,)]
    assert _rows(pa.run()) == [(1,)]


def test_only_referenced_tables_are_bound(spark, tmp_path):
    d = tmp_path / "db"
    d.mkdir()
    (d / "used.csv").write_text("a\n1\n")
    (d / "unused.csv").write_text("a\n2\n")
    query(spark, "SELECT a FROM refd.used", {"refd": {"csv": str(d)}}).collect()
    assert spark.catalog.tableExists("refd_used")
    assert not spark.catalog.tableExists("refd_unused")


# -- job budget ------------------------------------------------------------

def test_repeated_one_shot_query_runs_only_result_jobs(spark, tmp_path):
    """A second ``query()`` over a CSV + parquet spec the session has
    already resolved runs no schema-inference job: building it runs
    none, and all of its jobs are the result's."""
    csv = tmp_path / "csv"
    csv.mkdir()
    (csv / "accounts.csv").write_text("id,tier\n1,gold\n2,free\n3,gold\n")
    pq = tmp_path / "pq"
    spark.createDataFrame([(1, 10.0), (3, 2.5)], "id long, mrr double").write.parquet(
        str(pq / "revenue.parquet")
    )
    spec = {"c": {"csv": str(csv)}, "p": {"parquet": str(pq)}}
    sql = (
        "SELECT a.tier, SUM(r.mrr) AS mrr FROM c.accounts a "
        "JOIN p.revenue r ON a.id = r.id GROUP BY a.tier"
    )

    first, first_build = _jobs_in(spark, "reuse-first-build", lambda: query(spark, sql, spec))
    assert first_build, "the first query must infer its sources' schemas"
    expected, _ = _jobs_in(spark, "reuse-first-result", lambda: _rows(first))

    second, second_build = _jobs_in(spark, "reuse-second-build", lambda: query(spark, sql, spec))
    assert second_build == []
    rows, second_result = _jobs_in(spark, "reuse-second-result", lambda: _rows(second))
    assert second_result
    assert rows == expected == [("gold", 12.5)]
