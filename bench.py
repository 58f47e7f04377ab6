#!/usr/bin/env python
"""Headline benchmark: runs the catalog's bench-tagged queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints THREE JSON lines: the full record
including the per-query map, then the same per-query map at 2-decimal
precision under abbreviated keys (``perquery_line`` — small enough to
ride the driver's bounded tail capture; r18 verdict Next #2), then —
as the FINAL line of stdout — a COMPACT summary (everything except
the per-query map):

  {"metric": "...", "value": N, "unit": "sec", "estimator":
   "interleaved_min_of_5", "n_queries": K, "query_set_sha1": "...",
   "calibration_sec": ..., "calibration_shuffle_sec": ...,
   "queries_detail": "BENCH_DETAIL.json", "sf": ...}

Two lines because the driver records only a bounded TAIL of stdout
and parses the last line: a single line carrying the per-query map
outgrew that window twice (BENCH_r05.json and — after the set reached
62 queries — BENCH_r12.json both recorded ``parsed: null``, truncating
away the head scalars and breaking tools/compare_bench.py).  The
compact summary stays ≲600 chars regardless of catalog growth, so a
bounded tail capture always parses and always carries every calibration
scalar; the per-query map lives in the first stdout line and, durably,
in ``BENCH_DETAIL.json`` next to this script — snapshotted per round
as ``BENCH_DETAIL_r{N}.json`` (tools/gen_freshness.py does this at
round start), which is also the comparator's fallback for artifacts
whose tail did overflow.  ``query_set_sha1`` pins the headline's
basis: "value" sums over exactly the listed queries, so a
round-over-round diff of "value" is only meaningful when the hash
matches — compare per-query numbers over the set intersection
otherwise.

value = sum of per-query wall seconds, each the MIN of 5 runs taken
in an interleaved sweep:

1. one warm pass runs every entry once (JVM/codegen, parquet footers,
   Python workers); its wall time is recorded as ``cold_sec`` and its
   executed plan gives ``plan_shuffles``;
2. ``SPARK_GRAFT_BENCH_RUNS`` (default 5) timed passes then each visit
   every entry once, releasing operator persists before each run, so
   every timed run pays its own persist build.

Every run goes through :func:`time_run`, which materializes the FULL
result plan through the no-op sink (``count()`` let Catalyst prune
windows, sorts and joins) under its own job group; ``jobs`` in the
detail file is the last run's job count.  The session
``get_spark`` builds keeps its generated code (a codegen cache that
holds every entry's classes; at Spark's default of 100 entries each
interleaved pass recompiled all ~1.7k of them), so the interleaving
recompiles nothing.  An entry's 5 samples span the whole
sweep, so a CPU-steal storm on a shared VM (identical 2 s plans have
measured 2 s / 12 s / 42 s purely by arrival time) inflates at most a
few of them, and the minimum — the standard noise-robust estimator
for "what does the plan cost", the reason timeit reports min — needs
no repair pass.  Median and stddev still land in BENCH_DETAIL.json so
diffs can be read against run noise.

``calibration_sec`` (headline + detail) is a data-free machine scalar
(codegen sum over range(10⁹), min of 3) measured in the same session
after the warm pass, just before the timed passes (``*_end``: just
after them): divide cross-round per-query ratios by the
calibration ratio to separate box drift from code changes (see
SCALE.md "environment drift").  ``calibration_shuffle_sec`` (round 12
on) is its scheduler/exchange-bound complement, and the detail file
records ``plan_shuffles`` per entry so tools/compare_bench.py can
normalize each query by the probe matching its plan class.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import re
import statistics
import sys
import time

from exosql_spark.cache import release_caches
from exosql_spark.catalog import all_queries
from exosql_spark.session import get_spark

try:
    from exosql_spark.context import as_planned
except ImportError:
    # trees before per-query sizing (tools/ab_probe.py times older
    # commits with this harness) plan every frame under the session's
    # confs, so there is nothing to re-apply
    from contextlib import nullcontext as as_planned

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Overridable so auxiliary sweeps (the tools/gen_scaled.py 10× scale
# point, sf0.001 smoke runs) don't clobber the round's sf0.1 record.
DETAIL_PATH = os.environ.get(
    "SPARK_GRAFT_DETAIL_PATH",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
)
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
# Comma-separated entry names to drop from the sweep. NEVER silent:
# exclusions land in the output JSON ("excluded") and the detail file —
# used for the auxiliary 100× scale point, where the known-quadratic
# fixed-k dedup_semantic would run for ~15 min by its own documented
# growth law (SCALE.md round-8); the driver's sf0.1 record never
# excludes anything.
EXCLUDE = [
    s.strip()
    for s in os.environ.get("SPARK_GRAFT_BENCH_EXCLUDE", "").split(",")
    if s.strip()
]


_RUN_IDS = itertools.count()


def time_run(spark, fn, sf_dir):
    """The one timed run every bench path shares: build ``fn(spark,
    sf_dir)`` and materialize its FULL result plan through the no-op
    sink — a ``count()`` would let Catalyst prune windows, sorts,
    joins and Python stages that feed only the output columns.  The
    run's jobs go under their own job group, so the job count covers
    eager driver jobs in the build as well as the final write.

    Returns (wall seconds, job count, the built DataFrame)."""
    sc = spark.sparkContext
    group = f"bench_run_{next(_RUN_IDS)}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        # the sink wraps df in a new plan: make it the way df's own
        # plan was made, so the run times what a collect runs
        with as_planned(df):
            df.write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
    finally:
        sc.setJobGroup(None, None)
    return sec, len(sc.statusTracker().getJobIdsForGroup(group)), df


def warm_pass(spark, entries: dict, sf_dir) -> tuple[dict, dict]:
    """One run per entry, outside the estimator: covers JVM/codegen
    warm-up, parquet footers and Python worker start-up.  Returns
    (cold seconds, executed-plan shuffle count) per entry."""
    cold, shuffles = {}, {}
    for name, q in entries.items():
        release_caches(spark)
        cold[name], _, df = time_run(spark, q.fn, sf_dir)
        shuffles[name] = _count_shuffles(df)
    release_caches(spark)
    return cold, shuffles


def timed_passes(spark, entries: dict, sf_dir, runs: int) -> tuple[dict, dict]:
    """``runs`` passes, each visiting every entry once, with the
    operator persists released before each run so every run pays its
    own persist build.  An entry's samples therefore span the whole
    sweep, and a CPU-steal burst inflates at most one of them.
    Returns (wall-second samples, last run's job count) per entry."""
    samples: dict[str, list] = {name: [] for name in entries}
    jobs: dict[str, int] = {}
    for _ in range(runs):
        for name, q in entries.items():
            release_caches(spark)
            sec, jobs[name], _ = time_run(spark, q.fn, sf_dir)
            samples[name].append(sec)
    release_caches(spark)
    return samples, jobs


def _calibrate(spark) -> float:
    """Data-free machine-calibration scalar: wall seconds for a
    whole-stage-codegen sum over range(10⁹) — no I/O, no shuffle, no
    Python workers, so it moves only with the box (CPU + scheduling
    latency), never with this repo's code. Recorded in every bench
    artifact so cross-round comparisons can be drift-normalized
    mechanically (the r7→r8 1.24× uniform regression took a manual
    worktree A/B to attribute to the box; see SCALE.md "environment
    drift"). Min of 3: same noise-robust estimator as the queries."""
    def once() -> float:
        t0 = time.perf_counter()
        spark.range(1_000_000_000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    once()  # warm the codegen path
    return round(min(once() for _ in range(3)), 3)


def _calibrate_shuffle(spark) -> float:
    """Second machine scalar (r11 verdict Next #2): the CPU-only
    codegen probe provably cannot see scheduler/shuffle drift — in
    r11 it normalized a raw wash into a 2× "regression" while
    untouched shuffle-bound TPC-H queries swung ±40% both directions.
    This probe is the complementary shape: a small repartition +
    aggregation whose wall time is dominated by task scheduling and
    exchange write/read, not codegen arithmetic (2M longs through a
    96-partition hash exchange ≈ a few ms of CPU, the rest is the
    scheduler).  tools/compare_bench.py normalizes each query by the
    probe matching its plan class (shuffle count recorded per entry
    in BENCH_DETAIL.json).  Min of 3, same estimator as everything
    else on this steal-prone box."""
    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(2_000_000)
            .selectExpr("id % 9973 AS k", "id AS v")
            .repartition(96, "k")
            .groupBy("k")
            .agg({"v": "sum"})
            .collect()
        )
        return time.perf_counter() - t0

    once()  # warm the exchange/codegen paths
    return round(min(once() for _ in range(3)), 3)


def _gen_explain_module():
    """tools/gen_explain.py loaded by path (lazy, cached) — bench and
    EXPLAIN.md must count plan nodes with the SAME walk (ADVICE r15:
    two hand-synchronized copies of the IdentityHashMap/AQE descent
    can drift on a Spark-version fix and silently re-corrupt the
    per-entry plan_shuffles record; a test pinned their agreement but
    sharing the code removes the failure mode)."""
    global _GEN_EXPLAIN
    if _GEN_EXPLAIN is None:
        import importlib.util

        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "tools", "gen_explain.py")
        spec = importlib.util.spec_from_file_location("_bench_gen_explain", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _GEN_EXPLAIN = mod
    return _GEN_EXPLAIN


_GEN_EXPLAIN = None


def _count_shuffles(df) -> int:
    """Distinct ShuffleExchangeExec operators in the executed plan,
    each counted ONCE by JVM object identity — literally the walk
    tools/gen_explain.py uses (executed_nodes, imported, not copied).
    The pre-r15 implementation regex-counted Exchange lines in the
    plan *string*, where every union/crossJoin branch over a persisted
    relation re-prints the cached subtree: graph_triangle_stats
    recorded 2037 "shuffles" against the true 8 (r14 verdict Missing
    #2), corrupting the per-entry record.  Broadcast exchanges and
    Reused* wrappers are excluded by construction (different node
    classes), which preserves the ADVICE-r12 fix.  Cached relations'
    internal exchanges DO count (once per relation): the query pays
    them on first materialization and they define its plan class.
    Falls back to the old string count only if the JVM walk fails."""
    try:
        nodes = _gen_explain_module().executed_nodes(
            df._jdf.queryExecution().executedPlan(), df.sparkSession._jvm
        )
        return sum(1 for name, _ in nodes if name == "ShuffleExchangeExec")
    except Exception:
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception:
            return 0
        return len(_SHUFFLE_EXCHANGE_RE.findall(plan))


# A shuffle exchange's operator name is exactly "Exchange", printed at
# the start of its tree line right after the drawing glyphs
# (":- ", "+- ", "*(n) ").  Anchoring there excludes BroadcastExchange
# (different operator name) AND ReusedExchange lines — whose
# simpleString embeds the reused child after a comma ("ReusedExchange
# [k#1], Exchange hashpartitioning(...)"), which a bare substring count
# picked up (ADVICE r12).
_SHUFFLE_EXCHANGE_RE = re.compile(
    r"^[\s:+*()\d-]*Exchange (hashpartitioning|rangepartitioning|"
    r"SinglePartition|RoundRobinPartitioning)",
    re.MULTILINE,
)


# Per-query tail map (r18 verdict Next #2).  The driver's PERF
# comparator records only a bounded (~2000-char) TAIL of stdout, so the
# full-name per-query map on line 1 is invisible to it and its
# round-over-round per-query comparison ran empty (PERF_r18.json:
# per_query {}, n_common 0).  Canonical names don't fit — 69 entries at
# 2-decimal precision is ~2.1 KB before the ~0.5 KB final summary — so
# the map is emitted on its own line, immediately before the final
# summary, under a FIXED reversible abbreviation: an ordered
# family-prefix table (tpch_q → "T", corpus_ → "C.", …), then each
# remaining underscore-token truncated to its first 4 characters.  The
# function is data-independent (same name → same key in every round),
# so cross-round key matching needs no name list; expansion back to
# canonical names resolves against the committed detail's query_set
# (expand_query_names).  Injectivity over the whole catalog is pinned
# by tests/test_tools.py; at runtime a collision falls back to the
# colliding entries' full names rather than merging them.
_ABBREV_PREFIXES = (
    ("similarity_topk_", "S."),
    ("search_hybrid_rrf", "R"),
    ("multimodal_", "M."),
    ("streaming_", "Y."),
    ("corpus_", "C."),
    ("dedup_", "D."),
    ("graph_", "G."),
    ("tpch_q", "T"),
    ("text_", "X."),
    ("events_", "E."),
    ("stats_", "A."),
    ("join_", "J."),
    ("window_", "W."),
    ("federation_", "F."),
    ("embedding_", "B."),
    ("eval_", "V."),
    ("fn_", "N."),
    ("agg_", "Q."),
    ("filter_", "I."),
    ("sample_", "P."),
    ("layout_", "L."),
    ("skew_", "Z."),
    ("udf_", "U."),
    ("curate_", "K."),
    ("recursive_", "H."),
    ("pack_", "O."),
)


def abbrev_query_name(name: str) -> str:
    """Deterministic short key for the tail-line per-query map: family
    prefix code + first-4-chars of each remaining underscore-token."""
    code, rest = "", name
    for pre, short in _ABBREV_PREFIXES:
        if name.startswith(pre):
            code, rest = short, name[len(pre):]
            break
    return code + "".join(t[:4] for t in rest.split("_"))


def expand_query_names(keys, names) -> dict[str, str]:
    """abbreviated-key → canonical-name map for the given catalog
    ``names`` (e.g. a committed detail's query_set)."""
    rev = {abbrev_query_name(n): n for n in names}
    return {k: rev[k] for k in keys if k in rev}


def perquery_line(out: dict) -> str:
    """The second-to-last stdout line: the whole per-query map at
    2-decimal precision under abbreviated keys — small enough that it
    and the final summary line BOTH fit the driver's tail capture."""
    per_query = out.get("queries", {})
    keyed: dict[str, float] = {}
    collided = set()
    for name in per_query:
        k = abbrev_query_name(name)
        if k in keyed:
            collided.add(k)
        keyed[k] = per_query[name]
    if collided:
        # never merge two entries under one key: colliding entries keep
        # their full names (still parsable, a few chars longer)
        keyed = {}
        for name in per_query:
            k = abbrev_query_name(name)
            keyed[name if k in collided else k] = per_query[name]
    return json.dumps(
        {"q2dp": {k: round(v, 2) for k, v in sorted(keyed.items())}},
        separators=(",", ":"),
    )


def summary_line(out: dict) -> str:
    """The compact FINAL-stdout-line JSON: ``out`` minus the bulky
    per-query map, plus a pointer at where the map lives.  Split out
    of main() so tests can pin the contract (parses standalone, keeps
    both calibration scalars, stays well under the driver's
    tail-capture budget no matter how large the catalog grows)."""
    compact = {k: v for k, v in out.items() if k not in ("queries", "excluded")}
    # the exclusion LIST can be arbitrarily long (auxiliary scale
    # sweeps exclude most of the set) — the summary carries the count,
    # the full line and the detail file carry the names
    compact["n_excluded"] = len(out.get("excluded", []))
    compact["queries_detail"] = os.path.basename(DETAIL_PATH)
    return json.dumps(compact, separators=(",", ":"))


def main() -> None:
    # Stage-progress bars write \r-spam to stderr/stdout that crowded the
    # driver's tail capture in r4/r5 — keep the bench process silent.
    spark = get_spark(app_name="exosql_spark_bench")
    all_bench = {n: q for n, q in all_queries().items() if q.bench}
    unknown = [n for n in EXCLUDE if n not in all_bench]
    if unknown:
        # a typo'd exclusion would otherwise RUN the query while the
        # output JSON claims it was excluded — fail loudly instead
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_EXCLUDE names not in the bench set: {unknown}"
        )
    bench = {n: q for n, q in all_bench.items() if n not in EXCLUDE}

    cold_sec, plan_shuffles = warm_pass(spark, bench, SF_DIR)
    # The calibration pair brackets only the timed passes: taken
    # before the warm pass, the start probes read JIT warm-up as box
    # drift (1.7–5× slower than the end probes on every r16–r19 sweep).
    # tools/compare_bench.py warns when the two ends diverge.
    calibration = _calibrate(spark)
    calibration_shuffle = _calibrate_shuffle(spark)
    samples, jobs = timed_passes(spark, bench, SF_DIR, RUNS)
    calibration_end = _calibrate(spark)
    calibration_shuffle_end = _calibrate_shuffle(spark)

    per_query = {n: round(min(t), 3) for n, t in samples.items()}
    medians = {n: round(statistics.median(t), 3) for n, t in samples.items()}
    # stdev needs ≥2 samples; RUNS=1 smoke sweeps get 0.0
    spread = {
        n: round(statistics.stdev(t), 3) if len(t) > 1 else 0.0
        for n, t in samples.items()
    }
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    estimator = f"interleaved_min_of_{RUNS}"
    query_set = sorted(per_query)
    set_sha1 = hashlib.sha1("\n".join(query_set).encode()).hexdigest()[:12]
    detail = {
        "calibration_sec": calibration,
        "calibration_shuffle_sec": calibration_shuffle,
        "calibration_sec_end": calibration_end,
        "calibration_shuffle_sec_end": calibration_shuffle_end,
        "plan_shuffles": plan_shuffles,
        "cold_sec": {n: round(t, 3) for n, t in cold_sec.items()},
        "jobs": jobs,
        "estimator": estimator,
        "excluded": sorted(EXCLUDE),
        "n_queries": len(per_query),
        "query_set": query_set,
        "query_set_sha1": set_sha1,
        "min": per_query,
        "median": medians,
        "stddev": spread,
        "median_total": round(sum(medians.values()), 3),
        "sf": sf_val,
    }
    with open(DETAIL_PATH, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")

    out = {
        "metric": "headline_queries_total_wall",
        "excluded": sorted(EXCLUDE),
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "calibration_sec": calibration,
        "calibration_shuffle_sec": calibration_shuffle,
        "calibration_sec_end": calibration_end,
        "calibration_shuffle_sec_end": calibration_shuffle_end,
        "estimator": estimator,
        "n_queries": len(per_query),
        "query_set_sha1": set_sha1,
        "queries": per_query,
        "sf": sf_val,
    }
    spark.stop()
    # Both lines print after spark.stop() so no executor/JVM shutdown
    # chatter can land beneath them: the full record (with the
    # per-query map) first, then the compact summary as the FINAL
    # line — the only one the driver's bounded tail capture is
    # guaranteed to hold intact.
    sys.stdout.flush()
    print(json.dumps(out, separators=(",", ":")))
    # second-to-last line: the whole per-query map, abbreviated to fit
    # the driver's tail capture alongside the final summary (r18
    # verdict Next #2) — the FINAL compact line is unchanged.
    print(perquery_line(out))
    print(summary_line(out))
    sys.stdout.flush()


if __name__ == "__main__":
    sys.exit(main())
