"""Benchmark of exosql_spark, end to end and per layer.

    python3 perfbench/run.py --workload dashboard_sql --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One process, one client, closed loop,
on ``local[<cores>]``.  The run generates its inputs from ``--seed``,
sets the session up several times, makes one untimed cold pass over the
workload's distinct operations (checking each result against DuckDB),
then repeats timed passes until ``--seconds`` have elapsed and at least
the workload's number of passes ran, checking every result against the
cold pass's verified hash.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` passes alternate untraced and traced, and it carries
the per-layer metrics of the traced passes plus the tracing overhead.
Traced runs also write their spans and a per-layer summary under
``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Session set-ups per run; ``setup_s`` is their median.
SETUPS = 3
DRIVER_MEM = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the run directory,
    and size the driver for a shared box through the package's knob."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = local


def tree_sha1(paths: list[str]) -> str:
    h = hashlib.sha1()
    for top in paths:
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


class Bench:
    def __init__(self, args):
        import workloads

        self.args = args
        self.workloads = workloads
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = spans.Tracer(enabled=False)
        self.outcomes = spans.Outcomes()
        self.expected: dict[str, str] = {}
        self.op_lat: dict[str, list[float]] = {}
        self.spark = None

    # -- one pass ---------------------------------------------------------

    def run_pass(self, wl, ops, label: str, traced: bool, cold: bool = False):
        """Run ``ops`` back to back; returns (wall seconds, op latencies).
        Results are checked after the pass so checking is never timed."""
        import sparkstats

        tr = self.tracer
        tr.enabled = traced
        sc = self.spark.sparkContext
        lat, done = [], []
        t_pass = time.perf_counter()
        for i, op in enumerate(ops):
            tr.op, tr.failed_layer = f"{label}.{i}", None
            if traced:
                sc.setJobGroup(tr.op, op.name)
            t0 = time.perf_counter()
            try:
                df, token = wl.run(op, tr)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.record(False, tr.failed_layer or "unknown", traced)
                continue
            lat.append(time.perf_counter() - t0)
            self.op_lat.setdefault(op.name, []).append(lat[-1])
            done.append((op, token))
            if traced:
                sparkstats.read_jobs(self.spark, tr.op, tr, self.exec_totals)
                sparkstats.read_phases(df, tr)
        wall = time.perf_counter() - t_pass
        tr.enabled = False
        for op, token in done:
            observed = wl.digest(token)
            if cold:
                try:
                    self.expected[op.name] = wl.expected(self.duck, op, observed)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
            ok = self.expected.get(op.name) == observed
            if not ok:
                print(f"wrong result: {op.name} {observed} != {self.expected.get(op.name)}",
                      file=sys.stderr)
            self.record(ok, wl.result_layer, traced)
        return wall, lat

    def record(self, ok: bool, layer: str, traced: bool) -> None:
        self.outcomes.record(ok, layer)
        if traced and not ok:
            self.failed_traced[layer] = self.failed_traced.get(layer, 0) + 1

    # -- the run ----------------------------------------------------------

    def main(self) -> dict:
        import sparkstats
        from exosql_spark import get_spark

        args = self.args
        wl = self.workloads.WORKLOADS[args.workload](self.work, args.seed)
        wl.make_inputs()
        data_sha1 = tree_sha1(wl.input_files())
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench")
            wl.setup(self.spark)
            setups.append(time.perf_counter() - t0)
            if k < SETUPS - 1:
                self.spark.stop()
        pids = [os.getpid(), sparkstats.jvm_pid(self.spark)]
        if args.trace:
            self.workloads.instrument(self.tracer)
        self.exec_totals: dict[str, float] = {}
        self.failed_traced: dict[str, int] = {}
        self.duck = wl.duck()

        cold_s, _ = self.run_pass(wl, wl.ops, "cold", traced=False, cold=True)
        self.duck.close()

        walls = {False: [], True: []}
        lats: list[float] = []
        steal0 = sparkstats.cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            # traced passes in an untraced/traced/traced/untraced cycle, so
            # warm-up drift cancels out of the tracing overhead
            traced = bool(args.trace) and i % 4 in (1, 2)
            wall, lat = self.run_pass(wl, wl.ops, f"p{i}", traced)
            walls[traced].append(wall)
            if not traced:
                lats.extend(lat)
            i += 1
            # A whole number of passes, never cut by the deadline, so every
            # run of a workload takes the same number of samples.
            if time.perf_counter() >= deadline and i >= (4 if args.trace else wl.passes):
                break
        peak_rss = sparkstats.peak_rss_mb([p for p in pids if p])
        steal1 = sparkstats.cpu_ticks()

        # with no successful operation there is no latency; correct is false
        q = (lambda p: spans.quantile(lats, p) * 1000) if lats else (lambda p: 0.0)
        e2e = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_s": (cold_s, "s"),
            "wall_s": (statistics.median(walls[False]), "s"),
            "query_p50_ms": (q(0.5), "ms"),
            "query_p90_ms": (q(0.9), "ms"),
        }
        info = {
            "workload": args.workload, "seed": args.seed, "why": wl.why,
            "load": "closed loop, 1 client", "cores": os.cpu_count(),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "mem_total_mb": _mem_total_mb(), "spark_version": self.spark.version,
            "data_sha1": data_sha1, "ops_per_pass": len(wl.ops), "passes": i,
            "samples": len(lats), "beyond_p90": spans.tail_count(lats, 0.9) if lats else 0,
            "failed_frac": self.outcomes.failed_frac,
            "written_mb": getattr(wl, "written_bytes", 0) / 2**20,
            "peak_rss_mb": peak_rss,
            "setups_s": setups,
            # CPU time the hypervisor gave to other guests while timing
            "steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "op_ms": {k: round(statistics.median(v[1:] or v) * 1000, 1)
                      for k, v in self.op_lat.items()},
        }
        if not args.trace:
            return self.finish(e2e, info)
        # only traced passes record spans
        layer = self.per_layer(self.tracer.spans, len(walls[True]))
        layer["mem.peak_rss_mb"] = (peak_rss, "MB")
        layer["trace.overhead_s"] = (
            statistics.median(walls[True]) - statistics.median(walls[False]), "s")
        self.write_trace(layer, e2e)
        return self.finish(layer, info)

    def per_layer(self, spans_, n_passes: int) -> dict:
        """Per-layer metrics of the traced passes, per pass."""
        selfs = spans.self_times(spans_)
        by: dict[str, list[float]] = {}
        dur: dict[str, float] = {}
        for s, st in zip(spans_, selfs):
            by.setdefault(s.name, []).append(st)
            dur[s.name] = dur.get(s.name, 0.0) + (s.end - s.start)

        def ancestors(i):
            p = spans_[i].parent
            while p is not None:
                yield spans_[p].name
                p = spans_[p].parent

        jobs = [i for i, s in enumerate(spans_) if s.name == "exec.job"]
        build_jobs = sum(1 for i in jobs if "queries.build" in set(ancestors(i)))
        loop_jobs = sum(1 for i in jobs if "iterative.loop" in set(ancestors(i)))
        per_op: dict[str, list[tuple[float, float]]] = {}
        for i in jobs:
            per_op.setdefault(spans_[i].op, []).append((spans_[i].start, spans_[i].end))
        exec_s = sum(spans.covered(iv, min(a for a, _ in iv), max(b for _, b in iv))
                     for iv in per_op.values())
        tot, cnt = self.exec_totals, self.tracer.counters
        n = max(n_passes, 1)
        ms = lambda name: sum(by.get(name, ())) * 1000 / n  # noqa: E731
        calls = lambda name: len(by.get(name, ())) / n  # noqa: E731
        load_calls = len(by.get("io.load_table", ()))
        mb = 2**20
        m = {
            "context.rewrite_ms": (ms("context.rewrite"), "ms"),
            "context.analyze_ms": (ms("context.analyze"), "ms"),
            "context.to_result_ms": (ms("context.to_result"), "ms"),
            "sources.resolve_calls": (calls("sources.resolve"), "count"),
            "sources.resolve_ms": (ms("sources.resolve"), "ms"),
            "io.load_table_calls": (calls("io.load_table"), "count"),
            "io.load_table_ms": (ms("io.load_table"), "ms"),
            "io.table_memo_hit_ratio": (
                cnt.get("io.load_table_hits", 0) / load_calls if load_calls else 0.0, "ratio"),
            "plan.analysis_ms": (ms("plan.analysis"), "ms"),
            "plan.optimization_ms": (ms("plan.optimization"), "ms"),
            "plan.planning_ms": (ms("plan.planning"), "ms"),
            "queries.build_s": (dur.get("queries.build", 0.0) / n, "s"),
            "queries.build_jobs": (build_jobs / n, "count"),
            "queries.build_job_share": (build_jobs / len(jobs) if jobs else 0.0, "ratio"),
            "iterative.loop_scopes": (calls("iterative.loop"), "count"),
            "iterative.loop_s": (dur.get("iterative.loop", 0.0) / n, "s"),
            "iterative.loop_jobs": (loop_jobs / n, "count"),
            "cache.persists": (cnt.get("cache.persists", 0) / n, "count"),
            "cache.released": (cnt.get("cache.released", 0) / n, "count"),
            "cache.storage_peak_mb": (cnt.get("cache.storage_peak_mb", 0.0), "MB"),
            "exec.s": (exec_s / n, "s"),
            "exec.jobs": (tot.get("jobs", 0) / n, "count"),
            "exec.stages": (tot.get("stages", 0) / n, "count"),
            "exec.tasks": (tot.get("tasks", 0) / n, "count"),
            "exec.task_time_s": (tot.get("task_time_ms", 0) / 1000 / n, "s"),
            "exec.scan_mb": (tot.get("scan_bytes", 0) / mb / n, "MB"),
            "exec.shuffle_write_mb": (tot.get("shuffle_write_bytes", 0) / mb / n, "MB"),
            "exec.spill_mb": (tot.get("spill_bytes", 0) / mb / n, "MB"),
            "exec.peak_mem_mb": (tot.get("peak_mem_bytes", 0) / mb, "MB"),
            "sinks.write_s": (dur.get("sinks.write", 0.0) / n, "s"),
            "sinks.files": (cnt.get("sinks.files", 0) / n, "count"),
            "sinks.bytes_mb": (cnt.get("sinks.bytes", 0) / mb / n, "MB"),
        }
        failed = dict(self.failed_traced)
        failed["exec"] = failed.get("exec", 0) + tot.get("failed", 0)
        for layer in spans.LAYERS:
            if layer != "plan":
                m[f"{layer}.failed"] = (failed.get(layer, 0) / n, "count")
        m["trace.spans"] = (len(spans_) / n, "count")
        return m

    def write_trace(self, layer: dict, e2e: dict) -> None:
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{self.args.workload}-{self.args.seed}")
        self.tracer.dump(stem + "-spans.json")
        with open(stem + "-summary.json", "w") as fh:
            json.dump({
                "self_time_by_span": spans.layer_summary(self.tracer.spans),
                "per_layer": {k: v for k, (v, _) in layer.items()},
                "tracing_overhead_s": layer["trace.overhead_s"][0],
                "untraced_wall_s": e2e["wall_s"][0],
            }, fh, indent=1)

    def finish(self, metrics: dict, info: dict) -> dict:
        shown = dict(metrics)
        shown["failed_frac"] = (info["failed_frac"], "ratio")
        shown["written_mb"] = (info["written_mb"], "MB")
        shown["peak_rss_mb"] = (info["peak_rss_mb"], "MB")
        for name, (value, unit) in shown.items():
            print(f"{name:28s} {value:14.4f} {unit}")
        print("info " + json.dumps(info))
        return {
            "correct": self.outcomes.failed == 0,
            "attempted": self.outcomes.attempted,
            "failed": self.outcomes.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def close(self) -> None:
        """Stop the session and its JVM, wait for it, drop run files."""
        spark = self.spark
        if spark is not None:
            gateway = spark.sparkContext._gateway
            proc = getattr(gateway, "proc", None)
            spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        return int(fh.readline().split()[1]) / 1024


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    bench = None
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        bench = Bench(args)
        isolate(bench.work)
        result = bench.main()
    finally:
        if bench is not None:
            bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
