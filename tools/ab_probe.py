#!/usr/bin/env python
"""A/B probe: time the named catalog entries exactly as bench.py does
(one warm pass, then interleaved timed passes through
``bench.time_run``) and print ONE JSON line
``{name: {"min": s, "median": s, "jobs": n}}``.

bench.py is loaded by path from this file's own checkout, while
``exosql_spark`` comes from PYTHONPATH — so an older commit's catalog
is timed with today's harness, in the session that commit's
``get_spark`` builds (commits whose factory does not size the codegen
cache recompile evicted classes between passes).  Process-level interleaving is the only
honest A/B on a VM with CPU-steal drift: two code versions can't share
a SparkSession, so run the two sides ALTERNATELY several times and
take the min over iterations per side.

Usage: PYTHONPATH=/path/to/repo python tools/ab_probe.py q1 q2 ...
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_RUNS (as for bench.py).
"""
import importlib.util
import json
import os
import statistics
import sys

from exosql_spark.catalog import all_queries
from exosql_spark.session import get_spark


def _bench():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
    )
    spec = importlib.util.spec_from_file_location("_probe_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main(names):
    bench = _bench()
    spark = get_spark(app_name="ab_probe")
    qs = all_queries()
    entries = {name: qs[name] for name in names}
    bench.warm_pass(spark, entries, bench.SF_DIR)
    samples, jobs = bench.timed_passes(spark, entries, bench.SF_DIR, bench.RUNS)
    spark.stop()
    out = {
        name: {
            "min": round(min(t), 3),
            "median": round(statistics.median(t), 3),
            "jobs": jobs[name],
        }
        for name, t in samples.items()
    }
    sys.stdout.flush()
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main(sys.argv[1:])
