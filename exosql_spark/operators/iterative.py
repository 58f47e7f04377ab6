"""Scheduling scope for fixed-shape iteration loops (r19).

Several operators run a bounded driver loop of structurally identical
Spark jobs (the graph power iterations, BPE's merge loop).  Two
session-level defaults are wrong for that shape, measured on the
PageRank loop (63 jobs / 121 stages for 10 iterations at sf0.1):

- AQE re-plans and stage-materializes every tiny fixed-shape iteration
  as separate jobs — pure scheduler overhead when the plan shape never
  changes and there is nothing for AQE to adapt (the loops' persisted
  sides are cache-partitioned, so skew splitting cannot reach them;
  the keyed exchanges are unique-key);
- the session's shuffle-partition ceiling schedules a full task wave
  per exchange per iteration even when the loop's frames fit a handful
  of tasks.

:func:`loop_partitions` derives the loop's partition count from the
MEASURED per-iteration row bound (guide §2: scale-adaptive
partitioning, derived from input size, never a constant tuned for
local mode or the cluster), clamped to the session ceiling;
:func:`loop_conf` scopes AQE-off + that count around the loop and
always restores the caller's confs.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

#: Target rows per shuffle partition inside iteration loops.  The
#: frames those loops exchange are narrow (a few 8-byte columns) and
#: the per-row work is a hash-join probe + sum — compute-light, so
#: partitions sized well under the guide §2.2 shuffle ceiling (1M rows
#: ≈ 25–30 MB) keep mid-size inputs parallel on wide clusters without
#: making tasks small in absolute terms.  Overridable per deployment.
LOOP_ROWS_PER_TASK = int(
    os.environ.get("SPARK_GRAFT_GRAPH_ROWS_PER_TASK", "1000000")
)


def loop_partitions(spark, n_rows: int) -> tuple[int, int]:
    """(derived loop partition count, session default)."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    derived = -(-max(int(n_rows), 1) // LOOP_ROWS_PER_TASK)
    # floor of a few tasks keeps adjacent tiny stages overlapping in
    # local runs; at scale ``derived`` dominates and the floor is moot
    p = max(1, min(4, default), min(default, derived))
    return p, default


@contextmanager
def loop_conf(spark, partitions: int):
    """AQE-off + pinned shuffle partitions for the scope's duration;
    always restores the caller's confs (exception path included).
    The overrides go on the shared session conf, so run one query per
    session at a time: a query planned concurrently on the same session
    inherits them."""
    conf = spark.conf
    saved_aqe = conf.get("spark.sql.adaptive.enabled")
    saved_p = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", saved_aqe)
        conf.set("spark.sql.shuffle.partitions", saved_p)
