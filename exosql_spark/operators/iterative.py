"""One scope for every fixed-shape driver loop.

Several operators run a bounded driver loop of structurally identical
Spark jobs: the graph power iterations (pagerank, trustrank, hits,
kcore), both connected-components functions and BPE's merge loop.
Two session-level defaults are wrong for that shape, measured on the
PageRank loop (63 jobs / 121 stages for 10 iterations at sf0.1):

- AQE re-plans and stage-materializes every tiny fixed-shape iteration
  as separate jobs — pure scheduler overhead when the plan shape never
  changes and there is nothing for AQE to adapt (the loops' persisted
  sides are cache-partitioned, so skew splitting cannot reach them;
  the keyed exchanges are unique-key);
- the session's shuffle-partition ceiling schedules a full task wave
  per exchange per iteration even when the loop's frames fit a handful
  of tasks.

:func:`loop_scope` owns every decision those loops share, so each
operator states only its row bound and the persisted frames it
iterates over:

1. the loop's partition count, derived from the MEASURED
   per-iteration row bound (guide §2: scale-adaptive partitioning,
   derived from input size, never a constant tuned for local mode or
   the cluster), clamped to the session ceiling;
2. AQE-off + that count for the scope's duration (:func:`loop_conf`,
   built on :func:`exosql_spark.session.scoped_conf` — the one
   save/set/restore of session confs, which ``Context`` also uses to
   plan queries over small inputs the same way — so the caller's
   confs are always restored);
3. a one-time re-layout of each keyed persisted frame onto that count
   when it is far below the ceiling;
4. the release of those frames on exit, exception path included.

Frames the loop hands back to its caller are not the scope's: they
are localCheckpoint-ed results or frames registered through
``cache.managed_persist``.
"""

from __future__ import annotations

from contextlib import contextmanager

from exosql_spark.session import scoped_conf

#: Target rows per shuffle partition inside iteration loops.  The
#: frames those loops exchange are narrow (a few 8-byte columns) and
#: the per-row work is a hash-join probe + sum — compute-light, so
#: partitions sized well under the guide §2.2 shuffle ceiling (1M rows
#: ≈ 25–30 MB) keep mid-size inputs parallel on wide clusters without
#: making tasks small in absolute terms.
LOOP_ROWS_PER_TASK = 1_000_000


@contextmanager
def loop_conf(spark, partitions: int):
    """AQE-off + pinned shuffle partitions for the scope's duration,
    through :func:`exosql_spark.session.scoped_conf` (which always
    restores the caller's confs, exception path included, and whose
    one-query-per-session rule applies here)."""
    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(partitions),
        },
    ):
        yield


@contextmanager
def loop_scope(spark, n_rows: int, *keyed):
    """Run a driver loop whose frames hold at most ``n_rows`` rows.

    ``keyed`` holds ``(persisted frame, key column)`` pairs the loop
    re-reads every iteration.  Yields those frames as the loop should
    use them — re-laid-out by key onto the loop's partition count when
    that count is at most half the session ceiling (a bounded job over
    an already-small cached frame; big inputs keep their layout) — and
    unpersists them on exit, including when the body raises."""
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    derived = -(-max(int(n_rows), 1) // LOOP_ROWS_PER_TASK)
    # floor of a few tasks keeps adjacent tiny stages overlapping in
    # local runs; at scale ``derived`` dominates and the floor is moot
    p = max(1, min(4, ceiling), min(ceiling, derived))
    originals = [df for df, _ in keyed]
    frames = list(originals)
    try:
        with loop_conf(spark, p):
            if 2 * p <= ceiling:
                for i, (df, key) in enumerate(keyed):
                    frames[i] = df.repartition(p, key).persist()
                    frames[i].count()  # materialize from df's cache first
                    df.unpersist()
            yield tuple(frames)
    finally:
        for df in frames + originals:
            df.unpersist()
