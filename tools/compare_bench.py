#!/usr/bin/env python
"""Drift-normalized round-over-round bench comparison.

    python tools/compare_bench.py BENCH_r08.json BENCH_r09.json

This box is a VM with persistent scheduling-latency drift (SCALE.md
"environment drift"): raw cross-round totals moved 1.24× between
rounds 7 and 8 with zero code change, proven by a worktree A/B. Every
bench run since round 9 therefore records ``calibration_sec`` — a
data-free whole-stage-codegen scalar (sum over range(10⁹), min of 3)
measured in the same session as the sweep — and since round 12 ALSO
``calibration_shuffle_sec``, a small repartition+agg probe whose wall
time is scheduler/exchange-dominated.  Two probes because the r11
comparison proved one is not enough: the CPU scalar said the box ran
0.81× while untouched shuffle-bound TPC-H queries swung ±40% BOTH
directions, and a worktree A/B showed the two queries it flagged at
~2× "normalized" were byte-identical washes (SCALE.md round-12 note).

    norm_cpu(q) = (new_sec(q)/old_sec(q)) / (cal_cpu_new/cal_cpu_old)
    norm_shf(q) = (new_sec(q)/old_sec(q)) / (cal_shf_new/cal_shf_old)

Both normalizations are always printed.  When per-query plan shuffle
counts are available (``plan_shuffles`` in the new round's
BENCH_DETAIL.json, recorded by bench.py at warmup), a ``sel`` column
picks the probe matching the query's plan class — CPU probe for
0-shuffle pure-scan/codegen shapes, shuffle probe for ≥3-exchange
shapes, and the geometric mean of the two for 1–2-exchange blends
(sub-second catalog entries with one or two exchanges spend
comparable wall time in codegen and in the scheduler, so neither
probe alone predicts them).

FLAGGING uses neither column alone (r14 verdict Missing #1 / What's
wrong #1): the r14 boundary had the two probes diverge 2.24× vs
1.44×, and because every entry carried ≥1 exchange the old ``sel``
rule normalized the whole set by the shuffle probe, manufacturing 12
flags on untouched code that the CPU probe called a wash (max 1.12×).
A query is only counted as a regression when it is slow under BOTH
probe hypotheses — ``nmin = min(ncpu, nshf) > 1.25`` — and only
counted as faster when fast under both (``max < 0.8``).  Real code
regressions exceed both bars (they add work of SOME kind); probe
divergence by construction cannot.  The table sorts by nmin so the
flag list tops it.

Caveats it enforces rather than assumes:
- totals are only compared when ``query_set_sha1`` matches (otherwise
  per-query over the set intersection);
- a missing calibration scalar falls back to 1.0 with a loud note —
  that normalization column is then RAW;
- a missing plan_shuffles map degrades the "sel" column to norm_shf
  (most catalog entries shuffle) with a note.
"""

from __future__ import annotations

import json
import os
import re
import sys


def _detail_for(path: str) -> dict | None:
    """The committed per-round detail matching a driver artifact:
    BENCH_r12.json → BENCH_DETAIL_r12.json (same dir, then repo root).
    tools/gen_freshness.py snapshots BENCH_DETAIL.json under that name
    at each round start, so every round from 12 on has a durable
    per-query record independent of the driver's tail capture."""
    m = re.search(r"BENCH_r(\d+)\.json$", os.path.basename(path))
    if not m:
        return None
    fname = f"BENCH_DETAIL_r{int(m.group(1)):02d}.json"
    for cand in (
        os.path.join(os.path.dirname(os.path.abspath(path)), fname),
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), fname
        ),
    ):
        # a truncated / mid-write snapshot must degrade to "no detail"
        # (the caller falls back or reports no provenance), not crash
        # the whole comparison (ADVICE r17)
        try:
            with open(cand) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
    return None


def _from_detail(detail: dict) -> dict:
    """Reconstruct the headline-shaped record from a BENCH_DETAIL
    snapshot (its 'min' map IS the headline's 'queries' map)."""
    return {
        "metric": "headline_queries_total_wall",
        "value": round(sum(detail["min"].values()), 3),
        "queries": detail["min"],
        "calibration_sec": detail.get("calibration_sec"),
        "calibration_shuffle_sec": detail.get("calibration_shuffle_sec"),
        "calibration_sec_end": detail.get("calibration_sec_end"),
        "calibration_shuffle_sec_end": detail.get("calibration_shuffle_sec_end"),
        "n_queries": detail.get("n_queries"),
        "query_set_sha1": detail.get("query_set_sha1"),
        "sf": detail.get("sf"),
    }


def _load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    # driver artifacts wrap the bench line under "parsed" — which can
    # be null (tail-capture overflow: BENCH_r05.json, BENCH_r12.json)
    if isinstance(d, dict) and d.get("parsed") is not None:
        d = d["parsed"]
    elif isinstance(d, dict) and "parsed" in d:
        detail = _detail_for(path)
        if detail is None:
            sys.exit(
                f"{path}: 'parsed' is null (tail overflow) and no "
                f"BENCH_DETAIL_r*.json snapshot found - no bench data"
            )
        print(f"note: {path} parsed=null - using committed detail snapshot")
        return _from_detail(detail)
    if "queries" not in d:
        # round-13-on compact final line: the per-query map lives in
        # the committed detail.  Candidates: the per-round snapshot,
        # then the LIVE BENCH_DETAIL.json (the same-round case — the
        # snapshot is only taken at the NEXT round's start); the
        # query_set_sha1 must agree before a merge, which makes the
        # live-file fallback safe (a later local sweep with a changed
        # set can't masquerade as this round's map).
        candidates = [_detail_for(path)]
        for cand in (
            os.path.join(
                os.path.dirname(os.path.abspath(path)), "BENCH_DETAIL.json"
            ),
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "BENCH_DETAIL.json",
            ),
        ):
            if os.path.exists(cand):
                with open(cand) as f:
                    candidates.append(json.load(f))
        match = next(
            (
                c
                for c in candidates
                if c and c.get("query_set_sha1") == d.get("query_set_sha1")
            ),
            None,
        )
        if match is None:
            sys.exit(
                f"{path}: compact summary (query_set_sha1 "
                f"{d.get('query_set_sha1')}) but no detail file with a "
                f"matching set to merge the per-query map from"
            )
        d = dict(d)
        d["queries"] = match["min"]
    return d


def _ratio(old: dict, new: dict, key: str) -> tuple[float, bool]:
    a, b = old.get(key), new.get(key)
    if a is not None and b is not None and a > 0 and b > 0:
        return b / a, True
    return 1.0, False


def _plan_shuffles(new_path: str) -> dict[str, int]:
    """plan_shuffles from the round's committed detail — the headline
    line deliberately omits it (driver tail-capture budget).  Prefers
    the per-round snapshot matching the NEW artifact, then the live
    BENCH_DETAIL.json next to the artifact, then at the repo root."""
    detail = _detail_for(new_path)
    if detail is not None and isinstance(detail.get("plan_shuffles"), dict):
        return detail["plan_shuffles"]
    for cand in (
        os.path.join(os.path.dirname(os.path.abspath(new_path)), "BENCH_DETAIL.json"),
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_DETAIL.json",
        ),
    ):
        if os.path.exists(cand):
            with open(cand) as f:
                d = json.load(f)
            if isinstance(d.get("plan_shuffles"), dict):
                return d["plan_shuffles"]
    return {}


def main() -> None:
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    old, new = _load(sys.argv[1]), _load(sys.argv[2])
    cpu_ratio, cpu_ok = _ratio(old, new, "calibration_sec")
    shf_ratio, shf_ok = _ratio(old, new, "calibration_shuffle_sec")
    print(
        f"calibration cpu {old.get('calibration_sec')} -> "
        f"{new.get('calibration_sec')} (ratio {cpu_ratio:.2f})"
        + ("" if cpu_ok else "  [MISSING -> norm_cpu is RAW]")
    )
    print(
        f"calibration shuffle {old.get('calibration_shuffle_sec')} -> "
        f"{new.get('calibration_shuffle_sec')} (ratio {shf_ratio:.2f})"
        + ("" if shf_ok else "  [MISSING -> norm_shf is RAW]")
    )
    # Intra-sweep drift check (r16): bench records a start AND end
    # calibration pair; a >25% divergence between them means the box
    # moved DURING the sweep, so one calibration scalar cannot
    # normalize all entries — the r16 storm had 53/69 entries ~1.4×
    # slower while the start-of-sweep calibrations read faster.
    # Symmetric band (ADVICE r16): the earlier [0.8, 1.25] check let a
    # 21% slowdown (ratio 0.79) trip the ">25%" warning — use
    # max(r, 1/r) > 1.25 so both directions get the same threshold.
    for side, rec in (("old", old), ("new", new)):
        for base in ("calibration_sec", "calibration_shuffle_sec"):
            start, end = rec.get(base), rec.get(base + "_end")
            if start and end and max(end / start, start / end) > 1.25:
                print(
                    f"WARNING: {side} sweep's {base} moved "
                    f"{start} -> {end} during the run (ratio "
                    f"{end / start:.2f}) - intra-sweep steal storm; "
                    f"treat {side}-side normalizations as suspect"
                )
    shuffles = _plan_shuffles(sys.argv[2])
    if not shuffles:
        print("no plan_shuffles map found - 'sel' column defaults to norm_shf")

    qo, qn = old.get("queries", {}), new.get("queries", {})
    shared = sorted(set(qo) & set(qn))
    rows, skipped = [], []
    for name in shared:
        # explicit None/zero test: per_query values are round(min, 3),
        # so a sub-millisecond query legitimately records 0.0 — a
        # truthiness test would silently drop it from the comparison
        if qo[name] is None or qn[name] is None:
            skipped.append(name)
        elif qo[name] == 0:
            # old time 0.0 → ratio undefined; report, don't hide
            skipped.append(f"{name} (old 0.0 -> new {qn[name]})")
        else:
            raw = qn[name] / qo[name]
            ncpu, nshf = raw / cpu_ratio, raw / shf_ratio
            n_shuf = shuffles.get(name, 3)
            if n_shuf == 0:
                cls, sel = "cpu", ncpu
            elif n_shuf >= 3:
                cls, sel = "shf", nshf
            else:
                cls, sel = "mix", (ncpu * nshf) ** 0.5
            rows.append(
                (name, qo[name], qn[name], raw, ncpu, nshf, cls, sel,
                 min(ncpu, nshf), max(ncpu, nshf))
            )
    rows.sort(key=lambda r: -r[8])

    same_set = old.get("query_set_sha1") == new.get("query_set_sha1")
    if same_set and old.get("value") and new.get("value"):
        raw_total = new["value"] / old["value"]
        print(
            f"total {old['value']} -> {new['value']} s: raw {raw_total:.2f}x, "
            f"cpu-normalized {raw_total / cpu_ratio:.2f}x, "
            f"shuffle-normalized {raw_total / shf_ratio:.2f}x "
            f"(query_set_sha1 {new.get('query_set_sha1')} matches)"
        )
    else:
        print(
            "query sets differ - totals not comparable; "
            f"per-query over the {len(rows)}-entry intersection:"
        )
    print(
        f"{'query':42s} {'old_s':>8s} {'new_s':>8s} {'raw':>6s} "
        f"{'ncpu':>6s} {'nshf':>6s} {'cls':>4s} {'sel':>6s} {'nmin':>6s}"
    )
    for name, o, n, raw, ncpu, nshf, cls, sel, nmin, _nmax in rows:
        print(
            f"{name:42s} {o:8.3f} {n:8.3f} {raw:6.2f} "
            f"{ncpu:6.2f} {nshf:6.2f} {cls:>4s} {sel:6.2f} {nmin:6.2f}"
        )
    worse = [r for r in rows if r[8] > 1.25]
    better = [r for r in rows if r[9] < 0.8]
    print(
        f"\nsummary: {len(rows)} shared queries; "
        f"{len(worse)} slower >1.25x under BOTH normalizations, "
        f"{len(better)} faster <0.8x under both"
    )
    if worse:
        print("flags: " + ", ".join(f"{r[0]} ({r[8]:.2f})" for r in worse))
    if skipped:
        print(f"skipped (no ratio possible): {', '.join(skipped)}")


if __name__ == "__main__":
    main()
