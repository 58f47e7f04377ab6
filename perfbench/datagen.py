"""Seeded inputs for the benchmark.

Everything a workload reads is generated here from ``--seed``: the
TPC-H-shaped parquet tables (same schema and value domains as the
package's test tables), the small CSV and JSON-lines databases of the
dashboard workload, and the dashboard query stream.  The same seed gives
byte-identical files and the same stream.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
PART_NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()


def _days(rng, n, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten test tables at scale ``sf`` (lineitem ≈ 6M·sf rows)."""
    rng = np.random.default_rng(seed)
    n_s = max(10, int(10_000 * sf))
    n_c = max(150, int(150_000 * sf))
    n_p = max(200, int(200_000 * sf))
    n_o = max(1_500, int(1_500_000 * sf))
    n_l = max(6_000, int(6_000_000 * sf))
    n_e = max(1_000, int(1_000_000 * sf))
    n_d = max(500, int(50_000 * sf))
    n_v = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), i64),
            "s_name": _names("Supplier", n_s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
            "s_acctbal": _money(rng, n_s, -999.99, 9999.99),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), i64),
            "c_name": _names("Customer", n_c),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
            "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), i64),
            "p_name": np.char.add(
                np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_p)], " "),
                np.array(PART_NOUN)[rng.integers(0, 8, n_p)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_p)],
            "p_size": pa.array(rng.integers(1, 51, n_p), i32),
            "p_retailprice": rng.integers(9000, 10000, n_p) / 10.0,
        }),
    }
    # every customer has at least one order (the first n_c orders cover them)
    custkey = np.concatenate([rng.permutation(n_c), rng.integers(0, n_c, n_o - n_c)])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), i64),
        "o_custkey": pa.array(custkey, i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, n_o, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
    })
    qty = rng.integers(1, 51, n_l).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, n_l, 900.0, 2100.0), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, n_l, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_e).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_e), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_e)],
        "value": _money(rng, n_e, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    lens = rng.integers(10, 100, n_d)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_d)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), i64),
        "text": text,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_d)],
        "source": np.char.add("src", rng.integers(0, 20, n_d).astype(str)),
        "n_chars": pa.array([len(t) for t in text], i64),
    })
    label = rng.integers(0, 10, n_v)
    centers = rng.normal(0.0, 0.15, (10, 64))
    emb = (centers[label] + rng.normal(0.0, 0.08, (n_v, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tpch_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- dashboard databases -------------------------------------------------

TIERS = ["bronze", "silver", "gold", "platinum"]
SERVICES = ["api", "web", "worker", "billing", "search", "auth"]


def write_dashboard_dbs(csv_dir: str, jsonl_dir: str, seed: int, n_accounts: int = 400) -> None:
    """A CSV database ``crm`` (accounts, tickets) keyed by customer key and
    a JSON-lines database ``ops`` (deploys) — the non-parquet sources the
    dashboard queries federate with the TPC-H tables."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(csv_dir, exist_ok=True)
    os.makedirs(jsonl_dir, exist_ok=True)
    with open(os.path.join(csv_dir, "accounts.csv"), "w") as fh:
        fh.write("account_id,custkey,tier,seats,mrr\n")
        for i in range(n_accounts):
            fh.write(
                f"{i},{int(rng.integers(0, 150))},{TIERS[int(rng.integers(0, 4))]},"
                f"{int(rng.integers(1, 500))},{int(rng.integers(1000, 900000)) / 100:.2f}\n"
            )
    with open(os.path.join(csv_dir, "tickets.csv"), "w") as fh:
        fh.write("ticket_id,account_id,severity,hours_open\n")
        for i in range(n_accounts * 5):
            fh.write(
                f"{i},{int(rng.integers(0, n_accounts))},{int(rng.integers(1, 5))},"
                f"{int(rng.integers(1, 2000))}\n"
            )
    base = datetime(2024, 1, 1)
    with open(os.path.join(jsonl_dir, "deploys.jsonl"), "w") as fh:
        for i in range(n_accounts * 3):
            ts = base + timedelta(minutes=int(rng.integers(0, 30 * 1440)))
            rec = {
                "deploy_id": i,
                "service": SERVICES[int(rng.integers(0, len(SERVICES)))],
                "day": ts.strftime("%Y-%m-%d"),
                "ok": bool(rng.random() < 0.9),
                "duration_ms": int(rng.integers(100, 600000)),
            }
            fh.write(json.dumps(rec) + "\n")
