"""Regenerates the project's fixed test tables (TESTDATA.md) from their seed.

The ten parquet tables the registered queries read are deterministic
synthetic data made with seed 42: a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``. ``make_tables(sf)`` replays the same
sequence of ``numpy`` draws, so with ``FIXTURE_SEED`` it writes tables
equal, value for value and type for type, to the fixture tables at scale
0.001, 0.01 and 0.1 (``python3 perfbench/tables.py --check <fixture dir>``
compares them). The benchmark cannot read the fixture directory, which lies
outside its checkout, so it regenerates the tables instead.

What the tables hold, as measured on the fixture at scale 0.1:

- row counts: lineitem 600,000 (4 per order, order keys uniform, so 98%
  of orders have lines), orders 150,000, events 100,000, customer 15,000,
  part 20,000, documents 5,000, embeddings 2,000, supplier 1,000;
- timestamps are ``timestamp[us]`` without time zone, dates included;
- ``l_discount`` is a uniform draw on [0, 0.10] rounded to cents, so 0.00
  and 0.10 have half the weight of the other values; ``l_tax`` likewise on
  [0, 0.08];
- ``events.ts`` is 100,000 sorted uniform instants over 30 days from
  2024-01-01; 1,500 users;
- ``documents.text`` is 10 to 99 words drawn uniformly from a 30-word
  vocabulary; 5% of documents (``n // 20``) are another document's text
  plus `` dup``; ``lang`` is ``en`` for 3 in 7 documents and ``de``,
  ``fr``, ``es``, ``zh`` for 1 in 7 each;
- ``embeddings`` are 64-dimensional Gaussian vectors scaled to unit length,
  stored as float32, with labels 0..9 independent of the vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The seed the fixture tables were made with (TESTDATA.md).
FIXTURE_SEED = 42

# Category lists in the order the fixture's draws index them.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "the a spark query table join group filter window data order customer part line fast "
    "slow big small hash sort merge scan agg stream batch vector key value row column"
).split()
EMBED_DIM = 64

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def make_tables(sf: float, seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = pa.int32()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": _money(rng, 0.0, 0.10, n_line),
            "l_tax": _money(rng, 0.0, 0.08, n_line),
            "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
            "l_linestatus": _pick(rng, LINE_STATUS, n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    # instants drawn in seconds, taken to ns, stored as µs
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ts_ns = np.datetime64("2024-01-01", "ns") + (secs * 1e9).astype(np.int64).astype("timedelta64[ns]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts_ns.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(15, n_ev * 3 // 200), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    n_dup = n_doc // 20
    for i, src in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[i] = texts[src] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int = FIXTURE_SEED) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def check(fixture_dir: str, sf: float) -> list[str]:
    """Tables (and columns) that differ from the fixture tables in
    ``fixture_dir``; empty when every table is equal in type and value."""
    diffs = []
    for name, table in make_tables(sf).items():
        want = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
        if not table.schema.equals(want.schema):
            diffs.append(f"{name}: schema {table.schema} != {want.schema}")
        elif not table.equals(want):
            cols = [c for c in want.column_names if not table.column(c).equals(want.column(c))]
            diffs.append(f"{name}: columns differ {cols}")
    return diffs


if __name__ == "__main__":
    import argparse
    import sys

    ap = argparse.ArgumentParser(description="Compare the regenerated tables with the fixture.")
    ap.add_argument("--check", required=True, metavar="DIR", help="fixture directory, e.g. .../sf0.1")
    ap.add_argument("--sf", type=float, required=True)
    args = ap.parse_args()
    problems = check(args.check, args.sf)
    print("\n".join(problems) or f"all {len(TABLES)} tables equal the fixture at sf {args.sf}")
    sys.exit(1 if problems else 0)
