"""Seeded input generator for the benchmark.

Two kinds of input, both written under one output directory:

* ``tables/<name>.parquet`` -- the read dataset (TPC-H-like star schema plus
  ``events`` and ``documents``) with the schemas and value domains of the
  engine's test data.  It is generated from a FIXED data seed, so the
  output fingerprints recorded in ``fingerprints.json`` hold for every run
  seed; the run seed only permutes query order.
* ``calls/batch_NNN.csv`` plus ``calls/manifest.json`` -- call-center CSV
  batches drawn from the run seed: valid rows, every reject class of the
  call-center fixture spec (null / non-numeric / negative ids, null and
  malformed times, null and unknown status, multi-error rows), mixed-case
  status, a regex-valid but unparseable time, and late-arriving ids (half
  of the valid ids of every batch after the first already exist).  The
  manifest holds the DML statement stream of each batch and the counts the
  benchmark checks the program's outputs against.

Run ``python3 perfbench/gen.py --seed 7 --size tiny --out /some/dir`` to
write the inputs without running anything.
"""

from __future__ import annotations

import argparse
import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# rows per table and per CSV batch for each size
SIZES = {
    "bench": {
        "lineitem": 60_000, "orders": 15_000, "customer": 1_500,
        "supplier": 100, "part": 2_000, "events": 10_000, "users": 150,
        "documents": 500, "batch_rows": 5_000, "batches": 6,
    },
    "tiny": {
        "lineitem": 6_000, "orders": 1_500, "customer": 150,
        "supplier": 10, "part": 200, "events": 1_000, "users": 15,
        "documents": 200, "batch_rows": 2_000, "batches": 3,
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

CALL_HEADER = [
    "call_id", "caller_id", "agent_id",
    "call_start_time", "call_end_time", "call_status",
]
# processing date shared by every batch: Gold's daily summary is then one
# row whose total_calls must equal the Silver row count
PROCESSING_DATE = "2026-08-13"
N_AGENTS = 50
INSERT_ID_BASE = 8_000_000
INVALID_ID_BASE = 5_000_000
DML_PER_VERB = 3


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    us = (days_since_epoch.astype("int64") * 86_400_000_000)
    return pa.array(us, type=pa.timestamp("us"))


def _days(date: str) -> int:
    return int(np.datetime64(date, "D").astype("int64"))


def write_tables(out_dir: str, size: str) -> dict[str, int]:
    """Write the read dataset; returns rows per table."""
    n = SIZES[size]
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    retail = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    no = n["orders"]
    d0, d1 = _days("1995-01-01"), _days("2001-08-01")
    odate = rng.integers(d0, d1 + 1, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl)
    lpart = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    linenumber = np.ones(nl, dtype="int32")
    # line numbers count up within an order
    order_idx = np.argsort(lorder, kind="stable")
    sorted_orders = lorder[order_idx]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_orders)) + 1]
    run_pos = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl]))
    linenumber[order_idx] = (run_pos + 1).astype("int32")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpart] * rng.uniform(0.98, 1.02, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[lorder] + rng.integers(1, 122, nl)),
    })
    ne = n["events"]
    span_us = 30 * 86_400_000_000
    ev_us = np.sort(rng.integers(0, span_us, ne)) + _days("2024-01-01") * 86_400_000_000
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(25.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _hms(sec: int) -> str:
    sec %= 86_400
    return f"{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}"


# one row template per reject class; None = empty CSV field
_REJECTS = [
    lambda i: [None, 2000, 3, "10:00:00", "10:10:00", "COMPLETED"],
    lambda i: ["ABC12", 2000, 3, "10:00:00", "10:10:00", "COMPLETED"],
    lambda i: [i, None, 3, "10:00:00", "10:10:00", "DROPPED"],
    lambda i: [i, 2000, None, "10:00:00", "10:10:00", "FAILED"],
    lambda i: [-5, 2000, 3, "10:00:00", "10:10:00", "COMPLETED"],
    lambda i: [i, 2000, 3, None, "10:10:00", "COMPLETED"],
    lambda i: [i, 2000, 3, "10:00:00", None, "COMPLETED"],
    lambda i: [i, 2000, 3, "9:05:00", "10:10:00", "COMPLETED"],
    lambda i: [i, 2000, 3, "10:00:00", "12:5:00", "COMPLETED"],
    lambda i: [i, 2000, 3, "120500", "13:00:00", "COMPLETED"],
    lambda i: [i, 2000, 3, "10:00:00", "10:10:00", None],
    lambda i: [i, 2000, 3, "10:00:00", "10:10:00", "BUSY"],
    lambda i: [i, 2000, 3, "10:00:00", "10:10:00", "UNKNOWN"],
    lambda i: [None, 2000, 3, "10:00:00", "10:10:00", "BUSY"],
]


def _silver_row(rng: np.random.Generator, call_id: int) -> tuple:
    start = int(rng.integers(0, 86_400))
    status = ("COMPLETED", "DROPPED", "FAILED")[int(rng.choice(3, p=[0.7, 0.2, 0.1]))]
    return (
        call_id, int(rng.integers(1000, 10_000)), int(rng.integers(1, N_AGENTS + 1)),
        _hms(start), _hms(start + int(rng.integers(0, 3601))), status,
    )


def _valid_rows(rng: np.random.Generator, ids: list[int]) -> list[list]:
    k = len(ids)
    caller = rng.integers(1000, 10_000, k)
    agent = rng.integers(1, N_AGENTS + 1, k)
    start = rng.integers(0, 86_400, k)
    end = start + rng.integers(0, 3601, k)
    status = rng.choice(3, k, p=[0.7, 0.2, 0.1])
    names = ("COMPLETED", "DROPPED", "FAILED")
    return [
        [cid, int(c), int(a), _hms(int(s)), _hms(int(e)), names[t]]
        for cid, c, a, s, e, t in zip(ids, caller, agent, start, end, status)
    ]


def _dml_stream(rng: np.random.Generator, silver: dict[int, int], next_insert: int):
    """``DML_PER_VERB`` statements of each DML verb, keys drawn from the
    current Silver ids (MERGE: half matched, half new); applies their
    effect to ``silver`` (call_id -> agent_id)."""
    table = "callcenter_analytics.silver_calls"
    year, month = int(PROCESSING_DATE[:4]), int(PROCESSING_DATE[5:7])
    stmts: list[dict] = []
    ids = np.array(sorted(silver))
    k = DML_PER_VERB
    picked = [int(x) for x in rng.choice(ids, 3 * k, replace=False)]
    upd, dele, merge_hit = picked[:k], picked[k:2 * k], picked[2 * k:]
    for cid in upd:
        status = ("DROPPED", "FAILED")[int(rng.integers(0, 2))]
        stmts.append({"verb": "update", "sql": (
            f"UPDATE {table} SET call_status = '{status}' WHERE call_id = {cid}")})
    for cid in dele:
        stmts.append({"verb": "delete", "sql": f"DELETE FROM {table} WHERE call_id = {cid}"})
        silver.pop(cid)
    for _ in range(k):
        r = _silver_row(rng, next_insert)
        next_insert += 1
        stmts.append({"verb": "insert", "sql": (
            f"INSERT INTO {table} VALUES ({r[0]}, {r[1]}, {r[2]}, '{r[3]}', "
            f"'{r[4]}', '{r[5]}', {year}, {month})")})
        silver[r[0]] = r[2]
    merge_new = list(range(next_insert, next_insert + k // 2))
    next_insert += k // 2
    for cid in merge_hit[: k - k // 2] + merge_new:
        r = _silver_row(rng, cid)
        stmts.append({"verb": "merge", "sql": (
            f"MERGE INTO {table} AS t USING (SELECT {r[0]} AS call_id, "
            f"{r[1]} AS caller_id, {r[2]} AS agent_id, '{r[3]}' AS call_start_time, "
            f"'{r[4]}' AS call_end_time, '{r[5]}' AS call_status, {year} AS year, "
            f"{month} AS month) AS s ON t.call_id = s.call_id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")})
        silver[cid] = r[2]
    order = rng.permutation(len(stmts))
    return [stmts[i] for i in order], next_insert


def write_calls(out_dir: str, seed: int, size: str) -> dict:
    """Write the CSV batches and their manifest; returns the manifest."""
    n = SIZES[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    silver: dict[int, int] = {}
    seen: list[int] = []
    next_id, next_insert, next_invalid = 1, INSERT_ID_BASE, INVALID_ID_BASE
    batches = []
    for b in range(n["batches"]):
        n_rows = n["batch_rows"]
        n_invalid = max(len(_REJECTS) * 2, int(n_rows * 0.15))
        n_edge = 4  # two mixed-case status rows, two 25:61:99 start times
        n_valid = n_rows - n_invalid
        n_old = n_valid // 2 if seen else 0
        old = [int(x) for x in rng.choice(np.array(seen), n_old, replace=False)] if n_old else []
        new = list(range(next_id, next_id + n_valid - n_old))
        next_id += len(new)
        ids = old + new
        rows = _valid_rows(rng, ids)
        for r in rows[:2]:
            r[5] = "Completed"
        for r in rows[2:n_edge]:
            r[3] = "25:61:99"
        for k in range(n_invalid):
            rows.append(_REJECTS[k % len(_REJECTS)](next_invalid))
            next_invalid += 1
        order = rng.permutation(len(rows))
        path = os.path.join(out_dir, f"batch_{b:03d}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(CALL_HEADER)
            for i in order:
                w.writerow(["" if v is None else v for v in rows[i]])
        seen.extend(new)
        silver.update((r[0], r[2]) for r in rows[:n_valid])
        silver_after_batch = len(silver)
        agents = len(set(silver.values()))
        stmts = []
        if b:  # the first batch is the run's untimed warm-up; it bootstraps the tables
            stmts, next_insert = _dml_stream(rng, silver, next_insert)
        batches.append({
            "csv": os.path.basename(path),
            "bytes": os.path.getsize(path),
            "rows": len(rows),
            "valid": n_valid,
            "invalid": n_invalid,
            "agent_rows": sum(1 for r in rows if r[2] is not None),
            "silver_after_batch": silver_after_batch,
            "silver_after_dml": len(silver),
            "silver_agents": agents,
            "dml": stmts,
        })
    manifest = {"seed": seed, "size": size, "processing_date": PROCESSING_DATE,
                "batches": batches}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--size", choices=sorted(SIZES), default="bench")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    rows = write_tables(os.path.join(args.out, "tables"), args.size)
    manifest = write_calls(os.path.join(args.out, "calls"), args.seed, args.size)
    print(json.dumps({"tables": rows, "batches": len(manifest["batches"])}))


if __name__ == "__main__":
    main()
