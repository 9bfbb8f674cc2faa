"""Seeded inputs for the benchmark.

``make_tables`` writes the ten TPC-H-shaped tables the engine's registry
reads (``region nation customer supplier part orders lineitem events
documents embeddings``, one parquet file each) with the same schemas and
value shapes as the fixtures described in TESTDATA.md. The same
``(sf, seed)`` always gives byte-identical tables.

``derive_refreshed_workbook`` turns workbook A (one parquet directory per
sheet) into the refreshed export A': the seed picks which hosts and VMs
drop out and the row order of every sheet. Seed 0 drops exactly the hosts
and VMs the registry's ``ingest_refresh_sweep`` fixture drops (every 10th
host, every 13th VM), so its DuckDB oracle applies unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

DEFAULT_SEED = 0


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TESTDATA.md ratios)."""
    return {
        "customer": max(15, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(150, round(1_500_000 * sf)),
        "lineitem": max(600, round(6_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
        "events": max(1000, round(1_000_000 * sf)),
        "users": max(15, round(15_000 * sf)),
    }


def _ts_us(days_from: str, days_to: str, n: int, rng, *, whole_days: bool) -> np.ndarray:
    lo = np.datetime64(days_from, "us").astype(np.int64)
    hi = np.datetime64(days_to, "us").astype(np.int64)
    if whole_days:
        day = 86_400_000_000
        return lo + rng.integers(0, (hi - lo) // day + 1, n) * day
    return lo + rng.integers(0, hi - lo, n)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 20261017])
    n = sizes(sf)
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 7, npart), rng.integers(0, 7, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(rng.choice(("P", "O", "F"), no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": pa.array(
            _ts_us("1995-01-01", "2001-08-01", no, rng, whole_days=True), ts
        ),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl)),
        "l_linestatus": pa.array(rng.choice(("O", "F"), nl)),
        "l_shipdate": pa.array(
            _ts_us("1995-01-02", "2001-11-04", nl, rng, whole_days=True), ts
        ),
    })
    ne = n["events"]
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(
            np.sort(_ts_us("2024-01-01", "2024-01-31", ne, rng, whole_days=False)), ts
        ),
        "user_id": pa.array(rng.integers(0, n["users"], ne)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(np.minimum(rng.exponential(60.0, ne), 490.0) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    lengths = rng.integers(10, 100, nd)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # ~5% near-duplicates: another document's text plus a trailing marker
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        j = int(rng.integers(0, nd))
        if j != i:
            texts[i] = texts[j] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (nv, 64)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {k: v for k, v in n.items() if k != "users"}


def derive_refreshed_workbook(
    src: str, dst: str, seed: int
) -> tuple[set[str], set[str]]:
    """Write A' = A minus the seed's dropped hosts and VMs, every sheet in
    a seeded row order. Returns the dropped host and VM ``Object ID`` /
    ``VM UUID`` values that snapshot A holds as nodes: a vHost row whose
    ``Cluster`` names no vCluster row never becomes one, so other seeds
    only drop hosts that do."""
    rng = np.random.default_rng([seed, 13])
    os.makedirs(dst, exist_ok=True)
    sheets = sorted(f[: -len(".parquet")] for f in os.listdir(src) if f.endswith(".parquet"))
    tables = {s: pq.read_table(os.path.join(src, f"{s}.parquet")) for s in sheets}
    clusters = set(tables["vCluster"].column("Name").to_pylist())
    host_rows = list(zip(
        tables["vHost"].column("Object ID").to_pylist(),
        tables["vHost"].column("Cluster").to_pylist(),
    ))
    hosts = sorted({h for h, c in host_rows if c in clusters}, key=lambda h: int(h[5:]))
    vms = sorted(set(tables["vInfo"].column("VM UUID").to_pylist()), key=lambda v: int(v[3:]))
    if seed == DEFAULT_SEED:
        gone_hosts = {h for h, _ in host_rows if int(h[5:]) % 10 == 0}
        gone_vms = {v for v in vms if int(v[3:]) % 13 == 0}
    else:
        gone_hosts = set(rng.choice(hosts, max(1, len(hosts) // 10), replace=False).tolist())
        gone_vms = set(rng.choice(vms, max(1, len(vms) // 13), replace=False).tolist())
    for s, t in tables.items():
        if s == "vHost":
            keep = [h not in gone_hosts for h in t.column("Object ID").to_pylist()]
            t = t.filter(pa.array(keep))
        elif s == "vInfo":
            keep = [v not in gone_vms for v in t.column("VM UUID").to_pylist()]
            t = t.filter(pa.array(keep))
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(dst, f"{s}.parquet"))
    return gone_hosts & set(hosts), gone_vms
