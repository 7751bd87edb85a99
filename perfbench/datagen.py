"""Seeded input generators for the benchmark's workloads.

The seed moves values and host placement only. Row counts, network
counts, expressions and table shapes are fixed per workload, so every
op of every run does the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 26 counters of the host_metrics fact table, in the program's order.
METRICS = tuple(
    f"{proto}_{direction}"
    for proto in (
        "packets", "bits", "flows",
        "tcp_packets", "udp_packets", "icmp_packets",
        "fragmented_packets", "tcp_syn_packets",
        "tcp_bits", "udp_bits", "icmp_bits",
        "fragmented_bits", "tcp_syn_bits",
    )
    for direction in ("incoming", "outgoing")
)

# The job's "now": fixed, so the 7-day window is the same in every run.
NOW = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
NOW_US = int(NOW.timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000

# Three incoming channels (packets, bits, flows), as in the job's config.
EXPRESSIONS = {"packets": "value * 2", "bits": "value + 200", "flows": "value * 1.5"}


@dataclass(frozen=True)
class JobShape:
    rows: int
    networks: int
    masklen: int
    row_groups: int


JOB_SHAPE = JobShape(rows=20_000, networks=16, masklen=20, row_groups=2)


def _dotted(ip: np.ndarray) -> list[str]:
    ip = ip.astype(np.int64)
    parts = [(ip >> s) & 255 for s in (24, 16, 8, 0)]
    return [f"{a}.{b}.{c}.{d}" for a, b, c, d in zip(*(p.tolist() for p in parts))]


def job_networks(shape: JobShape, rng: np.random.Generator) -> tuple[list[str], np.ndarray]:
    """Distinct CIDRs inside 10.0.0.0/8 in seed order, with their base
    addresses. The first is written with host bits set (the program must
    mask them); each keeps its spelling as the hostgroup's network."""
    blocks = rng.choice(1 << (shape.masklen - 8), size=shape.networks, replace=False)
    starts = (10 << 24) + blocks.astype(np.int64) * (1 << (32 - shape.masklen))
    cidrs = [f"{ip}/{shape.masklen}" for ip in _dotted(starts)]
    cidrs[0] = f"{_dotted(starts[:1] + 33)[0]}/{shape.masklen}"
    return cidrs, starts


def job_inputs(seed: int, out_dir: str, shape: JobShape = JOB_SHAPE) -> dict:
    """Write host_metrics.parquet and return the job's inputs.

    Host placement: 94 % uniform inside a network, 1 % exactly on the
    network's exclusive end (counted by the reference's off-by-one upper
    bound), 5 % outside every network. Timestamps span 14 days before
    NOW, so the 7-day window keeps about half. Network 1 carries tiny
    bit counters and network 2 zero flows, so their thresholds are 0 and
    the matching ban flags switch off.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    cidrs, starts = job_networks(shape, rng)
    size = 1 << (32 - shape.masklen)
    n = shape.rows
    # Every network gets at least one in-window row, so every network
    # yields a hostgroup and the sink's work is the same in every run.
    net = np.concatenate([np.arange(shape.networks), rng.integers(0, shape.networks, n - shape.networks)])
    place = rng.random(n)
    place[: shape.networks] = 0.5
    ip = starts[net] + rng.integers(0, size, n)
    edge = place < 0.01
    ip[edge] = starts[net[edge]] + size
    outside = place > 0.95
    ip[outside] = (172 << 24) + (16 << 16) + rng.integers(0, 1 << 16, int(outside.sum()))
    ts = NOW_US - rng.integers(0, 14 * DAY_US, n)
    ts[: shape.networks] = NOW_US - DAY_US

    cols: dict[str, pa.Array] = {
        "host": pa.array(_dotted(ip)),
        "metricDateTime": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
    }
    for m in METRICS:
        hi = 10**10 if "bits" in m else 10**6 if "packets" in m else 10**4
        v = rng.integers(0, hi, n)
        if m.startswith("bits"):
            v[net == 1] = rng.integers(0, 1000, int((net == 1).sum()))
        if m.startswith("flows"):
            v[net == 2] = 0
        cols[m] = pa.array(v, type=pa.int64())
    table = pa.table(cols)
    path = os.path.join(out_dir, "host_metrics.parquet")
    pq.write_table(table, path, row_group_size=-(-n // shape.row_groups))
    return {
        "metrics_path": path,
        "networks": cidrs,
        "now_us": NOW_US,
        "expressions": EXPRESSIONS,
        "shape": asdict(shape),
    }


# -- star schema for the query suites ---------------------------------

STAR_ROWS = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
    "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
    "embeddings": 500,
}
_WORDS = (
    "the stream query row fast small spark group customer line sort hash batch "
    "dup data filter value big key order table scan merge part window join slow "
    "agg column a vector"
).split()
_DAY0_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo_day: int, hi_day: int) -> pa.Array:
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(_DAY0_1995 + d * DAY_US, type=pa.timestamp("us"))


def star_tables(seed: int, out_dir: str) -> str:
    """Write the ten catalog tables (one parquet each, sf0.001 shape) and
    return the directory."""
    rng = np.random.default_rng(seed)
    rows = STAR_ROWS
    r2 = lambda a: np.round(a, 2)  # noqa: E731
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    nc = rows["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": r2(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc).tolist(),
    }
    ns = rows["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": r2(rng.uniform(-999.99, 9999.99, ns)),
    }
    npart = rows["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, npart), rng.choice(noun, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": r2(900 + (np.arange(npart) % 200) / 10),
    }
    no = rows["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": r2(rng.uniform(1000, 500000, no)),
        "o_orderdate": _days(rng, no, 0, 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no).tolist(),
    }
    nl = rows["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": r2(qty * rng.uniform(900, 2100, nl)),
        "l_discount": r2(rng.integers(0, 11, nl) / 100),
        "l_tax": r2(rng.integers(0, 9, nl) / 100),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days(rng, nl, 1, 2499),
    }
    ne = rows["events"]
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * DAY_US, ne)), type=pa.timestamp("us")),
        "user_id": rng.integers(0, 15, ne),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne).tolist(),
        "value": r2(rng.exponential(50, ne) + 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    }
    nd = rows["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, nd)]
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], nd).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    nv = rows["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.06, (nv, 64))).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
