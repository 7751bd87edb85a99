"""Independent reference results and output digests.

The job reference recomputes the hostgroups from the generated parquet
with DuckDB and plain Python, following the reference job's semantics:

- window ``metricDateTime >= now - 7 days``;
- a host belongs to a network when ``start <= ip <= start + 2^(32-len)``
  (the reference's off-by-one upper bound, so the first address after a
  network still counts);
- one aggregate per counter, ``floor(avg(x))`` as int64;
- threshold = the channel expression on the aggregate as float64,
  truncated to an unsigned integer; the bits channel is then divided
  by 1024*1024 (integer division);
- a zero threshold switches its ban flag off;
- hostgroup name = the network with ``.`` and ``/`` replaced by ``_``.

Suite references run each query's DuckDB oracle over the same tables.
"""

from __future__ import annotations

import hashlib
import json
import math

import duckdb

CHANNELS = (  # (expression key, aggregate column, threshold field, ban field, mbps)
    ("packets", "packets_incoming", "threshold_pps", "ban_for_pps", False),
    ("bits", "bits_incoming", "threshold_mbps", "ban_for_bandwidth", True),
    ("flows", "flows_incoming", "threshold_flows", "ban_for_flows", False),
)
# The benchmark's expressions, evaluated here without the program's compiler.
EVALUATORS = {
    "value * 2": lambda v: v * 2,
    "value + 200": lambda v: v + 200,
    "value * 1.5": lambda v: v * 1.5,
}
WINDOW_DAYS = 7
GROUP_FIELDS = (
    "name", "networks", "enable_ban", "ban_for_bandwidth", "ban_for_pps",
    "ban_for_flows", "threshold_mbps", "threshold_pps", "threshold_flows",
)


def cidr_range(cidr: str) -> tuple[int, int]:
    addr, mask = cidr.split("/")
    a, b, c, d = (int(x) for x in addr.split("."))
    size = 1 << (32 - int(mask))
    start = ((a << 24) | (b << 16) | (c << 8) | d) & ~(size - 1)
    return start, start + size


def uint_trunc(x: float) -> int:
    return 0 if x is None or math.isnan(x) or x < 0 else int(math.floor(x))


def job_reference(inputs: dict) -> list[dict]:
    """Expected Ban_settings_t fields per network, sorted by name."""
    con = duckdb.connect()
    nets = [(c, *cidr_range(c)) for c in inputs["networks"]]
    con.execute("CREATE TABLE nets(network VARCHAR, s BIGINT, e BIGINT)")
    con.executemany("INSERT INTO nets VALUES (?, ?, ?)", nets)
    aggs = ", ".join(
        f"CAST(floor(avg(m.{col})) AS BIGINT) AS {col}" for _, col, *_ in CHANNELS
    )
    rows = con.execute(
        f"""
        WITH m AS (
          SELECT *, (CAST(split_part(host, '.', 1) AS BIGINT) << 24)
                  | (CAST(split_part(host, '.', 2) AS BIGINT) << 16)
                  | (CAST(split_part(host, '.', 3) AS BIGINT) << 8)
                  |  CAST(split_part(host, '.', 4) AS BIGINT) AS ip
          FROM read_parquet(?)
          WHERE epoch_us(metricDateTime) >= ?
        )
        SELECT n.network, {aggs}
        FROM m JOIN nets n ON m.ip >= n.s AND m.ip <= n.e
        GROUP BY n.network
        """,
        [inputs["metrics_path"], inputs["now_us"] - WINDOW_DAYS * 86_400_000_000],
    ).fetchall()
    con.close()
    out = []
    for network, *values in rows:
        g = {
            "name": network.replace(".", "_").replace("/", "_"),
            "networks": [network],
            "enable_ban": True,
        }
        for (key, _, thr_field, ban_field, mbps), v in zip(CHANNELS, values):
            thr = uint_trunc(EVALUATORS[inputs["expressions"][key]](float(v)))
            if mbps:
                thr //= 1024 * 1024
            g[thr_field], g[ban_field] = (thr, True) if thr > 0 else (0, False)
        out.append(g)
    return sorted(out, key=lambda g: g["name"])


def groups_digest(groups: list[dict]) -> str:
    """Digest of a job's hostgroups over the fields the reference sets."""
    rows = sorted(({k: g[k] for k in GROUP_FIELDS} for g in groups), key=lambda g: g["name"])
    return hashlib.sha256(json.dumps(rows, sort_keys=True).encode()).hexdigest()


def rows_digest(rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(sorted(rows)).encode()).hexdigest()


def canonical_rows(rows, columns) -> list[tuple]:
    """Rows as sorted tuples of str, columns in name order: the form both
    Spark's rows and the oracle's rows are compared in."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(str(r[i]) for i in idx) for r in rows)


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    res = con.execute(sql)
    return canonical_rows(res.fetchall(), [d[0] for d in res.description])


def star_connection(star_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    return con
