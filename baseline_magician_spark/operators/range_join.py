"""IP-range containment join: metrics × networks.

The reference runs one full-scan query PER network, sequentially
(main.go:215-287) — N scans of the fact table. Spark-first, this is a
single pass: the networks dimension is tiny (tens to thousands of
rows), so broadcast it and let Catalyst use a BroadcastNestedLoopJoin
with the range predicate. One scan of the fact table regardless of N.

The predicate is ``ip >= start AND ip <= end`` exactly as the reference
generates it, including its off-by-one upper bound (see
``functions.ip.parse_cidr_py``). SCALE.md records why a prefix-bucketed
hash join is not kept alongside it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_range_join(
    facts: DataFrame,
    networks: DataFrame,
    ip_col: Column | str = "ip_long",
) -> DataFrame:
    """facts ⋈ networks ON ip BETWEEN start_long AND end_long (inner,
    broadcast): a fact row outside every network is dropped."""
    ip = F.col(ip_col) if isinstance(ip_col, str) else ip_col
    cond = (ip >= networks["start_long"]) & (ip <= networks["end_long"])
    return facts.join(F.broadcast(networks), cond)
