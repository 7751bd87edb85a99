"""Connected components over near-duplicate pair graphs — the dedup
clustering step: pairs from MinHash/Jaccard/embedding candidates become
duplicate CLUSTERS, and one survivor is kept per cluster.

Iterative min-label propagation (the standard large-graph formulation,
cf. the "hash-to-min" family):

    label(v) := min(label(v), min label of v's neighbors)   until fixpoint

Each round is one equi-join (edges x labels, shuffle on node id — a
uniform key) + one groupBy min + a pointer-jump self-join. Rounds
needed ~ log2(diameter) via path halving; near-dup clusters (nearly
all-to-all) converge in 2-3. ``localCheckpoint`` truncates lineage
each round so plan size stays constant; convergence is detected by
the exact decimal label-sum reaching a fixpoint (labels are monotone
non-increasing) — one aggregate action per round, no old-vs-new join
(the loop is driver-controlled by necessity, but all data work is
distributed).

The fixpoint is path-independent, so results are deterministic and the
DuckDB oracle (recursive-CTE label closure) must hash-match exactly.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..local_frame import columns_frame, local_frame

# rounds used by the most recent connected_components call — the
# pointer-jumping regression signal (tests pin the log-depth bound)
LAST_ROUNDS: int = 0

# Edge-row ceiling for the single-collect driver union-find path
# (optimization round 11, guide §8: decide with small rows). Near-dup
# pair graphs are the OUTPUT of band-capped LSH joins — a lightweight
# key relation, broadcast-class next to the corpus — so when the pair
# count fits the cap, components are computed on the driver off one
# bounded collect (union-find, min-id representative: the identical
# fixpoint) instead of log-depth rounds of join jobs. Past the cap — a
# web-scale pair graph — the distributed pointer-jumping loop below
# runs unchanged. Env-overridable for cluster deployments.
DRIVER_EDGE_CAP = int(_os.environ.get("BMS_CC_DRIVER_EDGE_CAP", "2000000"))


def _cc_driver(spark, pdf, a_type) -> DataFrame:
    """Vectorized min-label propagation over the collected edge frame
    — value-identical to the distributed fixpoint AND to the union-
    find it replaces (round 12): every node's representative is the
    min node id in its component. Nodes factorize through np.unique
    (sorted, so the min INDEX is the min id); each pass is two
    scatter-mins over the edge arrays plus one pointer jump, O(E)
    numpy work per pass and ~log(diameter) passes — no per-edge
    Python loop (guide §4.2 applied to the driver itself; the old
    union-find walked 2 x |E| Python dict chains)."""
    import numpy as np
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("node", a_type),
            StructField("cluster_id", a_type),
        ]
    )
    if not len(pdf):
        return local_frame(spark, [], schema)
    a = pdf["a"].to_numpy()
    b = pdf["b"].to_numpy()
    uniq, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a) :]
    lab = np.arange(len(uniq), dtype=np.int64)
    while True:
        old = lab
        m = np.minimum(lab[ea], lab[eb])
        lab = lab.copy()
        np.minimum.at(lab, ea, m)
        np.minimum.at(lab, eb, m)
        lab = np.minimum(lab, lab[lab])  # pointer jump (path halving)
        if np.array_equal(lab, old):
            break
    return columns_frame(spark, [uniq, uniq[lab]], schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    driver_edge_cap: int | None = None,
) -> DataFrame:
    """(node, cluster_id) for every node in ``edges``; cluster_id = min
    node id in the component."""
    # Scale-adaptive shuffle sizing for the whole CC computation
    # (optimization round 11, guide §2): the init distincts and every
    # round's groupBy re-plan from ``spark.sql.shuffle.partitions``
    # and AQE coalesces back down — per-round planning/bookkeeping
    # cost proportional to the initial count. Derive the initial
    # count from the environment (defaultParallelism — total cores,
    # local or cluster) instead of the session constant: AQE still
    # coalesces downward when the label relation is small, and at
    # corpus scale upward sizing is AQE's skew/coalesce job anyway.
    # (NOT edges.rdd.getNumPartitions(): materializing .rdd under AQE
    # executes the pair subtree's query stages — a hidden extra
    # computation of the most expensive input.) AQE stays ON —
    # measured interleaved on the simhash pair graph: default-200
    # median 5.16 s/call, AQE-off 9.4 s, this 3.08 s. Restored after
    # the loop so downstream consumers see the session value.
    sess = edges.sparkSession
    sc = sess.sparkContext
    n_parts = sc.defaultParallelism
    try:
        old_sp = sess.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        old_sp = None
    sess.conf.set("spark.sql.shuffle.partitions", str(n_parts))

    global LAST_ROUNDS
    LAST_ROUNDS = 0
    try:
        pe = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        # Driver components under the edge cap: ONE bounded Arrow
        # collect of the pair relation replaces the log-depth round
        # jobs + convergence collects. Round 12 (VERDICT r11 task 6):
        # no eager localCheckpoint in front — the collect CONSUMES
        # the relation, and CollectLimit's incremental execution
        # reuses the subtree's completed shuffle map stages across
        # its internal partial jobs, so the expensive pair subtree
        # still runs once; dropping the checkpoint removes a whole
        # materialization job (and its scheduler exposure under a
        # loaded box). toPandas keeps the transfer on the Arrow path
        # (catalog enables arrow.pyspark for bare driver sessions).
        cap = DRIVER_EDGE_CAP if driver_edge_cap is None else driver_edge_cap
        if cap > 0:
            head = pe.limit(cap + 1).toPandas()
            if len(head) <= cap:
                LAST_ROUNDS = 1
                return _cc_driver(
                    sess, head, pe.schema["a"].dataType
                )
        # Over-cap fallback: materialize the pair subtree ONCE
        # (round 11, guide §2.4) — the symmetrization union below
        # references it from multiple branches, which would re-run
        # its post-shuffle compute per branch.
        pe = pe.localCheckpoint(eager=True)
        # Symmetric closure WITH self-loops, one distinct: the
        # self-loops make each round's neighbor-min include the
        # node's own label (min over neighbors ∪ self == the old
        # least(label, nbr_min) left-join), deleting one join per
        # round, and double as the label seed (a == b rows), deleting
        # the separate distinct + eager checkpoint the init used to
        # pay.
        sym = (
            pe.union(pe.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .union(pe.select(F.col("a"), F.col("a").alias("b")))
            .union(pe.select(F.col("b").alias("a"), F.col("b")))
            .distinct()
            .localCheckpoint(eager=False)  # round 1's job lands it
        )
        labels = sym.where(F.col("a") == F.col("b")).select(
            F.col("a").alias("node"), F.col("a").alias("label")
        )
        labels = _label_rounds(sym, labels, max_iterations)
    finally:
        if old_sp is None:
            sess.conf.unset("spark.sql.shuffle.partitions")
        else:
            sess.conf.set("spark.sql.shuffle.partitions", old_sp)
    return labels.select("node", F.col("label").alias("cluster_id"))


def _label_rounds(
    sym: DataFrame, labels: DataFrame, max_iterations: int
) -> DataFrame:
    """The min-label propagation rounds (split out so the caller's
    shuffle-partition pin wraps them in one try/finally).

    ``sym`` must contain a self-loop for every node: the round's
    neighbor-min then includes the node's own label, so the min IS
    the old ``least(own, neighbor-min)`` and no left-join back onto
    the previous labels is needed (one fewer join per round, and
    every node is guaranteed a row)."""
    global LAST_ROUNDS
    prev_sum = None
    for _ in range(max_iterations):
        LAST_ROUNDS += 1
        stepped = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("_nl")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("_nl").alias("label"))
        )
        # pointer jumping (path halving): label(v) := label(label(v)).
        # Labels are monotone lower bounds within the component, so the
        # fixpoint is unchanged — but propagation depth halves each
        # round, turning diameter-many rounds into ~log2(diameter).
        # Long Hamming/near-dup CHAINS (A~B~C~...) are exactly the
        # graphs where plain neighbor-min needs diameter rounds.
        ptr = stepped.select(
            F.col("node").alias("_pn"), F.col("label").alias("_pl")
        )
        jumped = stepped.join(
            ptr, stepped["label"] == ptr["_pn"], "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("_pl"), F.col("label"))
            ).alias("label"),
        )
        # Convergence WITHOUT a per-round old-vs-new join: labels only
        # ever DECREASE, so the fixpoint is reached exactly when the
        # exact label sum stops falling — one decimal(38,0) aggregate
        # over the checkpointed round output (overflow-proof at any
        # node count). The former join-based changed-count was also a
        # measured scale hazard: joining the round output back against
        # the previous labels made final-round jobs blow up ~4-5x per
        # round once labels converged (reproduced on 2048-node paths:
        # 0.7s rounds degrading to 21s), while this shape stays flat
        # through convergence.
        # lazy checkpoint + the fixpoint aggregate: ONE job per round
        # materializes the labels AND evaluates convergence (the
        # aggregate computes the checkpointed RDD's partitions, so the
        # checkpoint lands as a side effect — measured flat per-round
        # cost, ~30% faster than eager + separate aggregate)
        labels = jumped.localCheckpoint(eager=False)
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dedup_clusters(
    pairs: DataFrame, id_a: str, id_b: str
) -> DataFrame:
    """Near-dup pairs -> (doc_id, cluster_id, is_survivor); survivor =
    min doc id per cluster (the canonical keep policy)."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_survivor"),
    )
