"""Persisted IVF index: write/read/append/serve (round 11, VERDICT
r10 task 4).

The in-memory IVF operators (operators/similarity.py) rebuild the
index inside every query plan — right for oracle checks, wrong for
production: a 100 TB deployment trains rarely and serves constantly.
This module materializes the index as parquet so the serve path reads
postings instead of re-assigning the corpus:

- ``<path>/centroids``: the trained centroid relation (cid, cvec) —
  vocabulary-scale metadata (K x dim floats), the thing every serve
  site collects to the driver to plan map-side probes;
- ``<path>/postings``: (id, vec, cell), written PARTITIONED BY cell —
  a serve with n_probe cells per query touches only the probed cell
  directories (static partition pruning via an isin filter over the
  collected probe set), never the full corpus.

Serving reuses the exact same probe/rescore expressions as the
in-memory path (ivf_probe_cells / cosine), so a persisted serve is
value-identical to the in-memory plan — which is precisely what the
``similarity_ivf_serve_persisted`` driver row checks by sharing the
in-memory oracle. Incremental add assigns NEW vectors under the
PERSISTED centroids and appends their postings — the standard
IVF maintenance story (retrain only when cell balance drifts; the
drift signal is operators/similarity.py::ivf_cell_report).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..local_frame import local_frame
from .similarity import (
    _ivf_assign_relation,
    _ivf_probe_relation,
    _pairwise_score_relation,
)

__all__ = [
    "ann_index_write",
    "ann_index_read_centroids",
    "ann_index_postings",
    "ann_index_add",
    "ivf_serve_persisted",
]


def _assigned(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    # Arrow-batched numpy assignment (guide §4.2) — value-identical to
    # the ivf_assign_cell expression, pinned in tests/test_similarity_np.py
    return _ivf_assign_relation(
        embeddings,
        sorted(centroids),
        id_col,
        vec_col,
        out_id="id",
        out_vec="vec",
        keep_vec=True,
    )


def ann_index_write(
    embeddings: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: centroid metadata + cell-partitioned
    postings. One corpus pass (the map-side assignment is a scan
    projection); the shuffle-free write lays postings out by cell so
    serves prune to the probed directories."""
    spark = embeddings.sparkSession
    # one centroids file: the centroids are a LocalRelation, so
    # coalesce(1) is one task over the driver's rows, with no shuffle
    local_frame(
        spark,
        [(int(cid), [float(x) for x in cv]) for cid, cv in centroids],
        "cid long, cvec array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # repartition by cell before the partitioned write: one writer
    # (and one file) per cell instead of n_input_partitions x K tiny
    # files — the clustering a 100 TB build wants anyway (each cell's
    # postings are co-located and contiguous for the serve scan)
    _assigned(embeddings, centroids, id_col, vec_col).repartition(
        "cell"
    ).write.partitionBy("cell").mode("overwrite").parquet(
        f"{path}/postings"
    )


def ann_index_read_centroids(
    spark: SparkSession, path: str
) -> list[tuple[int, list[float]]]:
    """The persisted centroid table, as the driver-side list every
    probe/assign expression literal-izes (K x dim — tiny)."""
    return sorted(
        (int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )


def ann_index_postings(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/postings")


def ann_index_add(
    new_embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest: assign new vectors under the PERSISTED
    centroids and append their postings — no retrain, no touch of
    existing cell files."""
    spark = new_embeddings.sparkSession
    centroids = ann_index_read_centroids(spark, path)
    _assigned(new_embeddings, centroids, id_col, vec_col).repartition(
        "cell"
    ).write.partitionBy("cell").mode("append").parquet(
        f"{path}/postings"
    )


def ivf_serve_persisted(
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Serve approximate top-k from the persisted index.

    The probed cell set is collected first (|queries| x n_probe ids —
    serve-time queries are few by definition) and pushed as an isin
    filter on the postings scan, so only the probed cell PARTITIONS
    are read — the explain shows PartitionFilters on ``cell``. The
    rescore is the same broadcast join + per-query window as the
    in-memory path."""
    from pyspark.sql import Window as W

    spark = queries.sparkSession
    centroids = ann_index_read_centroids(spark, path)
    probes = _ivf_probe_relation(
        queries, centroids, n_probe, id_col, vec_col
    )
    probed_cells = sorted(
        {int(r["cell"]) for r in probes.select("cell").distinct().collect()}
    )
    postings = ann_index_postings(spark, path).where(
        F.col("cell").isin(probed_cells)
    )
    scored = _pairwise_score_relation(
        postings.join(F.broadcast(probes), "cell")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "_qvec",
            "vec",
        ),
        "_qvec",
        "vec",
        "_raw",
        "cos",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_raw"), 6).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
