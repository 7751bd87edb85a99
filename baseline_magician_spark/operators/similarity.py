"""Similarity search over embedding columns (array<float>).

- **Brute-force top-k cosine** (the exact baseline): query set ×
  corpus cross join with the dot product computed by built-in
  higher-order functions (zip_with + aggregate) — JVM-side, no Python.
  Correct at any scale but O(Q x N); use for small query sets or as
  the verifier for approximate paths.

- **Random-hyperplane LSH buckets** (the scale path): P deterministic
  pseudo-random hyperplanes (components derived from index arithmetic,
  no RNG state) give each vector a P-bit sign bucket, computed
  map-side in one Arrow-batched numpy pass. Candidates = same-bucket
  pairs -> the cross join shrinks by ~2^P. At 100 TB the bucket id is
  the shuffle key (uniform by construction) and each bucket's
  candidate set is verified with the exact cosine.

- **Embedding near-dup pairs**: same-bucket exact-cosine >= threshold,
  the embedding analogue of MinHash dedup.

- **IVF / PQ** (cell assignment, probing, PQ encoding, pairwise
  rescoring): numpy kernels over Arrow batches, one rendering each
  (see the kernel block below).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ._arrow_stage import arrow_stage

# Hyperplane component for (plane p, dim d): pseudo-random signed value
# from pure integer arithmetic — identical in Spark and any SQL oracle.
_HP_MOD = 1_000_003
_HP_A = 1_315_423_911
_HP_B = 2_654_435_761


def dot(a: Column, b: Column) -> Column:
    """Exact dot product of two array<numeric> columns (fold, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Statically-unrolled dot product for a driver-known dimension.

    Same left-to-right add order as ``dot()``'s fold — bit-identical
    IEEE result — but plain whole-stage-codegen arithmetic with no
    per-row array allocation. On an O(pairs) self-join verify stage
    this is the difference between the fold's per-pair zip_with
    allocation and pure registers.
    """
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return acc


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def ivf_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_query_vecs: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign corpus vectors to centroid cells
    map-side, probe each query's n_probe nearest cells, exact-rescore
    only the candidates.

    "Training" here seeds centroids from the first ``n_centroids``
    vectors (deterministic, oracle-reproducible); production would
    k-means them — every other step (collect centroids to driver,
    map-side assign, probe, cell-join, rescore) is the real IVF
    dataflow. Plan shape: zero shuffles until the final per-query
    top-k, because the cell key is computed in the scan projection and
    the probe set is broadcast. The assignment, probe and rescore
    folds run in Arrow-batched numpy (guide §4.2).
    """
    from pyspark.sql import Window as W

    if centroids is None:
        centroids = [
            (int(r[0]), list(r[1]))
            for r in embeddings.where(F.col(id_col) < n_centroids)
            .select(id_col, vec_col)
            .collect()
        ]
    centroids = sorted(centroids)

    assigned = _ivf_assign_relation(
        embeddings,
        centroids,
        id_col,
        vec_col,
        out_id="neighbor_id",
        out_vec="_cvec",
        keep_vec=True,
    )
    probes = _ivf_probe_relation(
        embeddings.where(F.col(id_col) < n_query_vecs),
        centroids,
        n_probe,
        id_col,
        vec_col,
    )
    scored = _pairwise_score_relation(
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qvec", "_cvec"),
        "_qvec",
        "_cvec",
        "_raw",
        "cos",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_raw"), 6).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine_sim, rank), rank 1..k,
    ties broken by neighbor id. The queries side is broadcast — the
    corpus is scanned ONCE regardless of |Q|.

    ``exclude_self`` drops corpus rows whose id EQUALS the query id —
    correct only when queries share the corpus id space (the self-
    search case). Pass False when the query set is a separate table
    whose ids merely coincide numerically, or the colliding corpus
    vectors would be silently excluded from their top-k.

    The per-pair cosine stays a JVM expression fold: an interleaved
    sf0.1 A/B measured the numpy pairwise kernel slower on this
    operator (0.39 -> 0.62 s) — the |corpus| x |Q| pair relation is
    already wide across cores and the single fold is cheap enough that
    the Arrow boundary costs more than interpreted eval saves.
    """
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    sim = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_qvec"), F.col("_cvec")), 6).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# A (bucket, sa, sb) sub-join over a bucket slice of H rows compares
# ~H² pairs; H = 4096 keeps the largest sub-task around 8M codegen'd
# dot products — seconds, not minutes. Buckets at or under H need no
# salting at all.
_SALT_HEALTHY_BUCKET = 4096
_SALT_MAX = 8


def lsh_bucketed_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    threshold: float = 0.9,
    dim: int | None = None,
    salt: int | str = "auto",
    center: bool = False,
) -> DataFrame:
    """Near-duplicate vector pairs: same LSH bucket AND exact cosine >=
    threshold. Output: (vec_a, vec_b, cosine_sim).

    Scale shape, in order of importance:

    - **Adaptive pair-space salting** (``salt``): a skewed bucket (at
      worst, every vector in one bucket — real corpora of same-sign
      features do this) turns the triangular self-join into one
      quadratic task. Each side tags its own salt ``id % S`` and
      explodes the *partner's* salt 0..S-1, so the join key
      ``(bucket, sa, sb)`` splits every bucket into S² independently-
      scheduled sub-joins. Each pair is still produced exactly once —
      (sa, sb) is a function of the pair. Salting duplicates every
      (id, vec, norm) row S×, which is pure tax when the bucket
      histogram is already healthy (e.g. after per-row centering), so
      ``salt="auto"`` sizes S from the ACTUAL histogram — one tiny
      driver round-trip (max bucket count, the same driver-literal
      pattern the IVF centroids use): S = ceil(max_bucket / 4096)
      clamped to [1, 8], and S == 1 skips the salt machinery
      entirely. Pass an int to pin S (0-skew known shapes).
    - The norm and the bucket come from ONE Arrow-batched numpy pass
      per row before the self-join (O(N) not O(pairs)).
    - ``center=True`` subtracts each vector's own component mean
      before projecting. Nonnegative feature families share a dominant
      all-ones direction that gives every hyperplane projection the
      same sign (measured: 5000 docs -> 4 buckets -> 5.6M candidate
      pairs at sf0.1); removing the per-row mean restores 201 buckets
      and 220k candidates while staying a deterministic per-row
      transform an oracle can replay.
    - When ``dim`` is driver-known the per-pair dot is statically
      unrolled into whole-stage-codegen arithmetic (same left-to-right
      add order as the fold — bit-identical results).
    - The pre-explode ``repartition(_bucket)`` exchange is computed
      once and reused by both join sides, so the upstream feature
      pipeline (often a Python Arrow stage) runs a single time.
    """
    with_bucket = _lsh_bucket_relation(
        embeddings.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        ),
        keep=("_id", "_v"),
        vec_col="_v",
        n_planes=n_planes,
        center=center,
        with_norm=True,
    ).repartition("_bucket")
    if salt == "auto":
        # The histogram job would otherwise re-run the upstream
        # feature pipeline (often a Python Arrow stage) a third
        # time — persist the tiny (id, vec, norm, bucket) projection
        # so histogram + both join sides read one materialization.
        # Blocks are O(corpus × vec) and evict LRU.
        with_bucket = with_bucket.persist()
        row = (
            with_bucket.groupBy("_bucket")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]
        )
        mx = int(row["mx"] or 0)
        salt = max(
            1,
            min(
                _SALT_MAX,
                -(-mx // _SALT_HEALTHY_BUCKET),  # ceil div
            ),
        )
    salt = int(salt)

    def _dotp(lv, rv):
        return (
            dot_unrolled(lv, rv, dim) if dim is not None else dot(lv, rv)
        )

    if salt <= 1:
        l = with_bucket.alias("l").hint("shuffle_hash")
        r = with_bucket.alias("r").hint("shuffle_hash")
        cond = (F.col("l._bucket") == F.col("r._bucket")) & (
            F.col("l._id") < F.col("r._id")
        )
    else:
        partner = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        l = (
            with_bucket.withColumn("_sa", F.col("_id") % salt)
            .withColumn("_sb", partner)
            .alias("l")
            .hint("shuffle_hash")
        )
        r = (
            with_bucket.withColumn("_sb", F.col("_id") % salt)
            .withColumn("_sa", partner)
            .alias("r")
            .hint("shuffle_hash")
        )
        cond = (
            (F.col("l._bucket") == F.col("r._bucket"))
            & (F.col("l._sa") == F.col("r._sa"))
            & (F.col("l._sb") == F.col("r._sb"))
            & (F.col("l._id") < F.col("r._id"))
        )
    return (
        l.join(r, cond)
        .select(
            F.col("l._id").alias("vec_a"),
            F.col("r._id").alias("vec_b"),
            F.round(
                _dotp(F.col("l._v"), F.col("r._v"))
                / (F.col("l._n") * F.col("r._n")),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def ivf_train_step_flat(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    round_to: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """One Lloyd (k-means) iteration — the IVF TRAINING step that
    produces the centroids ivf_topk serves from — in exploded form.

    Assign every vector to its nearest centroid map-side (same literal-
    matrix argmax as serving, no shuffle), then recompute each cell's
    centroid as the element-wise member mean. The vector average
    shuffles (cell, pos) pairs — dim × |cells| groups, uniform — after
    a posexplode that is linear in corpus × dim. Iterating this
    function IS k-means; each step is one job, centroids round-trip
    through the driver (K × dim floats — tiny by design).

    Output: one row per centroid component —
    (cell, n_members, pos, value) — a single shuffle; ``n_members`` is
    the cell's member count (identical on every pos row of a cell).

    ``centroids`` overrides the seed set — the Lloyd-iteration hook:
    feed the previous step's (rounded) centroids back in and this IS
    k-means, one job per step.
    """
    if centroids is None:
        centroids = [
            (int(r[0]), list(r[1]))
            for r in embeddings.where(F.col(id_col) < n_centroids)
            .select(id_col, vec_col)
            .collect()
        ]
    centroids = sorted(centroids)
    # Arrow-batched numpy assignment (guide §4.2), vec passthrough for
    # the element-wise mean; the posexplode stays JVM-side.
    assigned = _ivf_assign_relation(
        embeddings, centroids, id_col, vec_col, keep_vec=True
    ).select("cell", F.posexplode(F.col("_vec")).alias("pos", "x"))
    return (
        assigned.groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"), F.count(F.lit(1)).alias("c"))
        .select(
            "cell",
            F.col("c").alias("n_members"),
            "pos",
            F.round("m", round_to).alias("value"),
        )
    )


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two array<numeric> columns (fold,
    left-to-right — the order every SQL oracle mirrors)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_seed_codebooks(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
    m: int = 4,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace PQ codebooks seeded from the first ``n_codes``
    vectors' subvectors (deterministic, oracle-reproducible — the same
    seeding convention ivf_topk uses for its centroids; production
    would k-means each subspace with ivf_train_step on the sliced
    column). Returns m lists of (code, subvector); the whole structure
    is m x n_codes x (dim/m) floats — e.g. 4 KiB at dim 64 — so it
    rides into every task as a plan literal, never a join."""
    seeds = sorted(
        (int(r[0]), list(r[1]))
        for r in embeddings.where(F.col(id_col) < n_codes)
        .select(id_col, vec_col)
        .collect()
    )
    return pq_codebooks_from_seeds(seeds, m)


def pq_codebooks_from_seeds(
    seeds: list[tuple[int, list[float]]], m: int = 4
) -> list[list[tuple[int, list[float]]]]:
    """Slice already-collected seed vectors (the same (id, vec) list the
    IVF queries collect once via their seed helper) into per-subspace
    codebooks — so one driver collect can feed IVF centroids AND PQ
    codebooks without a second scan."""
    dim = len(seeds[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [(c, v[j * sub : (j + 1) * sub]) for c, v in seeds]
        for j in range(m)
    ]


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode the corpus: (id, codes array<long>, _recon) — codes is
    the m-byte compressed representation (the 100 TB artifact: dim
    floats -> m uint8 codes, 64x smaller at dim=64/m=4), ``_recon`` the
    codebook reconstruction used by ADC scoring. One narrow
    Arrow-batched numpy pass, no shuffle: per subspace the argmin
    squared-L2 code, ties to the lowest code id (guide §4.2).
    """
    pq_tables = _pq_tables_np(codebooks)
    schema = StructType(
        [
            StructField(id_col, embeddings.schema[id_col].dataType),
            StructField("codes", ArrayType(LongType())),
            StructField("_recon", ArrayType(DoubleType())),
        ]
    )

    def body(batch):
        codes, recon = _np_pq_encode(_np_vecs(batch.column(1), vec_col), pq_tables)
        return [batch.column(0), _np_lists(codes), _np_lists(recon)]

    return arrow_stage(
        embeddings.select(id_col, F.col(vec_col).alias("_vec")),
        "pq_encode", schema, body, nonnull=("_vec",),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_query_vecs: int = 5,
    n_codes: int = 16,
    m: int = 4,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """PQ + asymmetric-distance top-k (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the corpus
    is scanned in its compressed form and each candidate's distance to
    the (full-precision) query is the distance to its reconstruction.

    Plan shape: encode is map-side (task-local codebooks), queries
    broadcast, so the only shuffle is the final per-query top-k window
    — identical to brute_force_topk but over a corpus that at scale is
    read as m bytes per vector instead of dim floats.

    Output: (query_id, neighbor_id, adc_dist, rank), rank 1..k by
    ascending rounded distance, ties to the lower neighbor id.
    """
    from pyspark.sql import Window as W

    if codebooks is None:
        codebooks = pq_seed_codebooks(
            embeddings, id_col, vec_col, n_codes=n_codes, m=m
        )
    enc = pq_encode(embeddings, codebooks, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "_recon"
    )
    q = embeddings.where(F.col(id_col) < n_query_vecs).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    pairs = enc.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = _pairwise_score_relation(
        pairs.select("query_id", "neighbor_id", "_qvec", "_recon"),
        "_qvec",
        "_recon",
        "_raw",
        "l2",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_raw"), 6).alias("adc_dist"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def semantic_keep_best(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-based semantic dedup: assign every vector to its nearest
    centroid cell map-side (same argmax/tie rules as IVF serving) and
    keep ONE representative per cell — the member closest to the
    centroid (cosine DESC, ties to the lower id), i.e. the medoid-like
    "best" example; everything else in the cell is the semantic-
    duplicate set. The pretraining-corpus companion to MinHash dedup:
    MinHash catches lexical near-dups, this catches same-meaning
    rewrites that share no shingles.

    Output: (cell, kept_id, n_members, centroid_sim). One map-side
    assignment pass + one shuffle on the uniform cell key; the window
    per cell is the same single shuffle. Scale: cells ~ K, so the
    groupBy is small; the corpus never self-joins.
    """
    from pyspark.sql import Window as W

    assigned = _ivf_assign_relation(
        embeddings, sorted(centroids), id_col, vec_col, with_sim=True
    ).select(
        "_id",
        "cell",
        F.round(F.col("_sim"), 6).alias("centroid_sim"),
    )
    w = W.partitionBy("cell").orderBy(
        F.desc("centroid_sim"), F.asc("_id")
    )
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(W.partitionBy("cell")),
        )
        .where(F.col("_rn") == 1)
        .select(
            "cell",
            F.col("_id").alias("kept_id"),
            F.col("n_members").cast("long").alias("n_members"),
            "centroid_sim",
        )
    )


def ivf_train_step(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    round_to: int = 6,
) -> DataFrame:
    """Array-shaped Lloyd iteration: ``ivf_train_step_flat`` re-packed
    to (cell, n_members, centroid: array<double>) — the shape
    ``ivf_topk`` consumes when iterating training driver-side."""
    flat = ivf_train_step_flat(
        embeddings, id_col, vec_col, n_centroids, round_to
    )
    return flat.groupBy("cell").agg(
        F.max("n_members").alias("n_members"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("value")))
            ),
            lambda s: s["value"],
        ).alias("centroid"),
    )


def ivfpq_topk(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_query_vecs: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF cells over PQ codes — the standard billion-vector serving
    layout (IVFADC, Jegou et al. 2011): the corpus partitions into
    coarse centroid cells AND compresses to m-byte PQ codes; a query
    probes its n_probe nearest cells and ADC-rescores only those
    candidates against its full-precision vector.

    Plan shape: cell assignment and PQ reconstruction are ONE narrow
    Arrow-batched pass against task-local centroids/codebooks (at scale
    this is the index build artifact: (cell, codes) per vector, read
    as a cell-pruned scan of m bytes/vector); the probe set
    broadcasts; the only shuffle is the final per-query top-k window.
    Candidates drop from N to ~N*n_probe/n_cells and candidate bytes
    from dim floats to m codes — the two savings multiply.
    """
    from pyspark.sql import Window as W

    # ONE Arrow-batched pass computes assignment + PQ recon
    assigned = _ivf_assign_relation(
        embeddings,
        sorted(centroids),
        id_col,
        vec_col,
        out_id="neighbor_id",
        codebooks=codebooks,
    )
    probes = _ivf_probe_relation(
        embeddings.where(F.col(id_col) < n_query_vecs),
        sorted(centroids),
        n_probe,
        id_col,
        vec_col,
    )
    scored = _pairwise_score_relation(
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qvec", "_recon"),
        "_qvec",
        "_recon",
        "_raw",
        "l2",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("_raw"), 6).alias("adc_dist"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# -------------------------------------------------- int8 quantization


def int8_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale =
    max|x|/127, q_i = floor(x_i/scale + 0.5) (explicit half-up — the
    one rounding spelling Spark and DuckDB share bit-for-bit).

    Output: (id, scale double, qvec array<int>). At 100 TB this is
    the serving-corpus compaction step — 4x smaller than float32, and
    downstream scoring is integer arithmetic; computed map-side in one
    projection (the scale is a materialized column, NOT a subtree, so
    the per-element lambda reads a slot instead of re-evaluating the
    array max per element)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    with_scale = embeddings.select(
        F.col(id_col).alias("_qid"),
        v.alias("_v"),
        (
            F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("scale"),
    )
    qvec = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("_v"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"),
        )
    )
    return with_scale.select(
        F.col("_qid").alias(id_col), "scale", qvec.alias("qvec")
    )


def int8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by quantized dot product: score =
    (Σ qa_i·qb_i) · scale_a · scale_b — the integer sum is EXACT in
    both engines, the two scale multiplies are the only floats, so
    the ranking replays bit-identically in a SQL oracle.

    Output: (query_id, neighbor_id, q_score, rank). Same shape as
    brute_force_topk: corpus × broadcast(query set), ranked per query
    by (rounded score desc, neighbor id). The quantized corpus is the
    thing you'd PERSIST at scale — the scan reads 1/4 the bytes and
    the hot loop is int multiply-add."""
    from pyspark.sql import Window as W

    qq = int8_quantize(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("scale").alias("_qs"),
        F.col("qvec").alias("_qq"),
    )
    cc = int8_quantize(embeddings, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("scale").alias("_cs"),
        F.col("qvec").alias("_cq"),
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("_qq"), F.col("_cq"), lambda a, b: (a * b).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = (
        cc.crossJoin(F.broadcast(qq))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                idot.cast("double") * F.col("_qs") * F.col("_cs"), 6
            ).alias("q_score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("q_score"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def binary_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign binarization after per-ROW mean centering: bit i is set
    iff x_i - mean(x) >= 0, packed 64 dims per long word.

    Output: (id, dim int, words array<long>). The per-row mean (the
    same left-to-right fold as the centered LSH bucket's, so a SQL
    oracle replays it bit-for-bit) removes the common offset that
    would otherwise collapse positive-orthant embeddings onto the
    all-ones code. At 100 TB this is the 32x compaction step of a
    binary-quantization serving corpus: one map-side projection, and
    downstream candidate scoring is XOR+popcount over 1/32 of the
    float bytes. Word packing is bitwiseOR of distinct single-bit
    values — no addition, so it is ANSI-safe including bit 63."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    with_mu = embeddings.select(
        F.col(id_col).alias("_bid"),
        v.alias("_v"),
        (
            F.aggregate(
                v, F.lit(0.0), lambda acc, x: acc + x
            )
            / F.size(v)
        ).alias("_mu"),
    )
    nwords = ((F.size(F.col("_v")) + 63) / 64).cast("int")
    # single-bit value for in-word position p: 2^p is an EXACT double
    # for p <= 62 (one mantissa bit), so pow->long round-trips; bit
    # 63 is the signed-long min literal. shiftleft() takes only a
    # literal count, hence this spelling; all combining is bitwiseOR
    # of distinct bits — no addition, ANSI-safe.
    bitval = lambda p: F.when(  # noqa: E731
        p == 63, F.lit(-(1 << 63)).cast("long")
    ).otherwise(F.pow(F.lit(2.0), p.cast("double")).cast("long"))
    words = F.transform(
        F.sequence(F.lit(0), nwords - 1),
        lambda j: F.aggregate(
            F.transform(
                F.col("_v"),
                lambda x, i: F.when(
                    (i >= j * 64)
                    & (i < (j + 1) * 64)
                    & (x - F.col("_mu") >= 0),
                    bitval(i % 64),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        ),
    )
    return with_mu.select(
        F.col("_bid").alias(id_col),
        F.size(F.col("_v")).alias("dim"),
        words.alias("words"),
    )


def hamming_words(a: Column, b: Column) -> Column:
    """Hamming distance between two packed word arrays:
    sum(popcount(xor)) — whole-stage-codegen integer ops."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def binary_hamming_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by Hamming distance over the binary codes.

    Output: (query_id, neighbor_id, hamming, rank), rank 1..k by
    (hamming asc, neighbor id asc — Hamming ties are common at 64
    bits, so the id tiebreak is load-bearing for determinism). Same
    scan shape as brute_force_topk: corpus x broadcast(queries),
    but the per-pair cost is dim/64 XOR+popcounts instead of dim
    float multiplies."""
    from pyspark.sql import Window as W

    q = binary_quantize(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("words").alias("_qw")
    )
    c = binary_quantize(embeddings, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("words").alias("_cw")
    )
    sim = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            hamming_words(F.col("_qw"), F.col("_cw")).alias("hamming"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def binary_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    prefilter_mult: int = 4,
) -> DataFrame:
    """The binary-quantization SERVING pattern: Hamming prefilter to
    k * prefilter_mult candidates per query, then exact cosine
    rerank of only those candidates back against the float vectors.

    Output: (query_id, neighbor_id, cosine_sim, rank), rank 1..k by
    (cosine desc, neighbor id). At 100 TB the first stage scans the
    32x-compacted code corpus; the float vectors are fetched for
    ~k*mult rows per query via an equi-join on neighbor id — the
    crossJoin never touches the float table."""
    from pyspark.sql import Window as W

    cand = binary_hamming_topk(
        embeddings, queries, id_col, vec_col, k=k * prefilter_mult
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    cv = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("_qvec"), F.col("_cvec")), 6
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


# ------------------------------------------------------ numpy kernels
# Guide §4.2: IVF assignment and probing, PQ encoding, LSH bucketing and
# the per-pair cosine/L2 rescore run as numpy over Arrow batches, each
# one :func:`arrow_stage`. As JVM higher-order-function folds they were
# interpreted per row (Spark does not codegen lambda bodies) and their
# expression trees dominated plan build time. The kernels keep the fold
# order of :func:`dot`, :func:`norm` and :func:`l2_sq` (loop over dims,
# vectorize over rows), so each double equals the DuckDB oracles'
# left-to-right folds, and every argmax/argmin/sort uses uint64 keys
# whose order equals java.lang.Double.compare's total order (ties, NaN,
# -0.0).
#
# NULL contract, shared by every kernel below: a NULL vector raises the
# stage's named ValueError, and a NULL element or a ragged batch raises
# in :func:`_np_vecs`. Ids and passthrough columns are never read, so
# any value, NULL included, passes through bit for bit. A zero-norm
# vector's cosine is 0/0, returned as the IEEE NaN, never NULL. SQL
# division differs there (DuckDB gives NULL, ANSI Spark raises), so the
# oracles do not cover a zero vector; the embeddings table has none.
# tests/test_similarity_np.py pins each kernel against a pure-Python
# fold.


def _np_dkeys(x):
    """uint64 keys whose unsigned order equals java.lang.Double.compare
    (-0.0 < 0.0; every NaN equal to every NaN and greater than +inf) —
    the total order Spark's struct array_max/array_min/array_sort and
    window ORDER BY use on doubles."""
    x = np.ascontiguousarray(x, dtype=np.float64)
    x = np.where(np.isnan(x), np.float64("nan"), x)  # canonical NaN bits
    b = x.view(np.uint64)
    neg = (b >> np.uint64(63)).astype(bool)
    return b ^ np.where(
        neg, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(0x8000000000000000)
    )


def _np_vecs(arr: pa.Array, what: str) -> np.ndarray:
    """An Arrow list array of fixed-dim float vectors -> (n, d) float64,
    read from its offsets and flattened values. Raises on a NULL vector,
    a NULL element or a ragged batch: every relation these kernels serve
    (the embeddings table and projections of it) is uniform-dim and
    non-null by construction, and a padded or NaN-filled row would
    corrupt results silently."""
    if arr.null_count:
        raise ValueError(f"{what}: NULL vector in Arrow batch")
    lens = np.diff(arr.offsets.to_numpy())
    flat = arr.flatten()
    if flat.null_count:
        raise ValueError(f"{what}: NULL vector element in Arrow batch")
    d = int(lens[0]) if len(lens) else 0
    if (lens != d).any():
        raise ValueError(f"{what}: ragged vectors in Arrow batch")
    return flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(lens), d)


def _np_lists(M: np.ndarray) -> pa.ListArray:
    """(n, w) matrix -> an Arrow list array of n length-w rows."""
    n, w = M.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * np.int32(w))
    return pa.ListArray.from_arrays(offsets, pa.array(M.reshape(-1)))


def _np_seq_norm(V):
    """Row norms with the exact fold order of :func:`norm` (left-to-
    right sum of squares, then sqrt — both IEEE-identical per row)."""
    acc = np.zeros(V.shape[0])
    for j in range(V.shape[1]):
        acc = acc + V[:, j] * V[:, j]
    return np.sqrt(acc)


def _np_seq_dot_mat(V, C):
    """(n, K) dot products of every row of V with every row of C, fold
    order per (row, k) identical to :func:`dot`."""
    acc = np.zeros((V.shape[0], C.shape[0]))
    for j in range(V.shape[1]):
        acc = acc + V[:, j, None] * C[None, :, j]
    return acc


def _np_seq_dot_pairs(A, B):
    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


def _np_seq_l2_pairs(A, B):
    """Row-aligned squared L2, fold order identical to :func:`l2_sq`."""
    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        d = A[:, j] - B[:, j]
        acc = acc + d * d
    return acc


def _centroid_np(centroids: list[tuple[int, list[float]]]):
    """(cids int64, C (K,d) float64, cnorms float64) — the norms are a
    driver-side left-to-right sum of squares then IEEE sqrt, the fold
    order of :func:`norm` and of the row norms."""
    import math

    cids = np.asarray([int(c) for c, _ in centroids], dtype=np.int64)
    C = np.asarray(
        [[float(x) for x in v] for _, v in centroids], dtype=np.float64
    )
    norms = []
    for _, cv in centroids:
        acc = 0.0
        for x in cv:
            acc = acc + float(x) * float(x)
        norms.append(math.sqrt(acc))
    return cids, C, np.asarray(norms, dtype=np.float64)


def _pq_tables_np(codebooks: list[list[tuple[int, list[float]]]]):
    """Per-subspace (codes int64, CB (n_codes, sub) float64) tables."""
    return [
        (
            np.asarray([int(c) for c, _ in cb], dtype=np.int64),
            np.asarray(
                [[float(x) for x in v] for _, v in cb], dtype=np.float64
            ),
        )
        for cb in codebooks
    ]


def _np_div(a, b):
    """IEEE division: x/0 is ±inf and 0/0 is NaN, without a warning."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return a / b


def _np_cos_matrix(V, cids, C, cnorms):
    """(n, K) cosines: dot / (row_norm * centroid_norm), in that
    arithmetic order."""
    nv = _np_seq_norm(V)
    return _np_div(_np_seq_dot_mat(V, C), nv[:, None] * cnorms[None, :])


def _np_pq_encode(V, pq_tables):
    """(codes (n, m) int64, recon (n, d) float64) — per subspace the
    argmin squared-L2 code under Double.compare, ties to the lowest
    code id."""
    n = V.shape[0]
    m = len(pq_tables)
    sub = pq_tables[0][1].shape[1]
    codes = np.empty((n, m), dtype=np.int64)
    recon = np.empty((n, m * sub), dtype=np.float64)
    for j, (cj, CB) in enumerate(pq_tables):
        S = V[:, j * sub : (j + 1) * sub]
        acc = np.zeros((n, CB.shape[0]))
        for t in range(sub):
            dt = S[:, t, None] - CB[None, :, t]
            acc = acc + dt * dt
        # argmin on Double.compare keys; first min == lowest code id
        # (codebooks are code-ascending by construction)
        best = _np_dkeys(acc).argmin(axis=1)
        codes[:, j] = cj[best]
        recon[:, j * sub : (j + 1) * sub] = CB[best]
    return codes, recon


def _ivf_assign_relation(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    *,
    out_id: str = "_id",
    out_vec: str = "_vec",
    keep_vec: bool = False,
    with_sim: bool = False,
    top2: bool = False,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """(out_id[, out_vec], cell[, _sim][, _c2][, _recon]) — one Arrow
    stage computing the IVF cell assignment (argmax cosine, ties to the
    lowest cid) and optionally the winning cosine, the runner-up cosine
    (NULL when K < 2) and the PQ reconstruction."""
    cids, C, cnorms = _centroid_np(centroids)
    pq_tables = _pq_tables_np(codebooks) if codebooks is not None else None
    k = len(centroids)

    fields = [StructField(out_id, df.schema[id_col].dataType)]
    if keep_vec:
        fields.append(StructField(out_vec, df.schema[vec_col].dataType))
    fields.append(StructField("cell", LongType()))
    if with_sim:
        fields.append(StructField("_sim", DoubleType()))
    if top2:
        fields.append(StructField("_c2", DoubleType()))
    if pq_tables is not None:
        fields.append(StructField("_recon", ArrayType(DoubleType())))

    def body(batch):
        V = _np_vecs(batch.column(1), vec_col)
        cos = _np_cos_matrix(V, cids, C, cnorms)
        keys = _np_dkeys(cos)
        rows = np.arange(len(V))
        if top2:
            order = np.argsort(~keys, axis=1, kind="stable")
            b0 = order[:, 0]
        else:
            b0 = keys.argmax(axis=1)  # first max = lowest cid tie
        out = [batch.column(0)]
        if keep_vec:
            out.append(batch.column(1))
        out.append(cids[b0])
        if with_sim:
            out.append(cos[rows, b0])
        if top2:
            out.append(cos[rows, order[:, 1]] if k >= 2 else pa.nulls(len(V)))
        if pq_tables is not None:
            out.append(_np_lists(_np_pq_encode(V, pq_tables)[1]))
        return out

    src = df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec))
    return arrow_stage(
        src, "ivf_assign", StructType(fields), body, nonnull=(out_vec,)
    )


def _ivf_probe_relation(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str,
    vec_col: str,
    *,
    out_id: str = "query_id",
    out_vec: str = "_qvec",
) -> DataFrame:
    """(out_id, out_vec, cell) — the exploded n_probe nearest-centroid
    rows per query (cos DESC, cid ASC under Double.compare)."""
    cids, C, cnorms = _centroid_np(centroids)
    n_probe = min(n_probe, len(centroids))

    schema = StructType(
        [
            StructField(out_id, df.schema[id_col].dataType),
            StructField(out_vec, df.schema[vec_col].dataType),
            StructField("cell", LongType()),
        ]
    )

    def body(batch):
        V = _np_vecs(batch.column(1), vec_col)
        keys = _np_dkeys(_np_cos_matrix(V, cids, C, cnorms))
        order = np.argsort(~keys, axis=1, kind="stable")[:, :n_probe]
        idx = np.repeat(np.arange(len(V)), n_probe)
        return [
            batch.column(0).take(idx),
            batch.column(1).take(idx),
            cids[order.reshape(-1)],
        ]

    src = df.select(F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec))
    return arrow_stage(src, "ivf_probe", schema, body, nonnull=(out_vec,))


def _lsh_bucket_relation(
    df: DataFrame,
    keep: tuple[str, ...],
    vec_col: str,
    n_planes: int = 8,
    center: bool = False,
    with_norm: bool = False,
) -> DataFrame:
    """(keep..., [_n,] _bucket) — the P-bit sign-bucket relation in one
    Arrow stage (guide §4.2). Bit p is set iff the
    left-to-right fold of (x_d - mean) * component(p, d) is >= 0, with
    component(p, d) = (_HP_A*p + _HP_B*d) % _HP_MOD - (_HP_MOD-1)/2
    and mean the row's left-to-right component mean when ``center``
    (else 0); a NaN projection counts as non-negative, as Spark's
    NaN >= 0 does. ``with_norm`` adds the row norm (the :func:`norm`
    fold order)."""
    fields = [df.schema[c] for c in keep]
    if with_norm:
        fields.append(StructField("_n", DoubleType()))
    fields.append(StructField("_bucket", LongType()))
    half = (_HP_MOD - 1) // 2
    # hyperplane component table in int64 arithmetic (a*p overflows
    # int32), exact as float64 (|component| <= 501001 << 2^53)
    def _hp_row(p: int, d: int):
        return (
            (_HP_A * p + _HP_B * np.arange(d, dtype=np.int64))
            % _HP_MOD
            - half
        ).astype(np.float64)

    hp = {}  # dim -> (n_planes, dim) component table, per worker

    def body(batch):
        V = _np_vecs(batch.column("_vec"), vec_col)
        n, d = V.shape
        if d not in hp:
            hp[d] = np.stack([_hp_row(p, d) for p in range(n_planes)])
        if center:
            acc = np.zeros(n)
            for j in range(d):
                acc = acc + V[:, j]
            mean = acc / d
        else:
            mean = np.zeros(n)
        bucket = np.zeros(n, dtype=np.int64)
        for p in range(n_planes):
            proj = np.zeros(n)
            for j in range(d):
                proj = proj + (V[:, j] - mean) * hp[d][p, j]
            # Spark comparison semantics: NaN >= 0 is TRUE
            bit = (proj >= 0) | np.isnan(proj)
            bucket += bit.astype(np.int64) << np.int64(p)
        norm = [_np_seq_norm(V)] if with_norm else []
        return [*(batch.column(c) for c in keep), *norm, bucket]

    src = df.select(*keep, F.col(vec_col).alias("_vec"))
    return arrow_stage(src, "lsh_bucket", StructType(fields), body, nonnull=("_vec",))


def _pairwise_score_relation(
    df: DataFrame, a_col: str, b_col: str, out_col: str, metric: str
) -> DataFrame:
    """Append ``out_col`` = the raw (unrounded) pairwise fold — metric
    "cos" (dot/(norm*norm)) or "l2" (squared L2) — and DROP the two
    vector columns; every other column passes through. Rounding stays
    JVM-side in the caller so F.round semantics are untouched."""
    keep = [f for f in df.schema.fields if f.name not in (a_col, b_col)]
    out_schema = StructType([*keep, StructField(out_col, DoubleType())])

    def body(batch):
        A = _np_vecs(batch.column(a_col), a_col)
        B = _np_vecs(batch.column(b_col), b_col)
        if A.shape[1] != B.shape[1]:
            raise ValueError(
                f"{a_col}/{b_col}: dim mismatch "
                f"{A.shape[1]} vs {B.shape[1]}"
            )
        if metric == "cos":
            s = _np_div(_np_seq_dot_pairs(A, B), _np_seq_norm(A) * _np_seq_norm(B))
        elif metric == "l2":
            s = _np_seq_l2_pairs(A, B)
        else:  # pragma: no cover
            raise ValueError(metric)
        return [*(batch.column(f.name) for f in keep), s]

    return arrow_stage(
        df, "pairwise_score", out_schema, body, nonnull=(a_col, b_col)
    )


def ivf_cell_report(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index-quality report: per cell (the argmax-cosine
    assignment, same tie-break as ivf_topk — cos DESC, cid ASC),
    how many vectors it holds, how tight they sit (mean cosine to
    the OWN centroid) and how separated (mean cosine to the runner-up
    centroid, mean top1-top2 margin). This is the observability view
    that decides n_centroids / n_probe BEFORE recall degrades: fat
    cells mean rebalancing, thin margins mean more probes.

    Output: (cell, n_vectors, mean_top1_cos, mean_top2_cos,
    mean_margin), all rounded to 6; with one centroid the runner-up
    columns are NULL. Shape (guide §4.2 + §2.4): ONE Arrow-batched
    numpy pass emits each vector's top-2 cells directly — no crossJoin
    row blow-up, no per-vector window shuffle — followed by the
    per-cell groupBy."""
    top2 = _ivf_assign_relation(
        embeddings,
        sorted(centroids),
        id_col,
        vec_col,
        with_sim=True,
        top2=True,
    ).select(
        # the report's output schema types cell as int; the kernel's
        # long cell is narrowed to keep that contract
        F.col("cell").cast("int").alias("cell"),
        F.col("_sim").alias("_c1"),
        F.col("_c2"),
    )
    return top2.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("_c1"), 6).alias("mean_top1_cos"),
        F.round(F.avg("_c2"), 6).alias("mean_top2_cos"),
        F.round(F.avg(F.col("_c1") - F.col("_c2")), 6).alias(
            "mean_margin"
        ),
    )
