"""Every Python operator stage carries its id and passthrough columns as
the Arrow arrays it read: a nullable bigint above 2^53 next to a NULL in
the same batch comes back bit for bit. A pandas batch would carry that
column as float64 and round 2^62 + 3 to 2^62."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from baseline_magician_spark.operators.cdc import cdc_chunks
from baseline_magician_spark.operators.dedup import (
    minhash_band_relation,
    shingle_hash_relation,
    shingle_term_relation,
    simhash_relation,
)
from baseline_magician_spark.operators.similarity import (
    _ivf_assign_relation,
    _ivf_probe_relation,
    _lsh_bucket_relation,
    _pairwise_score_relation,
    pq_codebooks_from_seeds,
    pq_encode,
)

# three ids have no exact float64; 7 and the int64 minimum do
IDS = [2**62 + 3, None, 2**53 + 1, -(2**62) - 5, 7, -(2**63)]
TEXT = "the quick brown fox jumps over the lazy dog"


def _vec(i: int) -> list[float]:
    return [float((i * 7 + j) % 5 - 2) + 0.5 for j in range(4)]


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(v, i, _vec(i)) for i, v in enumerate(IDS)]
    # one partition, so the NULL and the big ids share one Arrow batch
    return spark.createDataFrame(
        rows, "vec_id long, tag long, embedding array<double>"
    ).coalesce(1)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(v, f"{TEXT} {i}") for i, v in enumerate(IDS)]
    return spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)


def _cents():
    return [(i, _vec(i)) for i in range(3)]


STAGES = {
    "pq_encode": lambda e, d: pq_encode(
        e, pq_codebooks_from_seeds(_cents(), m=2)
    ).select(F.col("vec_id").alias("id")),
    "ivf_assign": lambda e, d: _ivf_assign_relation(
        e, _cents(), "vec_id", "embedding", keep_vec=True, with_sim=True,
        top2=True, codebooks=pq_codebooks_from_seeds(_cents(), m=2),
    ).select(F.col("_id").alias("id")),
    "ivf_probe": lambda e, d: _ivf_probe_relation(
        e, _cents(), 2, "vec_id", "embedding"
    ).select(F.col("query_id").alias("id")),
    "lsh_bucket": lambda e, d: _lsh_bucket_relation(
        e.select(F.col("tag").alias("t"), F.col("vec_id").alias("id"), "embedding"),
        keep=("t", "id"), vec_col="embedding",
    ),
    "pairwise_score": lambda e, d: _pairwise_score_relation(
        e.select(F.col("vec_id").alias("id"), "embedding",
                 F.col("embedding").alias("e2")),
        "embedding", "e2", "_s", "l2",
    ),
    "minhash_band": lambda e, d: minhash_band_relation(
        d, "text", "doc_id"
    ).select(F.col("_id").alias("id")),
    "shingle_hash": lambda e, d: shingle_hash_relation(
        d, "text", "doc_id"
    ).select(F.col("_id").alias("id")),
    "shingle_term": lambda e, d: shingle_term_relation(
        d, "text", id_cols=("doc_id",)
    ).select(F.col("doc_id").alias("id")),
    "simhash": lambda e, d: simhash_relation(d, "text", "doc_id").select(
        F.col("_id").alias("id")
    ),
    "cdc_chunks": lambda e, d: cdc_chunks(d).select(F.col("doc_id").alias("id")),
}


@pytest.mark.parametrize("stage", sorted(STAGES))
def test_bigint_ids_and_null_pass_through_bit_for_bit(emb, docs, stage):
    out = STAGES[stage](emb, docs)
    assert dict(out.dtypes)["id"] == "bigint"
    got = {r["id"] for r in out.collect()}
    assert got == set(IDS)


def test_passthrough_keeps_every_other_column(emb):
    """The non-id passthrough columns are the input's Arrow values too."""
    got = [
        tuple(r)
        for r in _lsh_bucket_relation(
            emb, keep=("vec_id", "tag", "embedding"), vec_col="embedding"
        )
        .drop("_bucket")
        .collect()
    ]
    want = [(v, i, _vec(i)) for i, v in enumerate(IDS)]
    assert sorted(got, key=str) == sorted(want, key=str)
