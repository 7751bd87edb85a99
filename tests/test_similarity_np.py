"""The numpy ANN kernels must produce exactly the doubles of a pure-Python
left-to-right fold, and order every argmax/argmin/sort by
java.lang.Double.compare with ties to the lowest id. Raw (unrounded)
values are compared bit for bit; rounding stays JVM-side in all
callers, and the DuckDB oracles pin the operators end to end."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from baseline_magician_spark.operators.similarity import (
    _HP_A,
    _HP_B,
    _HP_MOD,
    _ivf_assign_relation,
    _ivf_probe_relation,
    _lsh_bucket_relation,
    _pairwise_score_relation,
    ivf_cell_report,
    pq_codebooks_from_seeds,
    pq_encode,
)

DIM = 8


# ------------------------------------------------ pure-Python reference
def dkey(x: float) -> int:
    """java.lang.Double.compare order: -0.0 < 0.0, NaN above +inf."""
    b = struct.unpack(">q", struct.pack(">d", math.nan if x != x else x))[0]
    return b ^ 0x7FFF_FFFF_FFFF_FFFF if b < 0 else b


def fold(terms) -> float:
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def ref_norm(a):
    return math.sqrt(fold(x * x for x in a))


def ref_cos(a, b):
    return fold(x * y for x, y in zip(a, b)) / (ref_norm(a) * ref_norm(b))


def ref_l2(a, b):
    return fold((x - y) * (x - y) for x, y in zip(a, b))


def ref_ranked(v, cents):
    """Centroid ids by cosine DESC, cid ASC, with their cosines."""
    scored = [(ref_cos(v, c), cid) for cid, c in cents]
    return sorted(scored, key=lambda s: (-dkey(s[0]), s[1]))


def ref_pq(v, books):
    """(codes, recon): per subspace the argmin-L2 code, lowest code on ties."""
    sub = len(books[0][0][1])
    best = [
        min(cb, key=lambda e: (dkey(ref_l2(v[j * sub:(j + 1) * sub], e[1])), e[0]))
        for j, cb in enumerate(books)
    ]
    return [c for c, _ in best], [float(x) for _, cv in best for x in cv]


def ref_bucket(v, n_planes, center):
    mean = fold(v) / len(v) if center else 0.0
    half = (_HP_MOD - 1) // 2
    bucket = 0
    for p in range(n_planes):
        comp = [float((_HP_A * p + _HP_B * d) % _HP_MOD - half) for d in range(len(v))]
        proj = fold((x - mean) * c for x, c in zip(v, comp))
        bucket |= (proj >= 0 or proj != proj) << p
    return bucket


# --------------------------------------------------------------- fixtures
def _mkvec(seed: int) -> list[float]:
    # deterministic, sign-mixed; every 7th row is the same vector
    return [
        math.sin(seed * 31 + j) if seed % 7 else 0.25 * (j % 3 - 1)
        for j in range(DIM)
    ]


@pytest.fixture(scope="module")
def emb(spark):
    rows = [(i, _mkvec(i)) for i in range(64)]
    # an exact duplicate (cosine ties) and a negated duplicate (cosine
    # -1 ties). NO zero vector: a zero norm divides by zero, which is
    # out of contract for the cosine operators.
    rows.append((64, rows[10][1]))
    rows.append((66, [-x for x in rows[12][1]]))
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    return df.select("vec_id", F.col("v").alias("embedding"))


@pytest.fixture(scope="module")
def vecs(emb):
    """{id: vector} as the kernels see it (float32 widened to double)."""
    return {int(r[0]): list(r[1]) for r in emb.collect()}


@pytest.fixture(scope="module")
def cents(vecs):
    # ids 0 and 7 carry the same vector: every centroid argmax over the
    # 7k rows is an exact tie that must go to cid 0
    return [(i, vecs[i]) for i in range(8)]


@pytest.fixture(scope="module")
def books(cents):
    return pq_codebooks_from_seeds(cents, m=2)


def _exact(v):
    """Hashable, bit-exact form of a collected value (-0.0 != 0.0)."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, list):
        return tuple(_exact(x) for x in v)
    return v


def _rows(df):
    return sorted(tuple(_exact(x) for x in r) for r in df.collect())


def _pin(df, want):
    want = sorted(tuple(_exact(x) for x in r) for r in want)
    assert _rows(df) == want
    assert len(want) > 0


# ------------------------------------------------------------------ pins
@pytest.mark.parametrize("k", [8, 1])
def test_ivf_assign_relation(emb, vecs, cents, k):
    cs = cents[:k]
    ranked = {i: ref_ranked(v, cs) for i, v in vecs.items()}
    _pin(
        _ivf_assign_relation(emb, cs, "vec_id", "embedding"),
        [(i, r[0][1]) for i, r in ranked.items()],
    )
    _pin(
        _ivf_assign_relation(
            emb, cs, "vec_id", "embedding", with_sim=True, top2=True
        ),
        [
            (i, r[0][1], r[0][0], r[1][0] if k > 1 else None)
            for i, r in ranked.items()
        ],
    )


def test_ivf_assign_relation_with_codebooks(emb, vecs, cents, books):
    _pin(
        _ivf_assign_relation(
            emb, cents, "vec_id", "embedding", keep_vec=True, codebooks=books
        ),
        [
            (i, v, ref_ranked(v, cents)[0][1], ref_pq(v, books)[1])
            for i, v in vecs.items()
        ],
    )


def test_ivf_probe_relation(emb, vecs, cents):
    _pin(
        _ivf_probe_relation(emb, cents, 3, "vec_id", "embedding"),
        [
            (i, v, cid)
            for i, v in vecs.items()
            for _c, cid in ref_ranked(v, cents)[:3]
        ],
    )


def test_pq_encode(emb, vecs, books):
    _pin(
        pq_encode(emb, books),
        [(i, *ref_pq(v, books)) for i, v in vecs.items()],
    )


@pytest.mark.parametrize("metric,ref", [("cos", ref_cos), ("l2", ref_l2)])
def test_pairwise_score_relation(emb, vecs, metric, ref):
    q = emb.where(F.col("vec_id") % 9 == 1).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pairs = emb.crossJoin(q)
    qids = sorted(i for i in vecs if i % 9 == 1)
    _pin(
        _pairwise_score_relation(pairs, "embedding", "qv", "_s", metric),
        [(i, j, ref(vecs[i], vecs[j])) for i in vecs for j in qids],
    )


@pytest.mark.parametrize("center", [False, True])
def test_lsh_bucket_relation(emb, vecs, center):
    _pin(
        _lsh_bucket_relation(
            emb,
            keep=("vec_id",),
            vec_col="embedding",
            n_planes=8,
            center=center,
            with_norm=True,
        ),
        [(i, ref_norm(v), ref_bucket(v, 8, center)) for i, v in vecs.items()],
    )


def test_cell_report_single_centroid_null_c2(emb, cents):
    # K = 1: every vector lands in the one cell and the runner-up
    # cosine is NULL, so the runner-up columns are NULL
    rows = ivf_cell_report(emb, cents[:1]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["cell"], r["n_vectors"]) == (0, emb.count())
    assert r["mean_top1_cos"] is not None
    assert r["mean_top2_cos"] is None and r["mean_margin"] is None
    assert dict(ivf_cell_report(emb, cents[:1]).dtypes)["cell"] == "int"


def test_on_real_embeddings(spark):
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = {int(r[0]): list(r[1]) for r in emb.select("vec_id", "embedding").collect()}
    cents = [(i, vecs[i]) for i in range(16)]
    books = pq_codebooks_from_seeds(cents, m=4)
    _pin(
        _ivf_assign_relation(
            emb, cents, "vec_id", "embedding", with_sim=True, codebooks=books
        ),
        [
            (i, cid, cos, ref_pq(v, books)[1])
            for i, v in vecs.items()
            for cos, cid in ref_ranked(v, cents)[:1]
        ],
    )
    _pin(
        _lsh_bucket_relation(
            emb, keep=("vec_id",), vec_col="embedding", center=True
        ),
        [(i, ref_bucket(v, 8, True)) for i, v in vecs.items()],
    )


def test_dkeys_total_order():
    import numpy as np

    from baseline_magician_spark.operators.similarity import _np_dkeys

    vals = np.array(
        [float("nan"), float("inf"), 1.5, 1.5000000000000002, 0.0,
         -0.0, -1.5, float("-inf"), 5e-324, -5e-324]
    )
    keys = _np_dkeys(vals)
    order = [vals[i] for i in np.argsort(keys, kind="stable")]
    # java.lang.Double.compare order: -inf < -1.5 < -min < -0.0 < 0.0
    # < +min < 1.5 < next(1.5) < inf < NaN
    want = [float("-inf"), -1.5, -5e-324, -0.0, 0.0, 5e-324, 1.5,
            1.5000000000000002, float("inf"), float("nan")]
    assert [str(x) for x in order] == [str(x) for x in want]
    # -0.0 sorts strictly below 0.0
    assert struct.pack(">d", order[3]) == struct.pack(">d", -0.0)
    # the reference key gives the same order
    assert [str(x) for x in sorted(vals.tolist(), key=dkey)] == [
        str(x) for x in want
    ]
