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


def ieee_div(a: float, b: float) -> float:
    """a / b in IEEE arithmetic: x/0 is ±inf and 0/0 NaN, where Python
    raises."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        return float(np.float64(a) / np.float64(b))


def ref_cos(a, b):
    return ieee_div(fold(x * y for x, y in zip(a, b)), ref_norm(a) * ref_norm(b))


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
    # -1 ties); the zero vector and other edge values are in ADV below
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


# --------------------------------------------------- adversarial rows
NAN, INF = float("nan"), float("inf")
ADV = {
    # a zero-norm vector: every cosine is 0/0 = NaN, kept as NaN
    "zero": [0.0] * DIM,
    "neg-zero": [-0.0] * DIM,
    "signed-zeros": [0.0, -0.0] * (DIM // 2),
    "nan-element": [NAN] + [0.5] * (DIM - 1),
    "inf-element": [INF] + [-0.5] * (DIM - 1),
    "tiny": [5e-324, -5e-324] * (DIM // 2),
    "\U0001f600 astral id": _mkvec(3),
    "": _mkvec(5),  # the empty string is an id like any other
}


@pytest.fixture(scope="module")
def adv(spark):
    return spark.createDataFrame(
        list(ADV.items()), "vec_id string, embedding array<double>"
    ).coalesce(1)


def test_adversarial_rows_equal_the_folds(adv, cents, books):
    _pin(
        _ivf_assign_relation(
            adv, cents, "vec_id", "embedding", with_sim=True, top2=True,
            codebooks=books,
        ),
        [
            (i, r[0][1], r[0][0], r[1][0], ref_pq(v, books)[1])
            for i, v in ADV.items()
            for r in [ref_ranked(v, cents)]
        ],
    )
    _pin(
        _ivf_probe_relation(adv, cents, 3, "vec_id", "embedding"),
        [(i, v, cid) for i, v in ADV.items() for _c, cid in ref_ranked(v, cents)[:3]],
    )
    _pin(pq_encode(adv, books), [(i, *ref_pq(v, books)) for i, v in ADV.items()])
    for center in (False, True):
        _pin(
            _lsh_bucket_relation(
                adv, keep=("vec_id",), vec_col="embedding", center=center,
                with_norm=True,
            ),
            [(i, ref_norm(v), ref_bucket(v, 8, center)) for i, v in ADV.items()],
        )
    pairs = adv.crossJoin(adv.select(F.col("vec_id").alias("q"), F.col("embedding").alias("qv")))
    for metric, ref in (("cos", ref_cos), ("l2", ref_l2)):
        _pin(
            _pairwise_score_relation(pairs, "embedding", "qv", "_s", metric),
            [(i, j, ref(a, b)) for i, a in ADV.items() for j, b in ADV.items()],
        )


def test_zero_vector_cosine_is_nan_not_null(adv, cents):
    sims = {
        r["_id"]: r["_sim"]
        for r in _ivf_assign_relation(
            adv, cents, "vec_id", "embedding", with_sim=True
        ).collect()
    }
    assert sims["zero"] is not None and math.isnan(sims["zero"])
    scores = _pairwise_score_relation(
        adv.where(F.col("vec_id") == "zero").withColumn("qv", F.col("embedding")),
        "embedding", "qv", "_s", "cos",
    ).collect()
    assert scores[0]["_s"] is not None and math.isnan(scores[0]["_s"])


KERNELS = {
    "ivf_assign": lambda df, c, b: _ivf_assign_relation(df, c, "vec_id", "embedding"),
    "ivf_probe": lambda df, c, b: _ivf_probe_relation(df, c, 2, "vec_id", "embedding"),
    "pq_encode": lambda df, c, b: pq_encode(df, b),
    "lsh_bucket": lambda df, c, b: _lsh_bucket_relation(
        df, keep=("vec_id",), vec_col="embedding"
    ),
    "pairwise_score": lambda df, c, b: _pairwise_score_relation(
        df.withColumn("qv", F.col("embedding")), "embedding", "qv", "_s", "l2"
    ),
}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
@pytest.mark.parametrize(
    "bad,error",
    [
        (None, r"ValueError: {kernel}: \w+ is NULL"),
        ([1.0, None] + [0.0] * (DIM - 2), "NULL vector element"),
        ([1.0] * (DIM - 1), "ragged vectors"),
    ],
    ids=["null-vector", "null-element", "ragged"],
)
def test_bad_vectors_raise(spark, cents, books, kernel, bad, error):
    """A NULL vector raises the stage's named error; a NULL element or a
    ragged batch raises in the vector reader. None of them reads as
    zeros or NaN."""
    from pyspark.errors import PythonException

    df = spark.createDataFrame(
        [(1, _mkvec(1)), (2, bad)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    with pytest.raises(PythonException, match=error.format(kernel=kernel)):
        KERNELS[kernel](df, cents, books).collect()


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
