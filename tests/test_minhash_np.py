"""The numpy MinHash, shingle and SimHash relations must be row-identical
to references that do not call them: the kept Spark expressions
(``shingle_hashes``, ``simhash_of_hashes`` over ``tokens``/``poly_hash``)
and, for MinHash, a Python min/band fold over the collected shingle
hashes — same tokenizer, same codepoint stream, same fold constants."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from baseline_magician_spark.functions.hashing import (
    POLY_MOD,
    minhash_params,
    poly_hash,
    shingle_hashes,
    tokens,
)
from baseline_magician_spark.operators.dedup import (
    minhash_band_relation,
    minhash_lsh_pairs,
    shingle_hash_relation,
    simhash_of_hashes,
    simhash_relation,
)

ADVERSARIAL = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, ""),
    (4, None),
    (5, "   "),
    (6, "one two"),  # < shingle_n tokens -> no shingles
    (7, "one two three"),  # exactly one shingle
    (8, "  leading and trailing   spaces padded   "),
    (9, "tabs\tand\nnewlines\x0bvertical\ffeed\rreturn split"),
    (10, "unicode éè€ tokens 你好世界 mixed ascii"),
    (11, "emoji \U0001f600 astral \U0001d11e plane tokens here"),
    (12, "nbsp is not java whitespace so it glues tokens"),
    (13, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    (14, "repeat repeat repeat repeat repeat repeat repeat"),
    (15, "x" * 400 + " tail token stream"),  # one very long token
    (16, "short a b"),
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def ref_bands(df, k=8, rows_per_band=2, n=3):
    """(_id, band, bh) from each doc's collected shingle hashes."""
    out = []
    for doc_id, hs in df.select("doc_id", shingle_hashes("text", n)).collect():
        if not hs:
            continue  # no shingles -> no bands
        sig = [min((h * a + b) % POLY_MOD for h in hs) for a, b in minhash_params(k)]
        for band in range(k // rows_per_band):
            bh = 7
            for r in range(rows_per_band):
                bh = (bh * 31 + sig[band * rows_per_band + r]) % POLY_MOD
            out.append((doc_id, band, bh))
    return sorted(out)


def ref_pairs(bands):
    """(doc_a, doc_b, n_shared_bands) for docs sharing a band bucket."""
    by_key: dict = {}
    for doc_id, band, bh in bands:
        by_key.setdefault((band, bh), []).append(doc_id)
    shared = Counter(
        (a, b) for ids in by_key.values() for a in ids for b in ids if a < b
    )
    return sorted((a, b, c) for (a, b), c in shared.items())


@pytest.fixture(scope="module")
def adv_df(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id int, text string")


@pytest.fixture(scope="module")
def docs(spark):
    from tests.conftest import SF_SMOKE

    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_band_relation_adversarial(adv_df):
    want = ref_bands(adv_df)
    assert _rows(minhash_band_relation(adv_df, "text", "doc_id")) == want
    assert len(want) > 0


def test_band_relation_documents(docs):
    want = ref_bands(docs)
    assert _rows(minhash_band_relation(docs, "text", "doc_id")) == want
    assert len(want) > 0


def test_lsh_pairs_documents(docs):
    want = ref_pairs(ref_bands(docs))
    assert _rows(minhash_lsh_pairs(docs, "text", "doc_id")) == want
    assert len(want) > 0


def test_band_relation_string_ids(spark):
    df = spark.createDataFrame(
        [(f"id-{i}", t) for i, t in ADVERSARIAL if t],
        "doc_id string, text string",
    )
    assert _rows(minhash_band_relation(df, "text", "doc_id")) == ref_bands(df)


def test_band_relation_nondefault_params(adv_df):
    got = _rows(
        minhash_band_relation(
            adv_df, "text", "doc_id", k=6, rows_per_band=3, shingle_n=2
        )
    )
    assert got == ref_bands(adv_df, k=6, rows_per_band=3, n=2)


def test_shingle_relation(adv_df, docs):
    for df, ns in ((adv_df, (3,)), (docs, (2, 3, 5))):
        for n in ns:
            want = _rows(
                df.select(
                    F.col("doc_id").alias("_id"),
                    F.explode(shingle_hashes("text", n)).alias("h"),
                )
            )
            assert _rows(shingle_hash_relation(df, "text", "doc_id", n=n)) == want
            assert len(want) > 0


def _simhash_expr(df, bits):
    return df.select(
        F.col("doc_id").alias("_id"),
        simhash_of_hashes(
            F.transform(tokens("text"), lambda t: poly_hash(t)), bits
        ).alias("sh"),
    )


def test_simhash_relation(adv_df, docs):
    got = _rows(simhash_relation(adv_df, "text", "doc_id"))
    assert got == _rows(_simhash_expr(adv_df, 30))
    # degenerate rows really exercised: a NULL text and a no-token doc
    by_id = {r[0]: r[1] for r in got}
    assert by_id[4] is None  # NULL text -> NULL fingerprint
    assert by_id[5] == (1 << 30) - 1  # zero tokens -> all bits set

    for bits in (30, 20):
        got = _rows(simhash_relation(docs, "text", "doc_id", bits=bits))
        assert got == _rows(_simhash_expr(docs, bits))


def test_string_and_null_ids_adversarial(spark):
    """String ids (empty and non-BMP among them) and a NULL id pass
    through every text kernel as their Arrow values; a NULL text reads
    as empty for the shingle kernels and gives a NULL SimHash."""
    ids = ["", "\U0001f600", None, "é"]  # ids of ADVERSARIAL's first 4 rows
    df = spark.createDataFrame(
        [(ids[i] if i < len(ids) else f"id-{d}", t) for i, (d, t) in enumerate(ADVERSARIAL)],
        "doc_id string, text string",
    ).coalesce(1)

    def rows(d):
        return sorted((tuple(r) for r in d.collect()), key=repr)

    assert rows(minhash_band_relation(df, "text", "doc_id")) == sorted(ref_bands(df), key=repr)
    want = df.select(
        F.col("doc_id").alias("_id"), F.explode(shingle_hashes("text", 3)).alias("h")
    )
    assert rows(shingle_hash_relation(df, "text", "doc_id")) == rows(want)
    got = rows(simhash_relation(df, "text", "doc_id"))
    assert got == rows(_simhash_expr(df, 30))
    assert ("é", None) in got  # NULL text -> NULL fingerprint
    assert (None, (1 << 30) - 1) in got  # NULL id, empty text
