"""BPE training/encoding: fold semantics, train determinism, and the
rank-order encode against the min-rank fixpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from baseline_magician_spark.operators.bpe import (
    bpe_encode,
    bpe_train,
    bpe_vocab,
    doc_token_counts,
    merge_pair,
)

from conftest import SF_SMOKE


def _ref_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Python reference: left-to-right non-overlapping pair merge."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_encode(word: str, merges) -> list[str]:
    syms = list(word)
    for _r, a, b, _f in merges:
        syms = _ref_merge(syms, a, b)
    return syms


@pytest.mark.parametrize(
    "word,a,b",
    [
        ("abab", "a", "b"),
        ("aaa", "a", "a"),  # overlap: left-to-right -> [aa, a]
        ("aaaa", "a", "a"),
        ("xbab", "b", "a"),
        ("x", "a", "b"),
        ("ab", "a", "b"),
        ("ba", "a", "b"),
    ],
)
def test_merge_pair_matches_reference(spark, word, a, b):
    row = (
        spark.range(1)
        .select(
            merge_pair(F.split(F.lit(word), ""), a, b).alias("m")
        )
        .collect()[0]
    )
    assert row["m"] == _ref_merge(list(word), a, b)


def test_train_is_deterministic_and_ranked(spark):
    from baseline_magician_spark.catalog import load_for_compute

    docs = load_for_compute(spark, SF_SMOKE, "documents")
    vocab = bpe_vocab(docs)
    m1, _ = bpe_train(vocab, 6)
    m2, _ = bpe_train(vocab, 6)
    assert m1 == m2
    assert [r for r, *_ in m1] == list(range(1, len(m1) + 1))
    # each merge's components exist: either single chars or the
    # output of an earlier-ranked merge
    known = set()
    for _r, a, b, f in m1:
        assert f > 0
        for side in (a, b):
            assert len(side) == 1 or side in known
        known.add(a + b)


def test_train_driver_path_equals_distributed_path(spark):
    """The round-11 driver fast path (vocab collected once, merges
    computed in-process with incremental pair counts) must make the
    exact same merge decisions — ranks, pairs, frequencies, final
    state — as the distributed per-iteration loop it shortcuts."""
    from baseline_magician_spark.catalog import load_for_compute

    docs = load_for_compute(spark, SF_SMOKE, "documents")
    vocab = bpe_vocab(docs)
    m_driver, s_driver = bpe_train(vocab, 8)
    m_dist, s_dist = bpe_train(vocab, 8, driver_vocab_cap=0)
    assert m_driver == m_dist
    rows_driver = {r["word"]: r["syms"] for r in s_driver.collect()}
    rows_dist = {r["word"]: r["syms"] for r in s_dist.collect()}
    assert rows_driver == rows_dist


def test_train_driver_cap_falls_back_to_distributed(spark):
    """A vocab larger than the cap must take the distributed loop
    (cap+1-row probe collect) and still produce identical merges."""
    vocab = spark.createDataFrame(
        [("abab", 4), ("abc", 2), ("bc", 1)], "word string, c long"
    )
    m_small_cap, _ = bpe_train(vocab, 4, driver_vocab_cap=2)
    m_driver, _ = bpe_train(vocab, 4)
    assert m_small_cap == m_driver


def test_train_early_stop_on_exhausted_pairs(spark):
    vocab = spark.createDataFrame([("ab", 3), ("cd", 1)], "word string, c long")
    merges, state = bpe_train(vocab, 50)
    # 2 merges fully fuse both words; no pairs remain
    assert len(merges) == 2
    rows = {r["word"]: r["syms"] for r in state.collect()}
    assert rows == {"ab": ["ab"], "cd": ["cd"]}


def test_encode_column_equals_training_replay(spark):
    """The ranked merge-table fold must reproduce the training final
    state exactly — the independence argument the driver oracle
    leans on (queries/bpe_q.py module docstring)."""
    from baseline_magician_spark.catalog import load_for_compute

    docs = load_for_compute(spark, SF_SMOKE, "documents")
    vocab = bpe_vocab(docs)
    merges, state = bpe_train(vocab, 10)
    enc = vocab.select(
        "word", bpe_encode(F.col("word"), merges).alias("syms")
    )
    got = {r["word"]: r["syms"] for r in enc.collect()}
    want = {r["word"]: r["syms"] for r in state.collect()}
    assert got == want


def test_encode_min_rank_fixpoint_edge(spark):
    """A later merge must not unlock an earlier one (rank-order
    single pass == min-rank fixpoint): construct the classic case
    where pair (1) 'e'+'r' and (2) 'er'+'t' interact in 'erert'."""
    merges = [(1, "e", "r", 9), (2, "er", "t", 5), (3, "er", "er", 4)]
    words = spark.createDataFrame(
        [("erert",), ("ererert",), ("tert",)], "word string"
    )
    jvm = {
        r["word"]: r["syms"]
        for r in words.select(
            "word", bpe_encode(F.col("word"), merges).alias("syms")
        ).collect()
    }
    # rank 2 (er+t) outranks rank 3 (er+er): e r e r t -> [er, er, t]
    # -> [er, ert]; the rank-3 merge then finds no (er, er) adjacency
    assert jvm["erert"] == ["er", "ert"]
    assert jvm["ererert"] == ["erer", "ert"]


def test_doc_token_counts_sum_matches_vocab_arithmetic(spark):
    from baseline_magician_spark.catalog import load_for_compute
    from baseline_magician_spark.functions.hashing import tokens

    docs = load_for_compute(spark, SF_SMOKE, "documents")
    vocab = bpe_vocab(docs)
    merges, state = bpe_train(vocab, 8)
    total = (
        doc_token_counts(docs, merges)
        .agg(F.sum("n_tok_exact"))
        .collect()[0][0]
    )
    # corpus total == sum over vocab of count * encoded length
    want = state.select(
        F.sum(F.col("c") * F.size(F.col("syms")))
    ).collect()[0][0]
    assert total == want
    # and every doc's exact count is <= ... >= its whitespace count
    bad = (
        doc_token_counts(docs, merges)
        .join(
            docs.select(
                "doc_id", F.size(tokens("text")).alias("ws")
            ),
            "doc_id",
        )
        .where(F.col("n_tok_exact") < F.col("ws"))
        .count()
    )
    assert bad == 0

def test_doc_token_counts_shared_word_lens_identical(spark):
    """Optimization round 11: passing the training state's word list
    as ``word_lens`` (skipping the second corpus tokenize + groupBy)
    must be row-identical to the rebuild-from-corpus default."""
    from baseline_magician_spark.catalog import load_for_compute
    from baseline_magician_spark.operators.bpe import word_token_counts

    docs = load_for_compute(spark, SF_SMOKE, "documents")
    merges, state = bpe_train(bpe_vocab(docs), 8)
    base = sorted(
        tuple(r) for r in doc_token_counts(docs, merges).collect()
    )
    shared = sorted(
        tuple(r)
        for r in doc_token_counts(
            docs,
            merges,
            word_lens=word_token_counts(state.select("word"), merges),
        ).collect()
    )
    assert base == shared and len(base) > 0
