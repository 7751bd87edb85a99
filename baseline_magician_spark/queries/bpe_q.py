"""BPE tokenizer queries: iterated training, token-exact encoding,
and exact-count sequence packing (round 11 — the last approximated
LLM-pipeline primitive made exact, VERDICT r10 task 1).

Oracle strategy: DuckDB REPLAYS the training loop as a chain of
MATERIALIZED CTEs — one (pair-count -> argmax -> merge) triple per
rank, the merge applied with ``list_reduce`` over the same
left-to-right fold the Spark side runs in the JVM. MATERIALIZED is
load-bearing: DuckDB inlines plain CTEs, and each state is referenced
twice (pair counts + next state), so without it the plan doubles per
rank. The final state ``v{N}`` doubles as the ENCODE oracle — each
word's symbol sequence after all merges is its encoding — while the
Spark side encodes via the ranked merge-table fold, an independent
path, so a train/encode disagreement cannot cancel out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_for_compute
from ..functions.hashing import tokens_duckdb
from ..local_frame import local_frame
from ..operators.bpe import bpe_train, bpe_vocab, doc_token_counts
from ..operators.packing import pack_sequences
from ..registry import query

N_MERGES = 16
PACK_CTX_LEN = 512
PACK_BUCKETS = 8

_TOK = tokens_duckdb("text")


def _train_cte(n: int = N_MERGES) -> str:
    """The shared chained-CTE training replay: ``v0`` is the
    symbolized vocab relation; each rank adds ``p{i}`` (weighted
    adjacent-pair counts), ``m{i}`` (argmax pair, ties lexicographic
    on (a, b) — UTF-8 binary order in both engines), and ``v{i}``
    (the merged state). Assumes the corpus never exhausts its pairs
    within ``n`` ranks (an empty ``m{i}`` would empty every later
    state via the cross join) — true for any corpus with >= n+1
    distinct adjacent pairs."""
    parts = [
        f"""
    v0 AS MATERIALIZED (
      SELECT word, count(*) AS c, string_split(word, '') AS syms
      FROM (SELECT unnest({_TOK}) AS word FROM documents)
      GROUP BY word
    )"""
    ]
    for i in range(1, n + 1):
        p = i - 1
        parts.append(
            f"""
    p{i} AS (
      SELECT pr.a AS a, pr.b AS b, sum(c) AS f FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                      k -> struct_pack(a := syms[k], b := syms[k+1])))
                 AS pr, c
        FROM v{p} WHERE len(syms) >= 2) GROUP BY 1, 2
    ),
    m{i} AS MATERIALIZED (
      SELECT {i} AS rank, a, b, CAST(f AS BIGINT) AS pair_freq
      FROM p{i} ORDER BY f DESC, a, b LIMIT 1
    ),
    v{i} AS MATERIALIZED (
      SELECT word, c,
        list_reduce(list_transform(syms, s -> [s]),
          (acc, x) -> CASE
            WHEN len(acc) > 0 AND acc[-1] = m.a AND x[1] = m.b
            THEN list_append(acc[:len(acc)-1], m.a || m.b)
            ELSE list_concat(acc, x) END) AS syms
      FROM v{p} CROSS JOIN m{i} m
    )"""
        )
    return "WITH " + ",".join(parts)


def _train_oracle() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM m{i}" for i in range(1, N_MERGES + 1)
    )
    return _train_cte() + "\n" + union


@query("text_bpe_train", _train_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE training: the ranked merge table
    (rank, a, b, pair_freq) learned from the documents corpus.

    One corpus tokenize collapses to the distinct-word relation; all
    {N_MERGES} iterations run on that vocab-sized frame with a 1-row
    argmax round-trip each (operators/bpe.py::bpe_train — the scale
    rationale lives there). The result is the merge table itself:
    vocabulary metadata, a few rows per rank, exactly what a 100 TB
    run would persist and ship to every encode site."""
    docs = load_for_compute(spark, sf_dir, "documents")
    merges, _state = bpe_train(bpe_vocab(docs), N_MERGES)
    return local_frame(
        spark, merges, "rank int, a string, b string, pair_freq bigint"
    )


def _encode_oracle() -> str:
    return (
        _train_cte()
        + f""",
    wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe
           FROM v{N_MERGES}),
    toks AS (SELECT doc_id, source, unnest({_TOK}) AS word
             FROM documents),
    per_doc AS (
      SELECT doc_id, any_value(source) AS source,
             count(*) AS ws_n, CAST(sum(n_bpe) AS BIGINT) AS bpe_n
      FROM toks JOIN wl USING (word)
      GROUP BY doc_id
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(ws_n) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe_n) AS BIGINT) AS bpe_tokens,
           md5(string_agg(doc_id || ':' || bpe_n, ';' ORDER BY doc_id))
             AS count_digest
    FROM per_doc
    GROUP BY source
    """
    )


@query("text_bpe_encode_counts", _encode_oracle())
def text_bpe_encode_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-EXACT corpus accounting: train the merge table, encode
    the distinct words through the ranked merge-table fold (NOT the
    training replay — independent path, see module docstring), and
    roll exact per-document counts up per source, with a per-source
    digest over the sorted (doc_id, count) pairs so every document's
    exact count is hash-checked without shipping 500 rows.

    ws_tokens (the whitespace count every round <= 10 budgeted with)
    rides along: the bpe/ws ratio IS the correction factor the
    mixture and packing plans were missing.

    Single-scan shape (optimization round 11): ws_n is just the
    per-document row count of the SAME token explode the exact counts
    ride on (``n_tokens == size(tokens)``), so the former separate
    corpus scan + doc_id join for the whitespace count collapses into
    the one explode → broadcast-join → per-doc aggregate — mirroring
    the oracle's own ``toks JOIN wl`` shape. The word list the encode
    runs over comes from the TRAINING state (``bpe_train`` already
    collapsed the corpus to its distinct words), not from a second
    tokenize + groupBy of the corpus; the encode itself stays the
    independent ranked merge-table fold — only the word LIST is
    shared, never the training replay's symbol sequences."""
    from ..functions.hashing import tokens
    from ..operators.bpe import word_token_counts

    docs = load_for_compute(spark, sf_dir, "documents")
    merges, state = bpe_train(bpe_vocab(docs), N_MERGES)
    toks = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("word")
    )
    lens = word_token_counts(state.select("word"), merges)
    per_doc = (
        toks.join(F.broadcast(lens), "word")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.count(F.lit(1)).cast("long").alias("ws_n"),
            F.sum("n_bpe").cast("long").alias("n_tok_exact"),
        )
    )
    pair = F.struct(
        F.col("doc_id"),
        F.concat_ws(
            ":", F.col("doc_id"), F.col("n_tok_exact")
        ).alias("s"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_n").cast("long").alias("ws_tokens"),
        F.sum("n_tok_exact").cast("long").alias("bpe_tokens"),
        F.md5(
            F.concat_ws(
                ";",
                F.transform(
                    F.array_sort(F.collect_list(pair)),
                    lambda x: x["s"],
                ),
            ).cast("binary")
        ).alias("count_digest"),
    )


def _packing_oracle() -> str:
    return (
        _train_cte()
        + f""",
    wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe
           FROM v{N_MERGES}),
    t AS (
      SELECT doc_id, doc_id % {PACK_BUCKETS} AS bucket,
             CAST(sum(n_bpe) AS BIGINT) AS n_tok
      FROM (SELECT doc_id, unnest({_TOK}) AS word FROM documents)
      JOIN wl USING (word)
      GROUP BY doc_id
    ),
    nz AS (SELECT * FROM t WHERE n_tok > 0),
    w AS (
      SELECT *,
             CAST(COALESCE(SUM(n_tok) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS start_offset
      FROM nz
    )
    SELECT doc_id, bucket, n_tok, start_offset,
           start_offset // {PACK_CTX_LEN} AS chunk_start,
           (start_offset + n_tok - 1) // {PACK_CTX_LEN} AS chunk_end
    FROM w
    """
    )


@query("pipeline_packing_exact_tokens", _packing_oracle())
def pipeline_packing_exact_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequence packing on token-EXACT counts: the concat-and-chunk
    span assignment (operators/packing.py::pack_sequences — one
    uniform bucket shuffle, one window cumsum) fed by BPE-encoded
    counts instead of the whitespace estimate. A packing plan is the
    first consumer that actually CORRUPTS under approximate counts —
    every downstream chunk boundary shifts — so this is the row that
    proves the exact counts compose. (The former
    ``docs.select("doc_id").join(counts)`` was a no-op join — the
    count relation's ids are a subset of docs by construction — and
    is gone as of optimization round 11; the encode's word list is
    likewise reused from the training state instead of a second
    corpus tokenize + groupBy, see text_bpe_encode_counts.)"""
    from ..operators.bpe import word_token_counts

    docs = load_for_compute(spark, sf_dir, "documents")
    merges, state = bpe_train(bpe_vocab(docs), N_MERGES)
    counts = doc_token_counts(
        docs,
        merges,
        word_lens=word_token_counts(state.select("word"), merges),
    )
    return pack_sequences(
        counts,
        F.col("n_tok_exact"),
        ctx_len=PACK_CTX_LEN,
        n_buckets=PACK_BUCKETS,
    )
