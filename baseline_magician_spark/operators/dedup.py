"""Deduplication operators for large-scale training-data pipelines.

Every variant keeps the expensive parts map-side:

- **exact**: hash-groupBy on md5(text). One shuffle on a uniform key.
- **MinHash + LSH**: signatures and band hashes are computed per row in
  one Arrow stage (``_arrow_stage.arrow_stage``, numpy over each batch) (shingle -> k permuted hashes -> min ->
  band hash) — NO explode/shuffle for signature computation, unlike
  the textbook unnest-and-regroup formulation. Only the tiny (doc,
  band, bandhash) relation shuffles for the LSH bucket self-join.
- **SimHash**: 30-bit fingerprint, again fully map-side per row.
- **n-gram Jaccard**: shared-shingle equi-join with a frequent-shingle
  cutoff (df > max_shingle_df dropped) so hot shingles cannot explode
  the candidate pair count at 100 TB.

Cross-engine determinism (for the DuckDB oracles) comes from the
polynomial hash in functions.hashing, not engine-native hashes.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.hashing import (
    POLY_BASE,
    POLY_MOD,
    POLY_SEED,
    minhash_params,
)
from ._arrow_stage import arrow_stage


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns (content_hash, n_copies, keep_id) with keep_id = min id —
    the canonical survivor policy.
    """
    h = F.md5(F.col(text_col).cast("binary")).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


_SPLIT_WS = re.compile("[ \t\n\x0b\f\r]+").split


def _tokens(s: str | None) -> list[str]:
    """The tokens of one text, as :func:`_token_hashes_np` defines them;
    a NULL text has none, like an empty one."""
    return [t for t in _SPLIT_WS(s.strip(" ")) if t] if s else []


def _token_hashes_np(texts):
    """Per-token (poly hash seed 0, 31^len mod p) for a batch of
    documents, flattened across docs — the shared numpy tokenizer +
    char-fold every vectorized text kernel builds on. Tokenization is
    value-identical to :func:`~..functions.hashing.tokens` (trim ASCII
    spaces, split on the Java-regex ``\\s`` class
    ``[ \\t\\n\\x0b\\f\\r]``, drop empties) and the codepoint stream
    matches Spark's ``split('')`` (Python ``str`` iterates
    codepoints). Heavy per-char work is one gather + multiply-add per
    char POSITION over the still-active (length-sorted) tokens, so
    total gathered work stays linear in total characters.

    Returns (th, pw, tok_counts): int64 per-token hashes, int64
    31^len table lookups, and per-doc token counts. th/pw are empty
    when the batch has no tokens.
    """
    tok_lists = [_tokens(s) for s in texts]
    tok_counts = np.fromiter(
        (len(ts) for ts in tok_lists), dtype=np.int64, count=len(tok_lists)
    )
    all_toks = [t for ts in tok_lists for t in ts]
    n_tok = len(all_toks)
    if n_tok == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, tok_counts

    mod = np.int64(POLY_MOD)
    tlens = np.fromiter(
        (len(t) for t in all_toks), dtype=np.int64, count=n_tok
    )
    joined = "".join(all_toks)
    codes = np.frombuffer(
        joined.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    offs = np.concatenate([[0], np.cumsum(tlens)[:-1]])
    th = np.zeros(n_tok, dtype=np.int64)
    order = np.argsort(tlens, kind="stable")  # active prefix trick
    th_s, offs_s, tlens_s = th[order], offs[order], tlens[order]
    max_len = int(tlens.max())
    for pos in range(max_len):
        start = int(np.searchsorted(tlens_s, pos + 1))
        sel = slice(start, n_tok)
        th_s[sel] = (
            th_s[sel] * POLY_BASE + codes[offs_s[sel] + pos]
        ) % mod
    th[order] = th_s
    pow_tab = np.ones(max_len + 1, dtype=np.int64)
    for i in range(1, max_len + 1):
        pow_tab[i] = pow_tab[i - 1] * POLY_BASE % POLY_MOD
    return th, pow_tab[tlens], tok_counts


def _shingle_hashes_np(texts, n: int):
    """Flattened poly-hashes of every n-gram token shingle for a batch
    of documents — the numpy rendering of :func:`shingle_hashes`
    (minus the ``array_distinct``, which callers that fold with min
    may skip), value-identical per shingle: same tokenizer and
    codepoint stream as :func:`_token_hashes_np`, same fold constants.
    Every arithmetic step stays < 2^63 (h < MOD ~ 1e9, h*pw < 1e18),
    so plain int64 is exact.

    Returns (sh, seg, n_sh): int64 shingle hashes flattened across
    docs, the per-doc segment starts into ``sh``, and the per-doc
    shingle counts (0 for docs with < n tokens).
    """
    th, pw, tok_counts = _token_hashes_np(texts)
    n_sh = np.maximum(tok_counts - (n - 1), 0)
    seg = np.concatenate([[0], np.cumsum(n_sh)[:-1]])
    if len(th) == 0 or int(n_sh.sum()) == 0:
        return np.zeros(0, dtype=np.int64), seg, n_sh
    mod = np.int64(POLY_MOD)

    # global token index of each shingle's first token
    tok_start = np.concatenate([[0], np.cumsum(tok_counts)[:-1]])
    first = np.repeat(tok_start, n_sh) + _ranges_np(n_sh)
    sh = np.full(first.shape, POLY_SEED, dtype=np.int64)
    space = np.int64(ord(" "))
    for j in range(n):
        if j:
            sh = (sh * POLY_BASE + space) % mod
        sh = (sh * pw[first + j] + th[first + j]) % mod
    return sh, seg, n_sh


def _ranges_np(counts):
    """[0..c0-1, 0..c1-1, ...] — per-segment position indices."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    out = np.arange(total, dtype=np.int64)
    return out - np.repeat(starts, counts)


def minhash_band_relation(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """(_id, band, bh) — one row per (document, LSH band): the bucket
    relation both sides of the LSH self-join consume. Docs with no
    shingles (< shingle_n tokens) emit nothing; a NULL text reads as
    empty, and the id passes through as its Arrow value, NULL included.

    Computed in ONE Arrow-batched numpy pass (guide §4.2 — the
    interpreted higher-order-function fold it replaced was the
    measured hot spot of every MinHash consumer at ~1.5-2 s per
    execution at sf0.1): signature row i is the minimum over the
    document's shingle hashes h of (h*a_i + b_i) % POLY_MOD
    (``minhash_params``), and band b folds its rows as
    bh = (bh*31 + sig) % POLY_MOD from 7.
    """
    if k % rows_per_band != 0:
        raise ValueError(
            f"rows_per_band={rows_per_band} must divide k={k}: the "
            f"trailing {k % rows_per_band} signature rows would be "
            "silently excluded from banding, lowering recall below "
            "what the parameters imply"
        )
    params = minhash_params(k)
    n_bands = k // rows_per_band
    mod = np.int64(POLY_MOD)
    schema = StructType(
        [
            StructField("_id", df.schema[id_col].dataType),
            StructField("band", IntegerType()),
            StructField("bh", LongType()),
        ]
    )

    def body(batch):
        sh, seg, n_sh = _shingle_hashes_np(batch.column("_t").to_pylist(), shingle_n)
        keep = np.flatnonzero(n_sh > 0)
        # k permuted mins per doc -> band hashes, all segment ops
        sig = np.empty((k, len(keep)), dtype=np.int64)
        for i, (a, b) in enumerate(params):
            perm = (sh * np.int64(a) + np.int64(b)) % mod
            sig[i] = np.minimum.reduceat(perm, seg[keep])
        bhs = np.empty((n_bands, len(keep)), dtype=np.int64)
        for b in range(n_bands):
            bh = np.full(len(keep), 7, dtype=np.int64)
            for r in range(rows_per_band):
                bh = (bh * POLY_BASE + sig[b * rows_per_band + r]) % mod
            bhs[b] = bh
        return [
            batch.column("_id").take(np.tile(keep, n_bands)),
            np.repeat(np.arange(n_bands, dtype=np.int32), len(keep)),
            bhs.reshape(-1),
        ]

    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    return arrow_stage(src, "minhash_band", schema, body)


def shingle_hash_relation(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """(_id, h) — the exploded DISTINCT shingle-hash relation (the
    per-doc distinct mirrors :func:`~..functions.hashing.shingle_hashes`'s
    ``array_distinct``, which the Jaccard set sizes and
    decontamination counts depend on). Docs with < n tokens emit
    nothing, like the empty-array explode; a NULL text reads as empty,
    and the id passes through as its Arrow value, NULL included.

    Computed in one Arrow-batched numpy pass (guide §4.2 — same
    measured hot spot as the MinHash signature fold); pinned against
    ``explode(shingle_hashes(...))`` in tests/test_minhash_np.py.
    """
    schema = StructType(
        [StructField("_id", df.schema[id_col].dataType), StructField("h", LongType())]
    )

    def body(batch):
        sh, _seg, n_sh = _shingle_hashes_np(batch.column("_t").to_pylist(), n)
        # per-doc distinct: one sort over (doc-index << 31 | h)
        # composite keys — ONLY sound while h < 2^31 (ADVICE r11
        # #3: raising POLY_MOD past 2^31 would silently corrupt
        # the distinct; fail loudly instead)
        assert POLY_MOD <= (1 << 31), (
            "shingle_hash_relation packs (doc_idx << 31) | h; "
            f"POLY_MOD={POLY_MOD} no longer fits 31 bits"
        )
        doc_idx = np.repeat(np.arange(len(n_sh), dtype=np.int64), n_sh)
        uniq = np.unique((doc_idx << np.int64(31)) | sh)
        return [
            batch.column("_id").take(uniq >> np.int64(31)),
            uniq & np.int64((1 << 31) - 1),
        ]

    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    return arrow_stage(src, "shingle_hash", schema, body)


def shingle_term_relation(
    df: DataFrame,
    text_col,
    id_cols: tuple[str, ...] = ("doc_id",),
    n: int = 3,
) -> DataFrame:
    """(id_cols..., term, _h) — each document's DISTINCT n-gram token
    shingle STRINGS plus their cross-engine poly hash, in one
    Arrow-batched pass (round 12, guide §4.2). ``_h`` equals
    ``poly_hash(term)`` exactly (the same concat-identity fold
    :func:`shingle_hashes` uses — every character hashed once), so
    Bloom/CMS-style consumers skip the interpreted per-term char fold
    entirely while keeping the term string for exact joins. The
    distinct is on the TERM STRING (first occurrence per document),
    matching ``array_distinct(token_shingles(...))`` even under hash
    collisions. ``text_col`` may be any string Column (e.g.
    ``F.lower(text)``) — normalization stays JVM-side so case
    semantics match the expression path. Docs with < n tokens emit
    nothing, like the empty-array explode; a NULL text reads as empty.
    The id columns pass through as Arrow arrays, NULLs included."""
    text_c = F.col(text_col) if isinstance(text_col, str) else text_col
    schema = StructType(
        [df.schema[c] for c in id_cols]
        + [StructField("term", StringType()), StructField("_h", LongType())]
    )

    def body(batch):
        texts = batch.column("_t").to_pylist()
        sh, _seg, _n_sh = _shingle_hashes_np(texts, n)
        # (doc, term) distinct, first occurrence kept; shingle j of the
        # batch is sh[j], in the order the loop below meets it
        rows, terms, first, j = [], [], [], 0
        for d, s in enumerate(texts):
            toks = _tokens(s)
            seen = set()
            for i in range(len(toks) - (n - 1)):
                term = " ".join(toks[i : i + n])
                if term not in seen:
                    seen.add(term)
                    rows.append(d)
                    terms.append(term)
                    first.append(j)
                j += 1
        rows = np.asarray(rows, dtype=np.int64)
        return [
            *(batch.column(c).take(rows) for c in id_cols),
            terms,
            sh[np.asarray(first, dtype=np.int64)],
        ]

    src = df.select(*id_cols, text_c.alias("_t"))
    return arrow_stage(src, "shingle_term", schema, body)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing >= 1 LSH band bucket.

    Output: (doc_a, doc_b, n_shared_bands), doc_a < doc_b.
    """
    bands = minhash_band_relation(
        df, text_col, id_col, k, rows_per_band, shingle_n
    )
    # shuffle_hash (not broadcast) for the self-join: both sides then
    # need the SAME shuffle of the SAME subplan, and AQE reuses the
    # shuffle stage — the signature computation runs once, not twice
    # (measured 23s -> 5s at sf0.1); hash join also skips the sort a
    # merge join would add. At 100 TB neither side is broadcastable.
    left = bands.alias("l").hint("shuffle_hash")
    right = bands.alias("r").hint("shuffle_hash")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .groupBy(
            F.col("l._id").alias("doc_a"),
            F.col("r._id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash_of_hashes(tok_hashes: Column, bits: int = 30) -> Column:
    """The SimHash vote fold over an arbitrary array<long> of feature
    hashes (bits <= 30: the hashes are mod 1e9+7): bit_j = 1 iff the
    sum over hashes of (+1 if bit_j(h) else -1) is >= 0. One aggregate
    folds a bits-wide accumulator of vote sums, so each hash is read
    once (Catalyst does not CSE under lambdas). The CH ngramSimHash /
    wordShingleSimHash spellings use it, and over
    ``transform(tokens(t), poly_hash)`` it is the expression form of
    :func:`simhash_relation`."""
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda v, j: v
            + F.when(
                F.call_function("shiftright", h, j) % 2 == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            bit_idx,
            lambda v, j: F.when(
                v >= 0, F.call_function("shiftleft", F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_relation(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 30,
) -> DataFrame:
    """(_id, sh) — one SimHash fingerprint per document: the
    :func:`simhash_of_hashes` vote fold over the document's token
    poly-hashes, computed in one Arrow-batched numpy pass (guide §4.2
    — as a per-token x per-bit zip_with fold it was interpreted JVM
    expression evaluation, the same hot spot as the MinHash
    signature). Degenerate rows: NULL text -> NULL fingerprint, zero
    tokens -> all ``bits`` bits set (zero votes are >= 0). The id
    passes through as its Arrow value, NULL included.
    """
    mod = np.int64(POLY_MOD)
    all_ones = np.int64((1 << bits) - 1)
    schema = StructType(
        [StructField("_id", df.schema[id_col].dataType), StructField("sh", LongType())]
    )

    def body(batch):
        text = batch.column("_t")
        th0, pw, tok_counts = _token_hashes_np(text.to_pylist())
        # seed-7 token hash from the seed-0 fold:
        # h_seed(tok) = (seed * 31^len + h_0(tok)) mod p
        th = (np.int64(POLY_SEED) * pw + th0) % mod
        sh = np.full(len(text), all_ones, dtype=np.int64)
        has = tok_counts > 0
        if has.any():
            seg = np.concatenate([[0], np.cumsum(tok_counts)[:-1]])[has]
            acc = np.zeros(int(has.sum()), dtype=np.int64)
            for j in range(bits):
                votes = np.add.reduceat(((th >> np.int64(j)) & 1) * 2 - 1, seg)
                acc += (votes >= 0).astype(np.int64) << np.int64(j)
            sh[has] = acc
        isnull = text.is_null().to_numpy(zero_copy_only=False)
        return [batch.column("_id"), pa.array(sh, mask=isnull)]

    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    return arrow_stage(src, "simhash", schema, body)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Shared-shingle equi-join; shingles appearing in more than
    ``max_shingle_df`` docs are dropped BEFORE the join (both from the
    join and from the per-doc set size) — the standard hot-key guard.
    Output: (doc_a, doc_b, n_shared, jaccard) with jaccard >= threshold.
    """
    # the shingle relation is distinct per doc, so (_id, h) pairs are
    # already unique — no dedup needed. The explicit repartition on h
    # creates ONE canonical shuffle that every downstream consumer
    # (df-count aggregate, rare-filter join, both self-join sides)
    # reuses instead of re-evaluating the shingle pass per consumer:
    # measured 5.1s -> 2.7s at sf0.1 vs no repartition.
    sh = shingle_hash_relation(df, text_col, id_col, n).repartition("h")
    rare = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df_count")).where(
        F.col("df_count") <= max_shingle_df
    )
    sh = sh.join(rare.select("h"), "h")
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))

    # No join hint here: sh is already post-shuffle (repartition on h),
    # so AQE reuses that stage for both sides whatever join strategy it
    # picks — unlike minhash_lsh_pairs, whose band projection is purely
    # map-side and needs the forced shuffle to be reusable.
    l, r = sh.alias("l"), sh.alias("r")
    shared = (
        l.join(r, (F.col("l.h") == F.col("r.h")) & (F.col("l._id") < F.col("r._id")))
        .groupBy(F.col("l._id").alias("doc_a"), F.col("r._id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    # sizes is one row per doc — NOT broadcastable at scale; let AQE
    # pick the strategy (it will broadcast at small SFs on its own).
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 16,
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Fuzzy near-dup pairs: MinHash-LSH candidates verified by EXACT
    Levenshtein distance <= max_distance.

    Output: (doc_a, doc_b, edit_distance), doc_a < doc_b.

    Scale shape: the O(len x len) DP runs only on LSH candidates (never
    all pairs), JVM-side via the thresholded levenshtein builtin — the
    threshold caps the DP band, so a wildly-different candidate pair
    costs O(len x max_distance), not O(len^2). The two id-joins that
    fetch the texts shuffle on uniform doc ids.
    """
    cand = minhash_lsh_pairs(
        df, text_col, id_col, k, rows_per_band, shingle_n
    ).select("doc_a", "doc_b")
    ta = df.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    tb = df.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    # thresholded levenshtein returns -1 past max_distance (early exit)
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_distance)
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", dist.alias("edit_distance"))
        .where(F.col("edit_distance") >= 0)
    )


def simhash_band_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 30,
    bands: int = 5,
    max_hamming: int = 4,
    max_bucket: int = 500,
) -> DataFrame:
    """Hamming-LSH near-dup pairs over SimHash fingerprints — the
    bit-space counterpart of the MinHash band join.

    The fingerprint splits into ``bands`` disjoint bit slices; two
    documents become CANDIDATES iff they collide in at least one slice
    (any pair within Hamming distance < bands must, by pigeonhole,
    share an untouched slice — so recall is exact for
    max_hamming < bands at these parameters' widths). Verification is
    one codegen'd ``bit_count(xor)`` — no text comparison at all.

    Scale shape: the self-join runs per (band, key) bucket, never
    all-pairs; the ``max_bucket`` cutoff drops degenerate buckets
    (e.g. the all-zeros band of near-empty docs) before they go
    quadratic — the same hot-key guard the n-gram Jaccard operator
    uses. One shuffle for the band join, one map-side verify.
    """
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    sh = simhash_relation(docs, text_col, id_col, bits).select(
        F.col("_id").alias("id"), "sh"
    )
    banded = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    (
                        F.shiftright(F.col("sh"), b * width)
                        % (1 << width)
                    ).cast("long")
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    w = Window.partitionBy("band", "key")
    kept = banded.withColumn(
        "_bsz", F.count(F.lit(1)).over(w)
    ).where(F.col("_bsz") <= max_bucket)
    left = kept.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
        "band", "key",
    )
    right = kept.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
        "band", "key",
    )
    cand = (
        left.join(right, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 40,
) -> DataFrame:
    """Cross-document duplicated passages (Lee et al. 2022-style
    substring dedup, k-char granularity): maximal spans of each doc
    whose every k-shingle also occurs in ANOTHER document.

    Returns (id, span_start, span_end, span_chars), 1-based inclusive
    character positions, one row per maximal span.

    100 TB design — two uniform-key shuffles, no Python:
    - positions explode map-side (fan-out ~= corpus chars, the same
      budget as tokenization); the shingle key is ``substr(md5, 1,
      16)`` — 8 bytes of entropy, identical in any engine (the DuckDB
      oracle replays the exact same decisions), far narrower on the
      wire than the raw k-char shingle;
    - the cross-doc flag is min(id) != max(id) OVER the shingle-hash
      window — one shuffle of the position relation, after which the
      expensive narrow stage (an md5 per character position) has run
      exactly ONCE. Round 11: this replaces a groupBy + LEFT SEMI
      join that evaluated the position subtree twice; the groupBy's
      map-side combine bought almost nothing because k-char shingle
      hashes are mostly distinct, so the window shuffles the same
      bytes while halving the scan (VERDICT r10 task 3);
    - span merge is one gaps-and-islands window per doc (id, i - rn).
    """
    tid = F.col(id_col)
    text = F.col(text_col)
    pos = df.select(
        tid.alias("id"),
        F.explode(
            F.when(
                F.length(text) >= k,
                F.sequence(F.lit(1), F.length(text) - (k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        text.alias("_t"),
    ).select(
        "id",
        F.col("i").cast("long").alias("i"),
        F.substring(
            F.md5(F.substr(F.col("_t"), F.col("i"), F.lit(k))), 1, 16
        ).alias("h"),
    )
    wh = Window.partitionBy("h")
    flagged = pos.withColumns(
        {
            "_mn": F.min("id").over(wh),
            "_mx": F.max("id").over(wh),
        }
    ).where(F.col("_mn") != F.col("_mx"))
    rn = F.row_number().over(Window.partitionBy("id").orderBy("i"))
    islands = flagged.select(
        "id", "i", (F.col("i") - rn).alias("island")
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + (k - 1)).alias("span_end"),
            (F.max("i") - F.min("i") + k).alias("span_chars"),
        )
        .drop("island")
    )


def duplicated_spans_pairwise(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 40,
    max_shingle_occ: int = 20,
    df_b: DataFrame | None = None,
) -> DataFrame:
    """Maximal ALIGNED duplicated spans per document pair — the
    suffix-array-granularity view of ``duplicated_spans``: instead of
    "which parts of this doc are duplicated somewhere", this answers
    "which exact passages do docs A and B share, and how long is
    each". A shared passage of length L >= k appears as L - k + 1
    consecutive shingle matches along one DIAGONAL (j - i constant);
    merging consecutive i on a (pair, diagonal) yields exactly the
    maximal common substrings the matched-shingle relation can prove
    (Lee et al. 2022 substring dedup, pairwise form).

    Returns (id_a, id_b, a_start, a_end, b_start, b_end, span_chars),
    1-based inclusive char positions, id_a < id_b, one row per
    maximal aligned span.

    100 TB design: the pair relation comes from an equi-join on the
    16-hex md5 shingle key — never all-pairs. ``max_shingle_occ``
    drops boilerplate shingles (a shingle occurring at p positions
    creates O(p^2) matched cells; real corpora have headers/footers
    shared by thousands of docs — those belong to the per-DOC span
    view, not the pairwise one). The diagonal merge is one
    gaps-and-islands window keyed (id_a, id_b, j - i) — the window
    partition count equals the matched-diagonal count, uniform by
    construction of the hash key.
    """
    def shingle_pos(dfx: DataFrame) -> DataFrame:
        tid = F.col(id_col)
        text = F.col(text_col)
        return dfx.select(
            tid.alias("id"),
            F.explode(
                F.when(
                    F.length(text) >= k,
                    F.sequence(F.lit(1), F.length(text) - (k - 1)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
            text.alias("_t"),
        ).select(
            "id",
            F.col("i").cast("long").alias("i"),
            F.substring(
                F.md5(F.substr(F.col("_t"), F.col("i"), F.lit(k))),
                1,
                16,
            ).alias("h"),
        )

    pos_a = shingle_pos(df)
    if df_b is None:
        pos_b = pos_a
        keep = (
            pos_a.groupBy("h")
            .agg(
                F.min("id").alias("mn"),
                F.max("id").alias("mx"),
                F.count(F.lit(1)).alias("occ"),
            )
            .where(
                (F.col("mn") != F.col("mx"))
                & (F.col("occ") <= max_shingle_occ)
            )
            .select("h")
        )
        pair_cond = F.col("a.id") < F.col("b.id")
    else:
        # cross-relation (contamination) form: A-side passages found
        # in B — the train-vs-eval leakage localizer. A shingle
        # qualifies when it occurs in BOTH relations; the occurrence
        # cap applies to the combined count.
        pos_b = shingle_pos(df_b)
        ca = pos_a.groupBy("h").agg(F.count(F.lit(1)).alias("ca"))
        cb = pos_b.groupBy("h").agg(F.count(F.lit(1)).alias("cb"))
        keep = (
            ca.join(cb, "h")
            .where(F.col("ca") + F.col("cb") <= max_shingle_occ)
            .select("h")
        )
        pair_cond = F.lit(True)
    cells = (
        pos_a.join(keep, "h", "left_semi")
        .alias("a")
        .join(
            pos_b.join(keep, "h", "left_semi").alias("b"),
            (F.col("a.h") == F.col("b.h")) & pair_cond,
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.i").alias("i"),
            F.col("b.i").alias("j"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy(
            "id_a", "id_b", F.col("j") - F.col("i")
        ).orderBy("i")
    )
    islands = cells.select(
        "id_a",
        "id_b",
        "i",
        "j",
        (F.col("j") - F.col("i")).alias("diag"),
        (F.col("i") - rn).alias("island"),
    )
    return (
        islands.groupBy("id_a", "id_b", "diag", "island")
        .agg(
            F.min("i").alias("a_start"),
            (F.max("i") + (k - 1)).alias("a_end"),
            F.min("j").alias("b_start"),
            (F.max("j") + (k - 1)).alias("b_end"),
            (F.max("i") - F.min("i") + k).alias("span_chars"),
        )
        .drop("diag", "island")
    )


def excise_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Remove duplicated spans from document text — the REMOVAL half
    of substring-level dedup (``duplicated_spans`` finds the spans;
    Lee et al. 2022 then cut them from the training corpus).

    ``spans`` must carry (id, span_start, span_end) with 1-based
    inclusive char positions, non-overlapping per id (exactly what
    ``duplicated_spans`` emits — its gaps-and-islands merge makes
    overlaps impossible). Documents with no spans pass through
    unchanged.

    Returns (id, text, clean_text, n_spans, chars_removed).

    100 TB design: ONE groupBy collects each doc's spans into a
    sorted array (spans are rare relative to docs — the aggregate
    state is tiny), one LEFT join back to the docs relation, and the
    cut itself is a per-row JVM fold over the span array (keep the
    gaps: acc ++ text[pos : start), advance pos past the span). No
    Python, no explode of the text, no second pass.
    """
    tid = F.col(id_col)
    per_doc = spans.groupBy(F.col("id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            )
        ).alias("_spans")
    )
    joined = docs.select(
        tid.alias("id"), F.col(text_col).alias("text")
    ).join(per_doc, "id", "left")

    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<s:bigint,e:bigint>>"),
    )
    folded = F.aggregate(
        spans_arr,
        F.struct(
            F.lit("").alias("acc"), F.lit(1).cast("long").alias("pos")
        ),
        lambda st, sp: F.struct(
            F.concat(
                st["acc"],
                F.substring(
                    F.col("text"),
                    st["pos"].cast("int"),
                    F.greatest(
                        (sp["s"] - st["pos"]).cast("int"), F.lit(0)
                    ),
                ),
            ).alias("acc"),
            (sp["e"] + 1).alias("pos"),
        ),
        lambda st: F.concat(
            st["acc"],
            F.substring(
                F.col("text"),
                st["pos"].cast("int"),
                F.length(F.col("text")),
            ),
        ),
    )
    return joined.select(
        "id",
        "text",
        folded.alias("clean_text"),
        F.size(spans_arr).alias("n_spans"),
        (F.length("text") - F.length(folded)).alias("chars_removed"),
    )


def self_repetition_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 40,
) -> DataFrame:
    """WITHIN-document repetition spans (round 10): maximal spans
    whose every k-shingle already occurred EARLIER in the SAME
    document — the de-looping cleanup for model-generated or
    boilerplate-heavy text (the cross-document twin is
    duplicated_spans). The first occurrence is never flagged, so
    excising these spans keeps one copy of the repeated content.

    Returns (id, span_start, span_end, span_chars), 1-based
    inclusive, non-overlapping per id — directly consumable by
    excise_spans.

    100 TB design: the position explode is the same map-side fan-out
    as duplicated_spans; the earlier-occurrence flag is ONE window
    min over (id, shingle-hash) — a single shuffle keyed by doc and
    hash (uniform), no self-join; the island merge is the shared
    gaps-and-islands window per doc."""
    tid = F.col(id_col)
    text = F.col(text_col)
    pos = df.select(
        tid.alias("id"),
        F.explode(
            F.when(
                F.length(text) >= k,
                F.sequence(F.lit(1), F.length(text) - (k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        text.alias("_t"),
    ).select(
        "id",
        F.col("i").cast("long").alias("i"),
        F.substring(
            F.md5(F.substr(F.col("_t"), F.col("i"), F.lit(k))), 1, 16
        ).alias("h"),
    )
    first = F.min("i").over(Window.partitionBy("id", "h"))
    flagged = pos.withColumn("_first", first).where(
        F.col("i") > F.col("_first")
    )
    rn = F.row_number().over(Window.partitionBy("id").orderBy("i"))
    islands = flagged.select(
        "id", "i", (F.col("i") - rn).alias("island")
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + (k - 1)).alias("span_end"),
            (F.max("i") - F.min("i") + k).alias("span_chars"),
        )
        .drop("island")
    )
