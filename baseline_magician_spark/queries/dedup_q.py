"""Dedup operator queries over the `documents` table, each with a
DuckDB oracle generated from the same constants (hash params, band
layout, thresholds) so the two engines cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_for_compute
from ..functions.hashing import (
    POLY_MOD,
    minhash_params,
    poly_hash_duckdb,
    shingle_hashes_duckdb,
)
from ..operators.dedup import (
    duplicated_spans,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from ..registry import query

K = 8
ROWS_PER_BAND = 2
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
MAX_SHINGLE_DF = 100
SIMHASH_BITS = 30


@query(
    "dedup_exact_groups",
    """
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS keep_id
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_for_compute(spark, sf_dir, "documents"), "text", "doc_id")


def _minhash_oracle() -> str:
    perm_rows = ",\n      ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(K))
    )
    sh_expr = shingle_hashes_duckdb("text", SHINGLE_N)
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({sh_expr}) AS h
      FROM documents
      WHERE len({sh_expr}) > 0
    ),
    perms(i, a, b) AS (VALUES
      {perm_rows}
    ),
    sigs AS (
      SELECT doc_id, i, min((a * h + b) % {POLY_MOD}) AS mh
      FROM sh CROSS JOIN perms GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {ROWS_PER_BAND} AS band,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT), list(mh ORDER BY i)),
               (x, y) -> (x * 31 + y) % {POLY_MOD}) AS bh
      FROM sigs GROUP BY doc_id, i // {ROWS_PER_BAND}
    )
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
    GROUP BY l.doc_id, r.doc_id
    """


@query("dedup_minhash_lsh_pairs", _minhash_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_for_compute(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=K,
        rows_per_band=ROWS_PER_BAND,
        shingle_n=SHINGLE_N,
    )


def _simhash_oracle() -> str:
    from ..functions.hashing import tokens_duckdb

    tok = tokens_duckdb("text")
    tok_hash = poly_hash_duckdb("t")
    return f"""
    SELECT doc_id,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(0, {SIMHASH_BITS}), j ->
          CASE WHEN (
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform({tok}, t ->
                CASE WHEN (({tok_hash}) >> j) % 2 = 1
                     THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
              (a, b) -> a + b) >= 0
          ) THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
        (a, b) -> a + b) AS simhash
    FROM documents
    """


@query("dedup_simhash_fingerprints", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_relation

    docs = load_for_compute(spark, sf_dir, "documents")
    return simhash_relation(docs, "text", "doc_id", SIMHASH_BITS).select(
        F.col("_id").alias("doc_id"), F.col("sh").alias("simhash")
    )


def _jaccard_oracle() -> str:
    sh_expr = shingle_hashes_duckdb("text", SHINGLE_N)
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id, unnest({sh_expr}) AS h FROM documents
      )
    ),
    rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= {MAX_SHINGLE_DF}),
    shr AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shr GROUP BY doc_id),
    shared AS (
      SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_shared
      FROM shr l JOIN shr r ON l.h = r.h AND l.doc_id < r.doc_id
      GROUP BY l.doc_id, r.doc_id
    )
    SELECT doc_a, doc_b, n_shared,
           round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON shared.doc_a = sa.doc_id
    JOIN sizes sb ON shared.doc_b = sb.doc_id
    WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) >= {JACCARD_THRESHOLD}
    """


def cc_closure_sql(pairs_sql: str) -> str:
    """The recursive-CTE connected-components closure over a pair
    graph, as the CTE prelude ``pairs/edges/walk`` (caller appends its
    SELECT over ``walk``). Walk = (node, start_label) pairs along
    symmetrized edges; min label reaching a node = its component id.
    Fixpoint is path-independent, so this matches the Spark iterative
    propagation exactly. ONE definition — every CC-based oracle
    (clusters, keep-best, corpus cleanup, training export) composes it.
    """
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({pairs_sql})
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk(node, label) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
    )"""


def _cc_oracle() -> str:
    return f"""{cc_closure_sql(_minhash_oracle())}
    SELECT node AS doc_id,
           min(label) AS cluster_id,
           (node = min(label)) AS is_survivor
    FROM walk GROUP BY node
    """


@query("dedup_connected_components", _cc_oracle())
def dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    pairs = minhash_lsh_pairs(
        load_for_compute(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=K,
        rows_per_band=ROWS_PER_BAND,
        shingle_n=SHINGLE_N,
    )
    return dedup_clusters(pairs, "doc_a", "doc_b")


@query("dedup_ngram_jaccard_pairs", _jaccard_oracle())
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_for_compute(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=SHINGLE_N,
        threshold=JACCARD_THRESHOLD,
        max_shingle_df=MAX_SHINGLE_DF,
    )


_ = F  # columns built in operators


_DUP_SPANS_K = 40


def span_excision_ctes(src: str, k: int = _DUP_SPANS_K) -> str:
    """DuckDB CTE chain replaying duplicated_spans + excise_spans
    over the ``src`` relation (must expose doc_id and text),
    terminating in ``cleaned`` = src's columns + n_spans +
    clean_text. The same decision replay as the
    pipeline_span_excision oracle, parameterized on the source so
    the corpus compositions (round 10) can excise their SURVIVOR
    set instead of raw documents; CTE names are x-prefixed to
    compose with the minhash/CC closure chains."""
    return f"""
    xpos AS (
      SELECT doc_id,
             unnest(generate_series(1, length(text) - {k - 1})) AS i,
             text
      FROM {src} WHERE length(text) >= {k}
    ),
    xsh AS (
      SELECT doc_id, i,
             substr(md5(substr(text, i::INT, {k})), 1, 16) AS h
      FROM xpos
    ),
    xdup AS (
      SELECT h FROM xsh GROUP BY h HAVING min(doc_id) <> max(doc_id)
    ),
    xflag AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
      FROM xsh WHERE h IN (SELECT h FROM xdup)
    ),
    xspans AS (
      SELECT doc_id,
             min(i)::BIGINT AS s,
             (max(i) + {k - 1})::BIGINT AS e
      FROM xflag GROUP BY doc_id, i - rn
    ),
    xpieces AS (
      SELECT sp.doc_id, sp.s, sp.e,
             lag(sp.e, 1, 0) OVER (
               PARTITION BY sp.doc_id ORDER BY sp.s
             ) AS pe,
             d.text
      FROM xspans sp JOIN {src} d ON d.doc_id = sp.doc_id
    ),
    xgaps AS (
      SELECT doc_id,
             count(*) AS n_spans,
             string_agg(substr(text, (pe + 1)::INT,
                               greatest((s - pe - 1)::INT, 0)),
                        '' ORDER BY s) AS kept_text,
             max(e) AS laste
      FROM xpieces GROUP BY doc_id
    ),
    cleaned AS (
      SELECT d.*,
             COALESCE(g.n_spans, 0) AS n_spans,
             COALESCE(g.kept_text, '') ||
               substr(d.text, (COALESCE(g.laste, 0) + 1)::INT,
                      greatest((length(d.text)
                                - COALESCE(g.laste, 0))::INT, 0))
               AS clean_text
      FROM {src} d LEFT JOIN xgaps g ON d.doc_id = g.doc_id
    )"""


def _corpus_cleanup_oracle() -> str:
    """The full training-data cleanup as one SQL: exact-dup removal
    (keep min doc_id per md5), near-dup cluster removal (keep only
    component survivors from the MinHash pair graph), duplicated-SPAN
    EXCISION across the survivors (round 10 — the Lee et al.
    deliverable is cleaned TEXT, not just kept doc ids), then a
    minimum quality gate (>= 10 tokens of the CLEAN text), aggregated
    per language with an md5 digest of the cleaned corpus."""
    from ..functions.hashing import tokens_duckdb

    tok = tokens_duckdb("clean_text")
    return f"""{cc_closure_sql(_minhash_oracle())},
    non_survivors AS (
      SELECT node AS doc_id FROM walk GROUP BY node
      HAVING node <> min(label)
    ),
    exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    survivors AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d
      JOIN exact_keep k ON d.doc_id = k.doc_id
      WHERE d.doc_id NOT IN (SELECT doc_id FROM non_survivors)
    ),
    {span_excision_ctes("survivors")},
    scored AS (
      SELECT doc_id, lang, text, n_spans, clean_text,
             len({tok}) AS n_toks
      FROM cleaned
    )
    SELECT lang,
           count(*) AS n_docs,
           sum(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END)::BIGINT
             AS docs_excised,
           CAST(sum(n_spans) AS BIGINT) AS spans_total,
           CAST(sum(length(clean_text)) AS BIGINT) AS total_chars,
           CAST(sum(length(text) - length(clean_text)) AS BIGINT)
             AS chars_removed,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           md5(string_agg(md5(clean_text), '' ORDER BY doc_id))
             AS clean_digest
    FROM scored
    WHERE n_toks >= 10
    GROUP BY lang
    """


@query("pipeline_corpus_cleanup", _corpus_cleanup_oracle())
def corpus_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data composition: exact dedup -> near-dup
    cluster survivors -> duplicated-span EXCISION over the survivor
    set (round 10: the corpus that leaves this pipeline is the
    CLEANED text — the oracle hash-checks it per language via the
    md5-of-sorted-per-doc-md5 digest) -> quality gate on the clean
    token count -> per-language corpus stats. Every stage is a
    previously-oracle-checked operator; this query checks their
    COMPOSITION end-to-end.

    Scale shape: the excision adds the duplicated_spans explode (one
    map-side position fan-out + two uniform-key shuffles on the
    16-hex shingle hash) and the per-doc span fold — no new joins
    beyond the LEFT join of spans back to survivors."""
    from pyspark.sql import functions as FF

    from ..functions.hashing import tokens
    from ..operators.dedup import (
        duplicated_spans,
        exact_dedup_groups,
        excise_spans,
    )
    from ..operators.graph import dedup_clusters

    docs = load_for_compute(spark, sf_dir, "documents")

    exact_keep = exact_dedup_groups(docs, "text", "doc_id").select(
        FF.col("keep_id").alias("doc_id")
    )
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", k=K, rows_per_band=ROWS_PER_BAND,
        shingle_n=SHINGLE_N,
    )
    non_survivors = (
        dedup_clusters(pairs, "doc_a", "doc_b")
        .where(~FF.col("is_survivor"))
        .select("doc_id")
    )
    from ..cache_tracker import track

    # THREE consumers (span detection, excision, the lang join) would
    # each re-evaluate the dedup joins; interleaved A/B at sf0.1
    # (min-of-3, same session): persist 6.18 s vs exchange-reuse-only
    # 6.86 s — cache it, tracker-released before the next query.
    survivors = track(
        docs.join(exact_keep, "doc_id", "left_semi")
        .join(non_survivors, "doc_id", "left_anti")
        .select("doc_id", "lang", "text")
        .persist()
    )
    spans = duplicated_spans(survivors, "text", "doc_id", k=_DUP_SPANS_K)
    cleaned = excise_spans(
        survivors.select("doc_id", "text"), spans, "text", "doc_id"
    ).join(
        survivors.select(FF.col("doc_id").alias("id"), "lang"), "id"
    )
    scored = cleaned.select(
        "id", "lang", "n_spans", "chars_removed",
        FF.length("clean_text").alias("cc"),
        FF.size(tokens("clean_text")).alias("n_toks"),
        FF.md5(FF.col("clean_text").cast("binary")).alias("h"),
    ).where(FF.col("n_toks") >= 10)
    return scored.groupBy("lang").agg(
        FF.count(FF.lit(1)).alias("n_docs"),
        FF.sum((FF.col("n_spans") > 0).cast("long")).alias(
            "docs_excised"
        ),
        FF.sum("n_spans").alias("spans_total"),
        FF.sum("cc").alias("total_chars"),
        FF.sum("chars_removed").alias("chars_removed"),
        FF.sum("n_toks").cast("long").alias("total_tokens"),
        FF.md5(
            FF.concat_ws(
                "",
                FF.transform(
                    FF.array_sort(FF.collect_list(FF.struct("id", "h"))),
                    lambda x: x["h"],
                ),
            ).cast("binary")
        ).alias("clean_digest"),
    )


# -- embedding-cosine near-dup on the documents table -----------------
# Composition: deterministic stripe features from each document's
# payload bytes (operators.multimodal) -> random-hyperplane LSH buckets
# -> exact cosine within buckets (operators.similarity). The oracle
# rebuilds the identical arithmetic in SQL.

# 8 planes + per-row mean centering (round 6): the raw positive-orthant
# features collapsed to 4 buckets (5.6M candidate pairs at sf0.1);
# centering restores 200+ buckets / 220k candidates — see
# operators.similarity.lsh_bucketed_pairs(center=True).
EMB_DUP_PLANES = 8
EMB_DUP_THRESHOLD = 0.99995


def _doc_embedding_pairs_oracle() -> str:
    from ..operators.multimodal import BYTE_A, BYTE_B, BYTE_C, LEN_BASE, LEN_MOD
    from ..operators.similarity import _HP_A, _HP_B, _HP_MOD

    dim = 8
    _len = f"({LEN_BASE} + doc_id % {LEN_MOD})"
    _byte = f"(doc_id*{BYTE_A} + i*{BYTE_B} + {BYTE_C}) % 256"
    terms = []
    for k in range(dim):
        stripe = f"list_filter(range(0, {_len}), i -> i % {dim} = {k})"
        s = f"list_sum(list_transform({stripe}, i -> {_byte}))"
        terms.append(f"floor(CAST({s} AS DOUBLE) / len({stripe}) * 10000) / 10000")
    feat = "[" + ", ".join(terms) + "]"

    half = (_HP_MOD - 1) // 2
    # Per-row mean centering mirrors lsh_bucketed_pairs(center=True):
    # the same left-to-right fold sum divided by the length, subtracted
    # from each component before projecting (bit-identical double ops).
    mean = (
        "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(f, x -> CAST(x AS DOUBLE))), (x, y) -> x + y)"
        " / len(f))"
    )
    proj = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip(f, range(0, len(f))), "
        "s -> (CAST(s[1] AS DOUBLE) - m) * "
        f"CAST(((CAST({_HP_A} AS BIGINT) * {{p}} + {_HP_B} * s[2]) % {_HP_MOD} - {half}) AS DOUBLE))), "
        "(x, y) -> x + y)"
    )
    bucket = " + ".join(
        f"(CASE WHEN {proj.format(p=p)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(EMB_DUP_PLANES)
    )
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), (x, y) -> x + y)"
    )
    nrm = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        "(x, y) -> x + y))"
    )
    cos = (
        f"({dot.format(a='l.f', b='r.f')} / "
        f"({nrm.format(a='l.f')} * {nrm.format(a='r.f')}))"
    )
    return f"""
    WITH feats AS (
      SELECT doc_id, {feat} AS f FROM documents
    ),
    fm AS (
      SELECT doc_id, f, {mean} AS m FROM feats
    ),
    b AS (
      SELECT doc_id, f, CAST({bucket} AS BIGINT) AS bucket FROM fm
    )
    SELECT l.doc_id AS vec_a, r.doc_id AS vec_b,
           round({cos}, 6) AS cosine_sim
    FROM b l JOIN b r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
    WHERE round({cos}, 6) >= {EMB_DUP_THRESHOLD}
    """


@query("dedup_embedding_cosine_pairs", _doc_embedding_pairs_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_media, extract_features
    from ..operators.similarity import lsh_bucketed_pairs

    docs = load_for_compute(spark, sf_dir, "documents")
    feats = extract_features(attach_media(docs), dim=8)
    return lsh_bucketed_pairs(
        feats,
        id_col="doc_id",
        vec_col="feature",
        n_planes=EMB_DUP_PLANES,
        threshold=EMB_DUP_THRESHOLD,
        dim=8,
        center=True,
    )


def _keep_best_oracle() -> str:
    """Cluster survivors chosen by QUALITY (longest doc, ties to the
    lower id) instead of min-id — the keep policy real pipelines use."""
    return f"""{cc_closure_sql(_minhash_oracle())},
    clusters AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
    )
    SELECT c.doc_id, c.cluster_id,
           (row_number() OVER (
              PARTITION BY c.cluster_id
              ORDER BY d.n_chars DESC, c.doc_id ASC
            ) = 1) AS is_survivor
    FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    """


@query("dedup_keep_best_per_cluster", _keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: same near-dup clusters as
    dedup_connected_components, but the kept document is the LONGEST
    in its cluster (ties to the lower id) — the 'keep best, not first'
    policy. One extra window over the tiny (node, cluster) frame."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    docs = load_for_compute(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", k=K, rows_per_band=ROWS_PER_BAND,
        shingle_n=SHINGLE_N,
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        cc.join(docs.select("doc_id", "n_chars"), cc.node == F.col("doc_id"))
        .select("doc_id", "cluster_id", "n_chars")
        .withColumn("is_survivor", F.row_number().over(w) == 1)
        .drop("n_chars")
    )


def _incremental_oracle() -> str:
    """Incremental ingest: even doc_ids are the standing corpus, odd
    ones the incoming batch; an incoming doc survives iff its exact
    text hash is unseen in the corpus AND it is the batch's first
    (min doc_id) holder of that hash."""
    return """
    WITH corpus AS (
      SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ),
    incoming AS (
      SELECT doc_id, lang, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
    ),
    fresh AS (
      SELECT i.* FROM incoming i
      WHERE i.h NOT IN (SELECT h FROM corpus)
    )
    SELECT doc_id, lang FROM fresh
    WHERE doc_id = (SELECT min(f2.doc_id) FROM fresh f2 WHERE f2.h = fresh.h)
    """


@query("dedup_incremental_ingest", _incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-shaped dedup pass a continuously-fed corpus needs:
    incoming batch -> drop exact dups against the standing corpus
    (anti join on content hash — broadcast when the batch is small,
    shuffle-hash when not; the CORPUS side never re-hashes, at scale
    its hashes are a stored index) -> drop within-batch dups (min-id
    per hash). Near-dup filtering would chain the MinHash operator on
    the survivors — composition, not new machinery."""
    docs = load_for_compute(spark, sf_dir, "documents")
    corpus_hashes = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    incoming = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.md5("text").alias("h")
    )
    fresh = incoming.join(corpus_hashes, "h", "left_anti")
    first = fresh.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return fresh.join(first, ["h", "doc_id"], "left_semi").select(
        "doc_id", "lang"
    )


MAX_EDIT_DISTANCE = 16


def _edit_distance_oracle() -> str:
    return f"""WITH cand AS ({_minhash_oracle()})
    SELECT cand.doc_a, cand.doc_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_distance
    FROM cand
    JOIN documents a ON cand.doc_a = a.doc_id
    JOIN documents b ON cand.doc_b = b.doc_id
    WHERE levenshtein(a.text, b.text) <= {MAX_EDIT_DISTANCE}
    """


@query("dedup_edit_distance_pairs", _edit_distance_oracle())
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-candidate generation + exact edit-distance verification —
    the fuzzy-dedup shape for corpora where token Jaccard is too
    coarse (small character-level mutations)."""
    from ..operators.dedup import edit_distance_pairs

    return edit_distance_pairs(
        load_for_compute(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        max_distance=MAX_EDIT_DISTANCE,
        k=K,
        rows_per_band=ROWS_PER_BAND,
        shingle_n=SHINGLE_N,
    )


SEM_CENTROIDS = 16  # semantic-dedup cells (seeded like the IVF index)


def _semantic_oracle() -> str:
    from .similarity_q import _cos

    return f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < {SEM_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id, cell, round(sim, 6) AS centroid_sim FROM (
        SELECT e.vec_id, c.cid AS cell,
               {_cos('e.embedding', 'c.cvec')} AS sim,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    )
    SELECT cell, kept_id, n_members, centroid_sim FROM (
      SELECT cell, vec_id AS kept_id,
             CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n_members,
             centroid_sim,
             row_number() OVER (
               PARTITION BY cell ORDER BY centroid_sim DESC, vec_id ASC
             ) AS rn2
      FROM assign
    ) WHERE rn2 = 1
    """


@query("dedup_semantic_keep_best", _semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-based semantic dedup over the embedding corpus: nearest-
    centroid cell assignment map-side, one representative kept per cell
    (closest to the centroid, ties to the lower id). Catches same-
    meaning rewrites that lexical dedup (MinHash/Jaccard on shingles)
    cannot see; the two compose — run MinHash first, this second."""
    from ..operators.similarity import semantic_keep_best

    from .similarity_q import _seed_centroids

    emb = load_for_compute(spark, sf_dir, "embeddings")
    return semantic_keep_best(
        emb, _seed_centroids(spark, sf_dir, SEM_CENTROIDS)
    )


def _simhash_band_oracle() -> str:
    # the fingerprint CTE is the dedup_simhash_fingerprints oracle
    # verbatim; banding/cutoff/verify replicate the operator's params
    # (5 bands x 6 bits, bucket cutoff 200, hamming <= 2 — the
    # synthetic corpus's tiny shared vocabulary makes simhash space
    # dup-dense, so the thresholds are tight to keep the pair set a
    # near-dup report, not an almost-all-pairs dump)
    sh_select = _simhash_oracle()
    return f"""
    WITH sh AS ({sh_select}),
    banded AS (
      SELECT doc_id, simhash, b.band AS band,
             (simhash >> (b.band * 6)) % 64 AS key
      FROM sh, (SELECT unnest(range(0, 5)) AS band) b
    ),
    sized AS (
      SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz
      FROM banded
    ),
    kept AS (SELECT * FROM sized WHERE bsz <= 200),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 2
    """


@query("dedup_simhash_band_pairs", _simhash_band_oracle())
def dedup_simhash_band_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-LSH near-dup pairs (operators/dedup.py:simhash_band_pairs):
    banded bit-slice candidates + bit_count(xor) verify, hot-bucket
    cutoff before the join — recall is exact for hamming < bands."""
    from ..operators.dedup import simhash_band_pairs

    docs = load_for_compute(spark, sf_dir, "documents")
    return simhash_band_pairs(
        docs, "doc_id", "text", bits=SIMHASH_BITS, bands=5,
        max_hamming=2, max_bucket=200,
    )


def _simhash_clusters_oracle() -> str:
    edges = f"""
    SELECT id_a AS doc_a, id_b AS doc_b FROM (
      {_simhash_band_oracle()}
    )"""
    return f"""{cc_closure_sql(edges)}
    SELECT node AS doc_id,
           min(label) AS cluster_id,
           (node = min(label)) AS is_survivor
    FROM walk GROUP BY node
    """


@query("dedup_simhash_clusters", _simhash_clusters_oracle())
def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the Hamming-LSH pair graph — the
    SimHash twin of dedup_connected_components (same iterative
    min-label propagation, same recursive-CTE oracle closure), proving
    the band-pair operator composes into the dedup pipeline."""
    from ..operators.dedup import simhash_band_pairs
    from ..operators.graph import dedup_clusters

    pairs = simhash_band_pairs(
        load_for_compute(spark, sf_dir, "documents"),
        "doc_id", "text", bits=SIMHASH_BITS, bands=5,
        max_hamming=2, max_bucket=200,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return dedup_clusters(pairs, "doc_a", "doc_b")


# Cross-document duplicated passages (substring-level dedup, the Lee
# et al. 2022 "Deduplicating Training Data Makes Language Models
# Better" granularity, k = 40 chars). The 16-hex-char md5 prefix is
# the cross-engine shingle key: DuckDB's md5() emits the identical
# lowercase hex, so both engines make bit-identical dup decisions.
# (_DUP_SPANS_K and span_excision_ctes are defined above the corpus
# compositions that consume them at module-decoration time.)


@query(
    "dedup_duplicated_spans",
    f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(generate_series(1, length(text) - {_DUP_SPANS_K - 1}))
               AS i,
             text
      FROM documents WHERE length(text) >= {_DUP_SPANS_K}
    ), sh AS (
      SELECT doc_id, i,
             substr(md5(substr(text, i::INT, {_DUP_SPANS_K})), 1, 16) AS h
      FROM pos
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING min(doc_id) <> max(doc_id)
    ), flagged AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
      FROM sh WHERE h IN (SELECT h FROM dup)
    )
    SELECT doc_id AS id,
           min(i)::BIGINT AS span_start,
           (max(i) + {_DUP_SPANS_K - 1})::BIGINT AS span_end,
           (max(i) - min(i) + {_DUP_SPANS_K})::BIGINT AS span_chars
    FROM flagged GROUP BY doc_id, i - rn
    ORDER BY id, span_start
    """,
)
def dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicated_spans(
        load_for_compute(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=_DUP_SPANS_K,
    )


# Pairwise maximal aligned spans (round 8): the same matched-shingle
# relation, merged along (pair, diagonal) instead of per doc — the
# DuckDB side replays the identical self-join + gaps-and-islands, so
# span boundaries AND lengths are value-checked. max_shingle_occ = 20
# drops boilerplate shingles in BOTH engines before pairing.
_DUP_PAIR_MAX_OCC = 20


@query(
    "dedup_duplicated_spans_pairwise",
    f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(generate_series(1, length(text) - {_DUP_SPANS_K - 1}))
               AS i,
             text
      FROM documents WHERE length(text) >= {_DUP_SPANS_K}
    ), sh AS (
      SELECT doc_id, i,
             substr(md5(substr(text, i::INT, {_DUP_SPANS_K})), 1, 16) AS h
      FROM pos
    ), keep AS (
      SELECT h FROM sh GROUP BY h
      HAVING min(doc_id) <> max(doc_id)
         AND count(*) <= {_DUP_PAIR_MAX_OCC}
    ), f AS (
      SELECT doc_id, i, h FROM sh WHERE h IN (SELECT h FROM keep)
    ), cells AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS i, b.i AS j
      FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT id_a, id_b, i, j, j - i AS diag,
             i - row_number() OVER (
               PARTITION BY id_a, id_b, j - i ORDER BY i
             ) AS island
      FROM cells
    )
    SELECT id_a, id_b,
           min(i)::BIGINT AS a_start,
           (max(i) + {_DUP_SPANS_K - 1})::BIGINT AS a_end,
           min(j)::BIGINT AS b_start,
           (max(j) + {_DUP_SPANS_K - 1})::BIGINT AS b_end,
           (max(i) - min(i) + {_DUP_SPANS_K})::BIGINT AS span_chars
    FROM isl GROUP BY id_a, id_b, diag, island
    ORDER BY id_a, id_b, a_start, b_start
    """,
)
def dedup_duplicated_spans_pairwise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import duplicated_spans_pairwise

    return duplicated_spans_pairwise(
        load_for_compute(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=_DUP_SPANS_K,
        max_shingle_occ=_DUP_PAIR_MAX_OCC,
    )


# Cross-relation contamination spans (round 8): the pairwise span
# operator pointed across a train/eval split — "which exact TRAIN
# passages appear verbatim in the EVAL set, where, and how long".
# This is the contamination LOCALIZER that turns decontamination
# from a boolean filter into an auditable report (Lee et al. 2022 /
# GPT-3 appendix-C style n-gram overlap, at aligned-span
# granularity). Eval = doc_id % 7 = 0 here (deterministic split).
_CONTAM_K = 40
_CONTAM_MAX_OCC = 30


@query(
    "pipeline_contamination_spans",
    f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(generate_series(1, length(text) - {_CONTAM_K - 1}))
               AS i,
             text
      FROM documents WHERE length(text) >= {_CONTAM_K}
    ), sh AS (
      SELECT doc_id, i,
             substr(md5(substr(text, i::INT, {_CONTAM_K})), 1, 16) AS h
      FROM pos
    ), sa AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
    sb AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
    keep AS (
      SELECT a.h FROM
        (SELECT h, count(*) AS ca FROM sa GROUP BY h) a
        JOIN (SELECT h, count(*) AS cb FROM sb GROUP BY h) b
          ON a.h = b.h
      WHERE a.ca + b.cb <= {_CONTAM_MAX_OCC}
    ), cells AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS i, b.i AS j
      FROM sa a JOIN sb b ON a.h = b.h
      WHERE a.h IN (SELECT h FROM keep)
        AND b.h IN (SELECT h FROM keep)
    ), isl AS (
      SELECT id_a, id_b, i, j, j - i AS diag,
             i - row_number() OVER (
               PARTITION BY id_a, id_b, j - i ORDER BY i
             ) AS island
      FROM cells
    )
    SELECT id_a AS train_id, id_b AS eval_id,
           min(i)::BIGINT AS a_start,
           (max(i) + {_CONTAM_K - 1})::BIGINT AS a_end,
           min(j)::BIGINT AS b_start,
           (max(j) + {_CONTAM_K - 1})::BIGINT AS b_end,
           (max(i) - min(i) + {_CONTAM_K})::BIGINT AS span_chars
    FROM isl GROUP BY id_a, id_b, diag, island
    ORDER BY train_id, eval_id, a_start, b_start
    """,
)
def pipeline_contamination_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup import duplicated_spans_pairwise

    docs = load_for_compute(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 7 != 0)
    evals = docs.where(F.col("doc_id") % 7 == 0)
    out = duplicated_spans_pairwise(
        train,
        "text",
        "doc_id",
        k=_CONTAM_K,
        max_shingle_occ=_CONTAM_MAX_OCC,
        df_b=evals,
    )
    return out.select(
        F.col("id_a").alias("train_id"),
        F.col("id_b").alias("eval_id"),
        "a_start",
        "a_end",
        "b_start",
        "b_end",
        "span_chars",
    )


# Span EXCISION (round 8): the removal half of substring dedup —
# duplicated_spans finds cross-doc passages, excise_spans cuts them
# out (Lee et al. 2022 apply exactly this to the training corpus).
# The oracle rebuilds every cleaned document with the same
# gap-keeping fold in DuckDB and compares an order-canonical md5 of
# the cleaned text per language — the driver row therefore checks
# the actual string surgery, not just the removed-char accounting.


@query(
    "pipeline_span_excision",
    f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(generate_series(1, length(text) - {_DUP_SPANS_K - 1}))
               AS i,
             text
      FROM documents WHERE length(text) >= {_DUP_SPANS_K}
    ), sh AS (
      SELECT doc_id, i,
             substr(md5(substr(text, i::INT, {_DUP_SPANS_K})), 1, 16) AS h
      FROM pos
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING min(doc_id) <> max(doc_id)
    ), flagged AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
      FROM sh WHERE h IN (SELECT h FROM dup)
    ), spans AS (
      SELECT doc_id,
             min(i)::BIGINT AS s,
             (max(i) + {_DUP_SPANS_K - 1})::BIGINT AS e
      FROM flagged GROUP BY doc_id, i - rn
    ), pieces AS (
      SELECT sp.doc_id, sp.s, sp.e,
             lag(sp.e, 1, 0) OVER (
               PARTITION BY sp.doc_id ORDER BY sp.s
             ) AS pe,
             d.text
      FROM spans sp JOIN documents d ON d.doc_id = sp.doc_id
    ), gaps AS (
      SELECT doc_id,
             count(*) AS n_spans,
             string_agg(substr(text, (pe + 1)::INT,
                               greatest((s - pe - 1)::INT, 0)),
                        '' ORDER BY s) AS kept,
             max(e) AS laste
      FROM pieces GROUP BY doc_id
    ), cleaned AS (
      SELECT d.doc_id, d.lang, d.text,
             COALESCE(g.n_spans, 0) AS n_spans,
             COALESCE(g.kept, '') ||
               substr(d.text, (COALESCE(g.laste, 0) + 1)::INT,
                      greatest((length(d.text)
                                - COALESCE(g.laste, 0))::INT, 0))
               AS clean_text
      FROM documents d LEFT JOIN gaps g ON d.doc_id = g.doc_id
    )
    SELECT lang,
           count(*) AS n_docs,
           sum(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END)::BIGINT
             AS docs_touched,
           sum(n_spans)::BIGINT AS spans_total,
           sum(length(text))::BIGINT AS chars_before,
           sum(length(clean_text))::BIGINT AS chars_after,
           md5(string_agg(md5(clean_text), '' ORDER BY doc_id))
             AS clean_digest
    FROM cleaned GROUP BY lang ORDER BY lang
    """,
)
def pipeline_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import excise_spans

    docs = load_for_compute(spark, sf_dir, "documents")
    spans = duplicated_spans(docs, "text", "doc_id", k=_DUP_SPANS_K)
    cleaned = excise_spans(
        docs.select("doc_id", "text"), spans, "text", "doc_id"
    )
    # excise_spans keys by id_col; re-attach lang for the rollup
    cleaned = cleaned.join(
        docs.select(F.col("doc_id").alias("id"), "lang"), "id"
    )
    per_doc_digest = F.md5(F.col("clean_text").cast("binary"))
    return (
        cleaned.select(
            "id", "lang", "n_spans",
            F.length("text").alias("cb"),
            F.length("clean_text").alias("ca"),
            per_doc_digest.alias("h"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_spans") > 0).cast("long")).alias(
                "docs_touched"
            ),
            F.sum("n_spans").alias("spans_total"),
            F.sum("cb").alias("chars_before"),
            F.sum("ca").alias("chars_after"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("id", "h"))
                        ),
                        lambda x: x["h"],
                    ),
                ).cast("binary")
            ).alias("clean_digest"),
        )
        .orderBy("lang")
    )


def _leakage_safe_split_oracle() -> str:
    from ..operators.sampling import split_assign_sql
    from .sampling_q import SPLIT_FRACTIONS, SPLIT_SEED

    assign = split_assign_sql("cluster_id", SPLIT_FRACTIONS, SPLIT_SEED)
    return f"""{cc_closure_sql(_minhash_oracle())},
    clusters AS (
      SELECT node AS doc_id, min(label) AS cluster_id
      FROM walk GROUP BY node
    ),
    keyed AS (
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id, {assign} AS split FROM keyed
    """


@query("pipeline_leakage_safe_split", _leakage_safe_split_oracle())
def pipeline_leakage_safe_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe train/valid/test split: the hash split keys on the
    NEAR-DUP CLUSTER id, not the document id, so every member of a
    near-duplicate cluster lands on the same side of the split — the
    guard real pipelines need so eval answers don't leak into train
    through paraphrased copies. Singletons key on their own id.

    Plan shape: the pair graph + pointer-jumping components are the
    existing dedup machinery; the split itself is one narrow hashed
    CASE over the (doc, cluster) frame — no extra shuffle beyond the
    CC join."""
    from ..operators.graph import connected_components
    from ..operators.sampling import split_assign
    from .sampling_q import SPLIT_FRACTIONS, SPLIT_SEED

    docs = load_for_compute(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", k=K, rows_per_band=ROWS_PER_BAND,
        shingle_n=SHINGLE_N,
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    keyed = (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    return keyed.select(
        "doc_id",
        "cluster_id",
        split_assign(
            F.col("cluster_id"), SPLIT_FRACTIONS, SPLIT_SEED
        ).alias("split"),
    )


# --- content-defined chunking (round 9) ------------------------------------
# Sub-document dedup primitive: Gear rolling-hash boundaries (pure
# variant — no min/max clamps, so the cut decision is a function of
# the last MASK_BITS (6) chars only, since the mask test reads the
# state's low bits: parallel per position, stable
# under repartitioning, shift-invariant, and exactly replayable
# below in DuckDB list algebra). operators/cdc.py documents the
# 100 TB shape; all constants are shared between engines through the
# operator module so they cannot drift.

CDC_SPAN_SUBSET = 25  # the SQL replay pays O(window) per position;
# 1-in-25 docs keeps the span check a microbenchmark (the signal is
# per-length-class, not row count — dedup_cdc_shared_chunks covers
# the full corpus)
CDC_SHARED_SUBSET = 2  # a microbenchmark at driver-check scale


def _cdc_base_ctes(where: str) -> str:
    from ..operators.cdc import GOLD, MASK_BITS, MOD, WINDOW

    return f"""
    d AS (
      SELECT doc_id, text FROM documents
      WHERE {where} AND length(text) > 0
    ),
    c AS (
      SELECT doc_id, text,
             list_transform(
               list_filter(string_split(text, ''), ch -> ch <> ''),
               ch -> CAST(ascii(ch) AS BIGINT)) AS codes
      FROM d
    ),
    gg AS (
      SELECT *, list_transform(
        codes, b -> ((b % 256) + 1) * {GOLD} % {MOD}) AS gs
      FROM c
    ),
    hh AS (
      SELECT *, list_transform(
        range(1, len(gs) + 1),
        i -> list_reduce(
               list_prepend(
                 CAST(0 AS BIGINT),
                 list_slice(gs, greatest(1, i - {WINDOW} + 1),
                            CAST(i AS INT))),
               (a, v) -> (a * 2 + v) % {MOD})) AS hs
      FROM gg
    ),
    ee AS (
      SELECT *, list_filter(
        list_transform(
          range(1, len(hs) + 1),
          i -> CASE WHEN hs[CAST(i AS INT)] % {1 << MASK_BITS} = 0
                    THEN i ELSE -1 END),
        x -> x >= 0) AS ends
      FROM hh
    ),
    aa AS (
      SELECT *, list_concat(
        list_concat([CAST(0 AS BIGINT)],
                    list_filter(ends, e -> e < len(codes))),
        [CAST(len(codes) AS BIGINT)]) AS aug
      FROM ee
    ),
    sp AS (
      SELECT doc_id, text, CAST(i AS BIGINT) AS chunk_ord,
             aug[CAST(i AS INT)] + 1 AS chunk_start,
             aug[CAST(i AS INT) + 1] - aug[CAST(i AS INT)] AS chunk_len
      FROM aa, unnest(range(1, len(aug))) AS t(i)
    )
    """


def _cdc_chunk_fp_sql() -> str:
    return poly_hash_duckdb(
        "substr(text, CAST(chunk_start AS INT), CAST(chunk_len AS INT))"
    )


def _cdc_spans_oracle() -> str:
    return f"""
    WITH {_cdc_base_ctes(f"doc_id % {CDC_SPAN_SUBSET} = 0")}
    SELECT doc_id, chunk_ord, chunk_start, chunk_len,
           {_cdc_chunk_fp_sql()} AS chunk_fp
    FROM sp
    """


@query("dedup_cdc_chunk_spans", _cdc_spans_oracle())
def dedup_cdc_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import cdc_chunks

    # The numpy chunker (the kernel every CDC query runs) replaced an
    # O(window) per-position expression fold that made this row the
    # suite's one budget violator (4.8 s at 8 cores). The plain scan
    # replaces the former hard-coded repartition(32): the Arrow kernel
    # wants few large batches, and at 100 TB the scan arrives
    # pre-split.
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % CDC_SPAN_SUBSET == 0
    )
    return cdc_chunks(docs)


def _cdc_shared_oracle() -> str:
    from ..operators.cdc import MIN_DOCS, MIN_LEN

    return f"""
    WITH {_cdc_base_ctes(f"doc_id % {CDC_SHARED_SUBSET} = 0")},
    fp AS (
      SELECT doc_id, chunk_len,
             {_cdc_chunk_fp_sql()} AS chunk_fp
      FROM sp WHERE chunk_len >= {MIN_LEN}
    )
    SELECT chunk_fp,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences,
           max(chunk_len) AS max_len
    FROM fp GROUP BY chunk_fp
    HAVING count(DISTINCT doc_id) >= {MIN_DOCS}
    """


@query("dedup_cdc_shared_chunks", _cdc_shared_oracle())
def dedup_cdc_shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import cdc_shared_chunks

    # plain scan (round 12): the numpy chunker wants few large Arrow
    # batches — the former widen+repartition(32) sliced 2.5k docs into
    # 32 tiny python tasks for a kernel that does ~ms of work
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % CDC_SHARED_SUBSET == 0
    )
    return cdc_shared_chunks(docs)


def _cdc_ratio_oracle() -> str:
    from ..operators.cdc import MIN_DOCS, MIN_LEN

    return f"""
    WITH {_cdc_base_ctes(f"doc_id % {CDC_SHARED_SUBSET} = 0")},
    fp AS (
      SELECT doc_id, chunk_len,
             {_cdc_chunk_fp_sql()} AS chunk_fp
      FROM sp WHERE chunk_len >= {MIN_LEN}
    ),
    shx AS (
      SELECT chunk_fp FROM fp GROUP BY chunk_fp
      HAVING count(DISTINCT doc_id) >= {MIN_DOCS}
    ),
    per AS (
      SELECT doc_id,
             CAST(sum(chunk_len) AS BIGINT) AS dup_chars,
             count(*) AS n_dup_chunks
      FROM fp WHERE chunk_fp IN (SELECT chunk_fp FROM shx)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           COALESCE(p.dup_chars, 0) AS dup_chars,
           CAST(COALESCE(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
           round(COALESCE(p.dup_chars, 0) / length(d.text), 6)
             AS dup_ratio
    FROM d LEFT JOIN per p ON p.doc_id = d.doc_id
    """


@query("dedup_cdc_duplication_ratio", _cdc_ratio_oracle())
def dedup_cdc_duplication_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document duplicate-content ratio over the CDC chunk
    relation (round 10): the fraction of each document's characters
    covered by chunks shared with other documents — the doc-level
    signal a 100 TB pipeline gates boilerplate on. One chunking pass,
    one window over the fingerprint that marks shared chunks, one
    per-doc rollup (``operators.cdc.cdc_duplication_ratio``); the
    oracle replays the gear closed form in SQL and decides sharing
    with an aggregate plus IN-subquery."""
    from ..operators.cdc import cdc_duplication_ratio

    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % CDC_SHARED_SUBSET == 0
    )
    return cdc_duplication_ratio(docs)
