"""Edge-case behavior of text/dedup/similarity operators: empty and
sub-shingle documents, single tokens, unicode — the rows that break
naive HOF expressions (empty-array folds, ANSI element_at, etc.)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = [
        (0, ""),                      # empty
        (1, "   "),                   # whitespace only
        (2, "one"),                   # single token (< shingle n)
        (3, "two tokens"),            # still < n=3
        (4, "exactly three tokens here no wait five"),
        (5, "ünïcodé tökens with ümlauts and émojis 🎉 ok"),
        (6, "a a a a a a a a"),       # degenerate repeats
        (7, "exactly three tokens here no wait five"),  # dup of 4
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_shingle_hashes_empty_and_short(spark, edge_docs):
    from baseline_magician_spark.functions.hashing import shingle_hashes

    got = {
        r.doc_id: r.n
        for r in edge_docs.select(
            "doc_id", F.size(shingle_hashes("text", 3)).alias("n")
        ).collect()
    }
    assert got[0] == 0 and got[1] == 0  # no tokens -> no shingles
    assert got[2] == 0 and got[3] == 0  # < n tokens -> no shingles
    assert got[4] == 5  # 7 tokens -> 5 shingles
    assert got[6] == 1  # repeats collapse to one distinct shingle


def test_minhash_skips_shingleless_docs(spark, edge_docs):
    from baseline_magician_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(edge_docs, "text", "doc_id").collect()
    # only the duplicate pair (4, 7) can collide on all bands
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(4, 7)}
    assert all(r.n_shared_bands == 4 for r in pairs)


def test_simhash_defined_for_empty(spark, edge_docs):
    from baseline_magician_spark.operators.dedup import simhash_relation

    got = {
        r._id: r.sh
        for r in simhash_relation(edge_docs, "text", "doc_id").collect()
    }
    # empty docs: zero votes -> every bit >= 0 -> all bits set
    assert got[0] == (1 << 30) - 1
    # identical docs -> identical fingerprints
    assert got[4] == got[7]


def test_unicode_tokens_and_quality(spark, edge_docs):
    from baseline_magician_spark.operators.text import quality_stats

    row = (
        edge_docs.where("doc_id = 5")
        .select(*quality_stats("text"))
        .first()
    )
    assert row.n_tokens == 8
    assert row.n_chars > 0


def test_exact_dedup_groups_on_duplicates(spark, edge_docs):
    from baseline_magician_spark.operators.dedup import exact_dedup_groups

    groups = exact_dedup_groups(edge_docs, "text", "doc_id").collect()
    by_count = [g for g in groups if g.n_copies == 2]
    assert len(by_count) == 1 and by_count[0].keep_id == 4


def test_connected_components_handles_chains(spark):
    from baseline_magician_spark.operators.graph import connected_components

    # chain 1-2-3-4 + triangle 10-11-12 + isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    cc = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_ngrams_udtf_matches_builtin_shingles(spark):
    """The Python UDTF lateral path and the Catalyst HOF path must
    agree (same n-grams, order by position)."""
    from pyspark.sql import functions as F

    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.functions.hashing import token_shingles
    from baseline_magician_spark.operators.text import register_ngrams_udtf

    from conftest import SF_SMOKE

    register_ngrams_udtf(spark, "ngrams_udtf_t", n=2)
    docs = load_table(spark, SF_SMOKE, "documents").where(F.col("doc_id") < 30)
    docs.createOrReplaceTempView("_udtf_docs")
    via_udtf = spark.sql(
        "SELECT d.doc_id, g.ngram, g.pos "
        "FROM _udtf_docs d, LATERAL ngrams_udtf_t(d.text) g"
    ).collect()
    via_hof = docs.select(
        "doc_id",
        F.posexplode(token_shingles("text", 2)).alias("pos", "ngram"),
    ).collect()
    canon = lambda rows: sorted((r["doc_id"], r["ngram"], r["pos"]) for r in rows)
    assert canon(via_udtf) == canon(via_hof)


def test_asof_inner_keeps_match_with_null_first_value(spark):
    """A matched right row whose FIRST value column is NULL must still
    count as a match (the indicator is the carried struct, not a
    flattened field)."""
    from baseline_magician_spark.operators.asof_join import asof_join

    left = spark.createDataFrame(
        [(1, 12)], "k int, lts int"
    )
    right = spark.createDataFrame(
        [(1, 10, None, 5.0)], "k int, rts int, a int, b double"
    )
    out = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        value_cols=["a", "b"], how="inner",
    ).collect()
    assert len(out) == 1
    assert out[0]["asof_a"] is None and out[0]["asof_b"] == 5.0


def test_salted_join_rejects_outer_sides(spark):
    from baseline_magician_spark.operators.skew import salted_join

    f = spark.createDataFrame([(1, "a")], "k int, v string")
    d = spark.createDataFrame([(1, "x")], "k int, w string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="outer side"):
        salted_join(f, d, "k", how="full")


def test_minhash_bands_reject_non_divisible(spark, edge_docs, monkeypatch):
    from baseline_magician_spark import pyship
    from baseline_magician_spark.operators.dedup import minhash_band_relation

    shipped = []
    monkeypatch.setattr(pyship, "ensure_shipped", shipped.append)
    with pytest.raises(ValueError, match="must divide.*silently excluded"):
        minhash_band_relation(
            edge_docs, "text", "doc_id", k=8, rows_per_band=3
        )
    assert not shipped  # validated before the package zip ships


def test_split_assign_null_key_gets_null_label(spark):
    from pyspark.sql import functions as F

    from baseline_magician_spark.operators.sampling import split_assign

    df = spark.createDataFrame([(1,), (None,)], "k long")
    rows = df.select(
        split_assign(F.col("k"), {"a": 0.5, "b": 0.5}, "s").alias("sp")
    ).collect()
    labels = {r["sp"] for r in rows}
    assert None in labels and len(labels - {None}) == 1


def test_decode_stats_handles_empty_payloads(spark):
    from baseline_magician_spark.operators.multimodal import (
        META_SCHEMA, decode_stats,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_SCHEMA),
        ]
    )
    meta = {"media_type": "image", "byte_len": 0, "width": 0,
            "height": 0, "n_frames": 0}
    rows = [
        (1, bytearray(b""), meta),          # empty mid-batch
        (2, bytearray(b"\x05\x07"), meta),  # normal
        (3, bytearray(b""), meta),          # empty trailing
    ]
    out = {r["doc_id"]: r for r in
           decode_stats(spark.createDataFrame(rows, schema)).collect()}
    assert out[1]["checksum"] == 0 and out[3]["checksum"] == 0
    assert out[2]["checksum"] == 12  # not stolen by the empty neighbor


def test_pq_seed_vectors_encode_to_themselves(spark):
    """A codebook seed vector's subvectors are AT distance 0 from their
    own codebook entries, so the encoder must pick them (ties cannot
    beat an exact zero), and the ADC reconstruction must be exact."""
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.operators.similarity import (
        pq_encode,
        pq_seed_codebooks,
    )
    from conftest import SF_ORACLE
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_ORACLE, "embeddings")
    cbs = pq_seed_codebooks(emb, n_codes=16, m=4)
    enc = pq_encode(emb.where(F.col("vec_id") < 16), cbs)
    rows = enc.select("vec_id", "codes", "_recon").collect()
    assert len(rows) == 16
    orig = {
        int(r[0]): list(r[1])
        for r in emb.where(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .collect()
    }
    for r in rows:
        assert list(r["codes"]) == [r["vec_id"]] * 4
        assert [float(x) for x in r["_recon"]] == [
            float(x) for x in orig[r["vec_id"]]
        ]


def test_pq_adc_distance_nonnegative_and_ranked(spark):
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.operators.similarity import pq_adc_topk
    from conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    rows = pq_adc_topk(emb, k=5, n_query_vecs=2).collect()
    by_q = {}
    for r in rows:
        assert r["adc_dist"] >= 0.0
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)


def test_cc_pointer_jumping_is_logarithmic(spark):
    """A 64-node path graph has diameter 63: plain neighbor-min label
    propagation needs ~63 rounds, path halving must land in O(log n).
    Pins both the correctness (single component, min label) and the
    round bound that keeps chain-heavy near-dup graphs cheap."""
    from baseline_magician_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    out = graph.connected_components(
        edges, "src", "dst", driver_edge_cap=0
    ).collect()
    assert len(out) == 64
    assert all(r.cluster_id == 0 for r in out)
    assert graph.LAST_ROUNDS <= 10, graph.LAST_ROUNDS


def test_cc_adversarial_diameter_4096_path(spark):
    """Round-3 pinned the log-depth claim on a 64-node path; this pins
    it at a size where plain propagation would need ~4095 rounds. Path
    halving must converge within ~2*log2(n) rounds — the bound that
    makes worst-case chain graphs (not just clique-ish near-dup
    clusters) affordable at scale."""
    import math

    from baseline_magician_spark.operators import graph

    n = 4096
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = graph.connected_components(edges, "src", "dst", driver_edge_cap=0)
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.min("cluster_id").alias("m"),
    ).first()
    assert (agg.n, agg.k, agg.m) == (n, 1, 0)
    bound = 2 * int(math.log2(n))
    assert graph.LAST_ROUNDS <= bound, (graph.LAST_ROUNDS, bound)


def test_cc_two_long_cycles_with_bridge(spark):
    """Two 1000-node cycles joined by one bridge edge: a single
    component whose diameter is ~1000, with cycle topology (every node
    degree 2, no tree shortcuts). Correct single-component output in
    log-depth rounds."""
    import math

    from baseline_magician_spark.operators import graph

    m = 1000
    cyc_a = [(i, (i + 1) % m) for i in range(m)]
    cyc_b = [(m + i, m + (i + 1) % m) for i in range(m)]
    bridge = [(m // 2, m + m // 2)]
    edges = spark.createDataFrame(
        cyc_a + cyc_b + bridge, "src long, dst long"
    )
    out = graph.connected_components(edges, "src", "dst", driver_edge_cap=0)
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.min("cluster_id").alias("mn"),
    ).first()
    assert (agg.n, agg.k, agg.mn) == (2 * m, 1, 0)
    bound = 2 * int(math.log2(2 * m))
    assert graph.LAST_ROUNDS <= bound, (graph.LAST_ROUNDS, bound)


def test_duplicated_spans_merge_and_cross_doc_only(spark):
    from baseline_magician_spark.operators.dedup import duplicated_spans

    shared = "0123456789" * 2  # 20 chars, k=10 -> 11 dup positions
    rows = [
        # docs 1 and 2 share a 20-char passage at different offsets
        (1, "aaaa" + shared + "bbbb"),
        (2, "cc" + shared),
        # doc 3 repeats a passage INTRA-doc only -> must not flag
        (3, "x" * 5 + "qwertyuiop" + "y" * 3 + "qwertyuiop"),
        # doc 4 shorter than k -> no positions at all
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans(df, "text", "doc_id", k=10).collect()
    spans = {(r["id"], r["span_start"], r["span_end"]) for r in out}
    # doc 1: positions 5..15 duplicated -> one merged maximal span
    # covering chars 5..24; doc 2: positions 3..13 -> chars 3..22
    assert spans == {(1, 5, 24), (2, 3, 22)}
    assert all(r["span_chars"] == 20 for r in out)


def test_duplicated_spans_splits_on_gaps(spark):
    from baseline_magician_spark.operators.dedup import duplicated_spans

    a, b = "abcdefghij", "KLMNOPQRST"
    rows = [
        (1, a + "1111111111" + b),  # two separated shared passages
        (2, a + "2222222222" + b),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans(df, "text", "doc_id", k=10).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["id"], set()).add(
            (r["span_start"], r["span_end"])
        )
    # the middle filler differs -> islands must NOT merge across it
    assert per_doc[1] == {(1, 10), (21, 30)}
    assert per_doc[2] == {(1, 10), (21, 30)}


def test_duplicated_spans_pairwise_aligned_maximal(spark):
    from baseline_magician_spark.operators.dedup import (
        duplicated_spans_pairwise,
    )

    shared = "0123456789abcdefghij"  # 20 chars, k=10 -> 11 positions
    rows = [
        (1, "aaaa" + shared + "bbbb"),  # shared at a-offset 5..24
        (2, "cc" + shared),  # shared at b-offset 3..22
        (3, "unrelated text with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans_pairwise(df, "text", "doc_id", k=10).collect()
    got = {
        (r["id_a"], r["id_b"], r["a_start"], r["a_end"],
         r["b_start"], r["b_end"], r["span_chars"])
        for r in out
    }
    # one maximal ALIGNED span per pair, with both sides' offsets
    assert got == {(1, 2, 5, 24, 3, 22, 20)}


def test_duplicated_spans_pairwise_diagonals_do_not_merge(spark):
    from baseline_magician_spark.operators.dedup import (
        duplicated_spans_pairwise,
    )

    a, b = "abcdefghij", "KLMNOPQRST"
    rows = [
        (1, a + "1111111111" + b),
        (2, a + "22222" + b),  # different gap -> different diagonals
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans_pairwise(df, "text", "doc_id", k=10).collect()
    got = {
        (r["a_start"], r["a_end"], r["b_start"], r["b_end"])
        for r in out
    }
    # the two shared passages sit on DIFFERENT diagonals (b is 5
    # chars earlier in doc 2) -> two separate maximal spans
    assert got == {(1, 10, 1, 10), (21, 30, 16, 25)}


def test_duplicated_spans_pairwise_boilerplate_guard(spark):
    from baseline_magician_spark.operators.dedup import (
        duplicated_spans_pairwise,
    )

    boiler = "SAME-HEADER-EVERYWHERE-30CHARS"  # 30 chars
    # bodies share NO characters across docs (distinct letter runs),
    # so the only cross-doc shingles are the header's own
    rows = [(i, boiler + chr(96 + i) * 8) for i in range(1, 26)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # each header shingle occurs once per doc = 25 occurrences:
    # above the cap -> dropped entirely, no pairs explode
    out = duplicated_spans_pairwise(
        df, "text", "doc_id", k=10, max_shingle_occ=20
    ).collect()
    assert out == []
    # raising the cap brings the header pairs back
    out2 = duplicated_spans_pairwise(
        df, "text", "doc_id", k=10, max_shingle_occ=1000
    ).collect()
    assert len(out2) == 300  # C(25,2) pairs share the header span


def test_duplicated_spans_cross_relation_contamination(spark):
    from baseline_magician_spark.operators.dedup import (
        duplicated_spans_pairwise,
    )

    shared = "0123456789abcdefghij"  # 20 chars
    train = spark.createDataFrame(
        [(1, "xx" + shared), (2, "no overlap here at all......")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(10, shared + "tail"), (11, "also nothing shared.........")],
        "doc_id long, text string",
    )
    out = duplicated_spans_pairwise(
        train, "text", "doc_id", k=10, df_b=evals
    ).collect()
    got = {
        (r["id_a"], r["id_b"], r["a_start"], r["a_end"],
         r["b_start"], r["b_end"], r["span_chars"])
        for r in out
    }
    # train doc 1 chars 3..22 == eval doc 10 chars 1..20
    assert got == {(1, 10, 3, 22, 1, 20, 20)}


def test_excise_spans_cuts_and_passes_through(spark):
    from baseline_magician_spark.operators.dedup import excise_spans

    docs = spark.createDataFrame(
        [(1, "aaBBBBccDDDDee"), (2, "untouched")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 3, 6), (1, 9, 12)],  # BBBB and DDDD, 1-based inclusive
        "id long, span_start long, span_end long",
    )
    out = {r["id"]: r for r in
           excise_spans(docs, spans, "text", "doc_id").collect()}
    assert out[1]["clean_text"] == "aaccee"
    assert out[1]["n_spans"] == 2 and out[1]["chars_removed"] == 8
    assert out[2]["clean_text"] == "untouched"
    assert out[2]["n_spans"] == 0 and out[2]["chars_removed"] == 0


def test_excise_spans_edge_positions(spark):
    from baseline_magician_spark.operators.dedup import excise_spans

    docs = spark.createDataFrame(
        [(1, "XXab"), (2, "abXX"), (3, "XXXX")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 1, 2), (2, 3, 4), (3, 1, 4)],
        "id long, span_start long, span_end long",
    )
    out = {r["id"]: r["clean_text"] for r in
           excise_spans(docs, spans, "text", "doc_id").collect()}
    assert out == {1: "ab", 2: "ab", 3: ""}


def test_cc_driver_union_find_equals_distributed(spark):
    """The cap-gated driver union-find (optimization round 11) must
    produce the identical (node, cluster_id) relation as the
    distributed pointer-jumping loop, including on chain + cycle +
    singleton-free mixed topologies, and the cap boundary must route
    correctly (<= cap -> driver, > cap -> distributed)."""
    import random

    from baseline_magician_spark.operators import graph

    rng = random.Random(411)
    # mixed graph: a path, a cycle, a clique, random extra edges
    edges = (
        [(i, i + 1) for i in range(0, 40)]
        + [(100 + i, 100 + (i + 1) % 30) for i in range(30)]
        + [(200 + i, 200 + j) for i in range(8) for j in range(i + 1, 8)]
        + [(rng.randrange(300, 380), rng.randrange(300, 380)) for _ in range(60)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    drv = sorted(
        map(tuple, graph.connected_components(df, "src", "dst").collect())
    )
    assert graph.LAST_ROUNDS == 1  # took the driver path
    dist = sorted(
        map(
            tuple,
            graph.connected_components(
                df, "src", "dst", driver_edge_cap=0
            ).collect(),
        )
    )
    assert graph.LAST_ROUNDS > 1  # took the distributed loop
    assert drv == dist
    # cap boundary: edge count > cap falls through to distributed
    few = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
    out = sorted(
        map(
            tuple,
            graph.connected_components(
                few, "src", "dst", driver_edge_cap=2
            ).collect(),
        )
    )
    assert graph.LAST_ROUNDS > 1
    assert out == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]
    # cap boundary, other side: edge count == cap stays on the driver
    out = sorted(
        map(
            tuple,
            graph.connected_components(
                few, "src", "dst", driver_edge_cap=3
            ).collect(),
        )
    )
    assert graph.LAST_ROUNDS == 1
    assert out == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]


def test_cc_driver_path_string_ids(spark):
    """The round-12 vectorized driver path factorizes node ids through
    np.unique — which must keep working for STRING ids (object dtype),
    with the min-id representative under lexicographic order. (The
    distributed loop's decimal-sum convergence never supported string
    ids — ANSI cast error — so the driver path is the only string-id
    path and is pinned by value here.)"""
    from baseline_magician_spark.operators import graph

    df = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("z", "z")],
        "src string, dst string",
    )
    drv = sorted(
        map(tuple, graph.connected_components(df, "src", "dst").collect())
    )
    assert graph.LAST_ROUNDS == 1
    assert drv == [
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"), ("z", "z"),
    ]
