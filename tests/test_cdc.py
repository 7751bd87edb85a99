"""Content-defined chunking (round 9, operators/cdc.py): the
properties the operator exists for, independent of the DuckDB
oracle parity the driver checks.

- Partition: chunks tile the document exactly (starts/lens
  reconstruct the text, no gaps or overlaps).
- Shift invariance: prepending a prefix leaves every boundary that
  is at least WINDOW chars past the insertion at the same CONTENT
  position — the property that re-aligns duplicate content for
  sub-document dedup (fixed-size blocks lose it).
- Determinism under repartitioning: the boundary decision is a pure
  per-row function, so output is identical at any parallelism.
- Value identity with a pure-Python gear-hash model of the chunker
  (``ref_chunks``), which does not call the numpy kernel.
"""

from __future__ import annotations

from baseline_magician_spark.functions.hashing import (
    POLY_BASE,
    POLY_MOD,
    POLY_SEED,
)
from baseline_magician_spark.operators.cdc import (
    GOLD,
    MASK_BITS,
    MOD,
    WINDOW,
    cdc_chunks,
    cdc_shared_chunks,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while a train of "
    "careful tokens rolls across the window boundary again and "
    "again until the rolling state forgets everything older than "
    "its own tail and the cut points depend on content alone"
)


def ref_chunks(doc_id, text, mask_bits=MASK_BITS, window=WINDOW):
    """(id, chunk_ord, chunk_start, chunk_len, chunk_fp) rows: position
    i ends a chunk iff the fold acc*2 + gear over the trailing window
    of gear values, mod 2^61, has its low mask_bits bits zero."""
    g = [((ord(c) % 256) + 1) * GOLD % MOD for c in text]
    ends = []
    for i in range(len(g)):
        h = 0
        for v in g[max(0, i + 1 - window) : i + 1]:
            h = (h * 2 + v) % MOD
        if h % (1 << mask_bits) == 0 and i + 1 < len(g):
            ends.append(i + 1)
    rows, start = [], 0
    for o, end in enumerate(ends + [len(g)] if g else [], 1):
        fp = POLY_SEED
        for c in text[start:end]:
            fp = (fp * POLY_BASE + ord(c)) % POLY_MOD
        rows.append((doc_id, o, start + 1, end - start, fp))
        start = end
    return rows


def _mixed_docs():
    """67 documents: multibyte and non-BMP codepoints, empty and
    boundary-free tiny docs, and enough of them to share an Arrow
    batch."""
    import random

    rng = random.Random(17)
    lens = [0, 1, 5, 33, 64, 200, 401] + [rng.randrange(90) for _ in range(60)]
    return [
        (i, "".join(rng.choice("abcdef ghijé世\U0001f600") for _ in range(n)))
        for i, n in enumerate(lens)
    ]


def _chunks(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r["doc_id"], r["chunk_ord"]): (
            r["chunk_start"],
            r["chunk_len"],
            r["chunk_fp"],
        )
        for r in cdc_chunks(df).collect()
    }


def test_chunks_tile_the_document(spark):
    got = _chunks(spark, [(1, DOC)])
    spans = [v for (_d, _o), v in sorted(got.items())]
    assert spans[0][0] == 1
    pos = 1
    for start, ln, _fp in spans:
        assert start == pos and ln >= 1
        pos += ln
    assert pos - 1 == len(DOC)


def test_shift_invariance_realigns_boundaries(spark):
    prefix = "INSERTED-PREFIX-0123456789: "
    got = _chunks(spark, [(1, DOC), (2, prefix + DOC)])
    b1 = {
        start + ln - 1
        for (d, _o), (start, ln, _fp) in got.items()
        if d == 1
    }
    b2 = {
        start + ln - 1 - len(prefix)
        for (d, _o), (start, ln, _fp) in got.items()
        if d == 2
    }
    stable1 = {b for b in b1 if b >= WINDOW and b < len(DOC)}
    # every interior boundary of the unshifted doc that has a full
    # window of shared context reappears at the same content offset
    assert stable1, "test document produced no interior boundaries"
    assert stable1 <= b2


def test_empty_and_tiny_documents(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "ab")], "doc_id long, text string"
    )
    rows = cdc_chunks(df).collect()
    ids = {r["doc_id"] for r in rows}
    assert 1 not in ids  # empty doc -> no chunks
    for d, txt in ((2, "a"), (3, "ab")):
        spans = sorted(
            (r["chunk_start"], r["chunk_len"])
            for r in rows
            if r["doc_id"] == d
        )
        assert spans[0][0] == 1
        assert sum(ln for _s, ln in spans) == len(txt)


def test_chunks_equal_gear_model(spark):
    """The numpy chunker emits exactly the model's rows — same
    constants, same codepoint stream, same spans, same fingerprints —
    including multibyte and non-BMP codepoints, boundary-free tiny docs,
    and many documents in one Arrow batch (a document's first positions
    must not see the previous document's tail)."""
    rows = _mixed_docs()
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    got = sorted(map(tuple, cdc_chunks(df).collect()))
    assert got == sorted(r for i, t in rows for r in ref_chunks(i, t))
    assert got, "non-empty docs must produce chunks"


def test_cuts_read_only_the_last_mask_bits_chars():
    """The kernel folds only MASK_BITS taps; the model and the oracles
    replay WINDOW. They agree because the cut test reads the low
    mask_bits bits of the state, and a tap at shift k >= mask_bits
    adds a multiple of 2^k, which cannot reach them. A change that lets
    the high bits decide a cut (a FastCDC-style spread mask) breaks
    this equality and must update this test."""
    for i, t in _mixed_docs():
        assert ref_chunks(i, t, window=MASK_BITS) == ref_chunks(i, t), i


def test_repartition_invariant_and_shared_chunks(spark):
    import random

    # NON-periodic shared content: a repeated phrase has only
    # period-many distinct rolling states, and if none hits the mask
    # the whole run cuts no boundary (observed — (63/64)^period odds)
    rng = random.Random(7)
    shared = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(420)
    )
    rows = [
        (1, "left " + shared + " tail one"),
        (2, "a different head " + shared + " other tail"),
        (3, "unrelated text with nothing in common here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, cdc_chunks(df).collect()))
    b = sorted(map(tuple, cdc_chunks(df.repartition(7)).collect()))
    assert a == b
    dup = cdc_shared_chunks(df).collect()
    assert any(r["n_docs"] >= 2 for r in dup), (
        "duplicated run across docs 1 and 2 must surface at least "
        "one shared chunk fingerprint"
    )


def test_string_doc_ids_preserved(spark):
    """The mapInPandas schema takes the id field's dtype from the
    SOURCE column — string doc ids must round-trip with the same spans
    a long-id rendering of the same texts produces."""
    rows = [("doc-a", DOC), ("doc-b", "short one"), ("doc-c", DOC + " tail")]
    sdf = spark.createDataFrame(rows, "doc_id string, text string")
    got = cdc_chunks(sdf).collect()
    assert got and dict(cdc_chunks(sdf).dtypes)["doc_id"] == "string"
    by_id = {}
    for r in got:
        by_id.setdefault(r["doc_id"], []).append(
            (r["chunk_ord"], r["chunk_start"], r["chunk_len"], r["chunk_fp"])
        )
    ldf = spark.createDataFrame(
        [(i, t) for i, (_s, t) in enumerate(rows)], "doc_id long, text string"
    )
    by_num = {}
    for r in cdc_chunks(ldf).collect():
        by_num.setdefault(r["doc_id"], []).append(
            (r["chunk_ord"], r["chunk_start"], r["chunk_len"], r["chunk_fp"])
        )
    for i, (sid, _t) in enumerate(rows):
        assert sorted(by_id[sid]) == sorted(by_num[i])


def test_duplication_ratio_bounds_and_signal(spark):
    """cdc_duplication_ratio: ratios in [0, 1]; a doc sharing a long
    run with another doc scores high; a unique-content doc scores 0;
    dup_chars never exceeds n_chars; the counts equal the gear model's
    shared-fingerprint rollup."""
    import random

    from baseline_magician_spark.operators.cdc import (
        cdc_duplication_ratio,
    )

    rng = random.Random(11)
    shared = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(500)
    )
    uniq = "".join(
        rng.choice("0123456789+-*/=#@!%&") for _ in range(300)
    )
    rows = [
        (1, "head " + shared + " tail"),
        (2, "other prefix " + shared + " different suffix"),
        (3, uniq),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r for r in cdc_duplication_ratio(df).collect()
    }
    for i, t in rows:
        r = got[i]
        assert r["n_chars"] == len(t)
        assert 0 <= r["dup_chars"] <= r["n_chars"], i
        assert 0.0 <= r["dup_ratio"] <= 1.0, i
    assert got[1]["dup_ratio"] > 0.5, "shared-run doc must score high"
    assert got[2]["dup_ratio"] > 0.5
    assert got[3]["dup_ratio"] == 0.0, "unique doc must score 0"
    chunks = [c for i, t in rows for c in ref_chunks(i, t) if c[3] >= 8]
    docs_of: dict = {}
    for i, _o, _s, _ln, fp in chunks:
        docs_of.setdefault(fp, set()).add(i)
    for i, t in rows:
        dup = [c[3] for c in chunks if c[0] == i and len(docs_of[c[4]]) >= 2]
        r = got[i]
        assert (r["dup_chars"], r["n_dup_chunks"]) == (sum(dup), len(dup)), i
        assert abs(r["dup_ratio"] - sum(dup) / len(t)) <= 5e-7, i


def test_null_text_and_null_ids(spark):
    """A NULL text has no chunks, like an empty one; string ids (a NULL,
    an empty and a non-BMP one among them) come back as their Arrow
    values, with the model's spans."""
    rows = [
        (None, DOC),
        ("", "short \U0001f600 text with an astral char " * 3),
        ("\U0001f600", "é世" * 50),
        ("null-text", None),
        ("empty-text", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string").coalesce(1)
    got = sorted((tuple(r) for r in cdc_chunks(df).collect()), key=repr)
    want = sorted((r for i, t in rows if t for r in ref_chunks(i, t)), key=repr)
    assert got == want
    assert {r[0] for r in got} == {None, "", "\U0001f600"}
