"""Scale-ladder stress check: do the headline operators scale
~linearly with input size, or is a hidden quadratic waiting at 100 TB?

Replicates the sf0.1 inputs x1 / x4 / x16 in-memory (ids offset per
replica; document text salted with a per-replica token so near-dup
structure stays per-replica instead of exploding cross-replica) and
times representative operators at each rung. A healthy operator's
time ratio between rungs stays near the data ratio (x4); a quadratic
one blows past it.

Run:  python stress.py            (~2-4 min, local[32])
Output: one JSON line per rung, then a PASS/FAIL linearity verdict.
Recorded results live in SCALE.md §Measured-scaling.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
FACTORS = (1, 4, 16)
# allowed slowdown ratio per x4 data: 4 is linear; plan overhead makes
# small rungs look sublinear, skew/quadratic blowups look superlinear
MAX_RATIO_PER_X4 = 6.0

# candidate-driven ops: the replica salting leaves cross-replica
# shingles mostly identical, so LSH CANDIDATE pairs grow superlinearly
# by construction (an adversarially dup-dense corpus). For these, cost
# must track the candidate count, not the corpus size — the op passes
# if its time ratio stays under the candidate-count ratio (x1.5 slack)
# even when that exceeds the data-linear bar. Maps op -> the op whose
# rows_out IS its candidate count.
CANDIDATE_DRIVEN = {"edit_distance_pairs": "minhash_lsh_pairs"}


def replicate(df: DataFrame, k: int, id_cols: list[str], salt_text: bool) -> DataFrame:
    if k == 1:
        return df
    r = df.crossJoin(F.broadcast(
        df.sparkSession.range(k).select(F.col("id").alias("_rep"))
    ))
    for c in id_cols:
        r = r.withColumn(c, F.col(c) * k + F.col("_rep"))
    if salt_text:
        r = r.withColumn(
            "text", F.concat(F.lit("r"), F.col("_rep").cast("string"),
                             F.lit(" "), F.col("text"))
        )
    return r.drop("_rep")


def main() -> None:
    from baseline_magician_spark.session import get_spark

    # the tuned engine session — same conf the bench/tests run under
    # (UTC, AQE sub-flags, Arrow, lz4), so rung timings predict them
    spark = get_spark(
        app_name="scale-ladder",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "24g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.functions.hashing import tokens
    from baseline_magician_spark.operators.dedup import minhash_lsh_pairs
    from baseline_magician_spark.operators.sampling import quota_per_group

    li0 = load_table(spark, SF_DIR, "lineitem")
    docs0 = load_table(spark, SF_DIR, "documents")
    ev0 = load_table(spark, SF_DIR, "events")
    emb0 = load_table(spark, SF_DIR, "embeddings")

    def q1_agg(k: int) -> int:
        li = replicate(li0, k, ["l_orderkey"], salt_text=False)
        # consume the AGGREGATED VALUES, not .count() — counting rows
        # lets Catalyst prune the sums entirely (same pitfall as
        # window_sum below) and the rung would time a 2-column distinct
        agg = li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").alias("sq"),
            F.avg("l_extendedprice").alias("ap"),
            F.count(F.lit(1)).alias("n"),
        )
        row = agg.agg(F.sum("sq"), F.sum("ap"), F.sum("n")).collect()[0]
        return int(row[2])

    def minhash(k: int) -> int:
        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        return minhash_lsh_pairs(docs, "text", "doc_id", k=8,
                                 rows_per_band=2, shingle_n=3).count()

    def quota(k: int) -> int:
        docs = replicate(docs0, k, ["doc_id"], salt_text=False)
        return quota_per_group(docs, "source", 120, "doc_id").count()

    def window_sum(k: int) -> int:
        from pyspark.sql import Window as W

        ev = replicate(ev0, k, ["event_id", "user_id"], salt_text=False)
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        # aggregate OVER the windowed column: .count() alone lets
        # Catalyst prune the window away (cardinality-preserving)
        return int(
            ev.select(
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .over(w)
                .alias("rs")
            )
            .agg(F.max("rs"))
            .collect()[0][0]
        )

    def token_stats(k: int) -> int:
        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        return int(
            docs.agg(F.sum(F.size(tokens("text")))).collect()[0][0]
        )

    # --- round-2 operators (round-3 ladder additions) ---

    def cms_heavy(k: int) -> int:
        """One-pass CMS: exact (shingle, doc_freq) once; sketch derives
        cell-weighted from it. Cost driver = the shingle scan + one
        uniform groupBy shuffle — should track the token_scan rung."""
        from baseline_magician_spark.functions.hashing import token_shingles
        from baseline_magician_spark.operators.text import count_min_sketch

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        shingles = docs.select(
            F.explode(F.array_distinct(token_shingles("text", 2))).alias("s")
        )
        exact = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("doc_freq"))
        _, probe = count_min_sketch(
            exact, "s", depth=4, width=1024, weight_col="doc_freq"
        )
        top = exact.orderBy(F.desc("doc_freq"), F.asc("s")).limit(50)
        return probe(top, "s").count()

    def kmeans_three(k: int) -> int:
        """3 Lloyd steps; per-step cost = one map-side argmax pass +
        one (cell,pos) shuffle, plus a K x dim driver round-trip that
        is constant in data size — slope should be ~linear."""
        from baseline_magician_spark.operators.similarity import (
            ivf_train_step_flat,
        )
        from baseline_magician_spark.queries.similarity_q import N_CENTROIDS

        emb = replicate(emb0, k, ["vec_id"], salt_text=False)
        cents = None
        flat = None
        for step in range(3):
            flat = ivf_train_step_flat(
                emb, n_centroids=N_CENTROIDS, centroids=cents
            )
            if step < 2:
                by_cell: dict[int, list[tuple[int, float]]] = {}
                for r in flat.collect():
                    by_cell.setdefault(int(r["cell"]), []).append(
                        (int(r["pos"]), float(r["value"]))
                    )
                cents = [
                    (cell, [v for _, v in sorted(ps)])
                    for cell, ps in by_cell.items()
                ]
        return flat.count()

    def edit_distance(k: int) -> int:
        """LSH-gated Levenshtein verify: cost is driven by the LSH
        CANDIDATE count (per-replica salting keeps candidates linear in
        replicas), never by the all-pairs product."""
        from baseline_magician_spark.operators.dedup import (
            edit_distance_pairs,
        )

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        return edit_distance_pairs(
            docs, "text", "doc_id", max_distance=16,
            k=8, rows_per_band=2, shingle_n=3,
        ).count()

    # --- round-3 operators ---

    def pq_adc(k: int) -> int:
        """PQ encode + ADC top-k: encode is a pure projection against
        literal codebooks, queries broadcast (constant 5), so cost =
        one corpus pass + a per-query top-k over O(corpus) candidates
        — slope should be ~linear in replicas."""
        from baseline_magician_spark.operators.similarity import pq_adc_topk

        emb = replicate(emb0, k, ["vec_id"], salt_text=False)
        return pq_adc_topk(emb, k=10, n_query_vecs=5).count()

    def semantic_dedup(k: int) -> int:
        """Centroid-cell keep-best: map-side argmax (O(N*K*dim)) + one
        cell-key shuffle; output rows = K regardless of corpus size."""
        from baseline_magician_spark.operators.similarity import (
            semantic_keep_best,
        )

        emb = replicate(emb0, k, ["vec_id"], salt_text=False)
        cents = sorted(
            (int(r[0]), list(r[1]))
            for r in emb0.where(F.col("vec_id") < 16)
            .select("vec_id", "embedding")
            .collect()
        )
        return semantic_keep_best(emb, cents).count()

    def tfidf(k: int) -> int:
        """TF-IDF top-k: one corpus explode, (doc,term) agg, per-term
        count window, per-doc top-k — every shuffle on a uniform key;
        slope ~linear (per-term partitions grow k-fold in rows, the
        within-partition sort adds only log factors)."""
        from baseline_magician_spark.operators.text import tfidf_top_terms

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        return tfidf_top_terms(docs, "doc_id", "text", k=3).count()

    def bloom_screen(k: int) -> int:
        """Bloom screening: the filter is built from a FIXED reference
        set and broadcast; the corpus probe is map-side array_contains
        — cost is one corpus pass regardless of filter size."""
        from baseline_magician_spark.functions.hashing import token_shingles
        from baseline_magician_spark.operators.bloom import (
            bloom_probe,
            build_bloom,
        )

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        # the replicated frame is a synthetic single-split input k x the
        # real one; widen it over every slot as load_for_compute widens
        # the real query's scan — shingling is the per-row-expensive stage
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        term = F.explode(
            F.array_distinct(token_shingles(F.lower(F.col("text")), 3))
        ).alias("term")
        vocab = docs0.select(term).distinct()
        bloom = build_bloom(vocab, "term", m=32768)
        probe = docs.select("doc_id", term)
        return (
            bloom_probe(probe, "term", bloom, m=32768)
            .where(F.col("bloom_pass"))
            .count()
        )

    def rag_chunks(k: int) -> int:
        """Overlapping chunking: pure narrow posexplode projection —
        the no-shuffle control rung alongside token_scan."""
        from baseline_magician_spark.operators.chunking import (
            chunk_documents,
        )

        docs = replicate(docs0, k, ["doc_id"], salt_text=False)
        return chunk_documents(docs, "doc_id", "text", 200, 40).count()

    # --- round-4: the streaming family's ladder rungs (the only
    # operator family with no scaling row until now; SCALE.md
    # §Streaming sizes the state store, these rungs assert it under
    # growth) ---

    import shutil
    import tempfile

    def _replay(df: DataFrame, n_files: int = 4):
        """Materialize a frame as an n-file parquet dir and open it as
        a maxFilesPerTrigger=1 stream — n_files micro-batches under
        availableNow, independent of data size (batch COUNT constant,
        batch SIZE scales with the rung)."""
        src = tempfile.mkdtemp(prefix="bms_stress_stream_")
        df.repartition(n_files).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return src, stream

    def stream_sessionize(k: int) -> int:
        """Gap-session windows over a replayed stream: state keys =
        users (linear in replicas), per-batch work = batch rows; the
        state-store open/commit cost is per-partition-per-batch and
        constant across rungs (8 partitions x 4 batches)."""
        from baseline_magician_spark.queries.streaming_q import _run_bounded
        from baseline_magician_spark.streaming.baseline_stream import (
            streaming_sessionize,
        )

        ev = replicate(ev0, k, ["event_id", "user_id"], salt_text=False)
        # watermarks demand TIMESTAMP (catalog loads ntz); session tz
        # is pinned UTC so the cast is deterministic
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        src, stream = _replay(ev)
        try:
            out = _run_bounded(streaming_sessionize(stream))
            return out.count()
        finally:
            shutil.rmtree(src, ignore_errors=True)

    def stream_cms_merge(k: int) -> int:
        """Per-batch distributed CMS build + additive cell merge into
        standing state: per batch one uniform (row, bucket) shuffle
        over the BATCH only; merge target stays depth*width cells
        regardless of replicas — cost must track batch rows, state
        must not grow with history."""
        from baseline_magician_spark.operators.text import count_min_sketch

        ev = replicate(ev0, k, ["event_id", "user_id"], salt_text=False)
        src, stream = _replay(ev)
        cells: dict[tuple[int, int], int] = {}
        try:
            def handle(batch_df: DataFrame, _bid: int) -> None:
                keys = batch_df.select(
                    F.col("user_id").cast("string").alias("s")
                )
                sketch, _ = count_min_sketch(keys, "s", depth=4, width=1024)
                for r in sketch.collect():
                    kk = (r["row"], r["bucket"])
                    cells[kk] = cells.get(kk, 0) + int(r["cnt"])

            q = (
                stream.writeStream.foreachBatch(handle)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            q.stop()
        finally:
            shutil.rmtree(src, ignore_errors=True)
        return len(cells)  # bounded by depth*width at every rung

    def dsir(k: int) -> int:
        """DSIR importance weights: one tokenize+hash pass, a 512-row
        bucket aggregate, broadcast score join, one doc-id groupBy —
        slope should track token_scan (linear)."""
        from baseline_magician_spark.operators.text import (
            dsir_importance_weights,
        )

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        return dsir_importance_weights(docs, "text", "doc_id").count()

    def dup_spans(k: int) -> int:
        """Cross-doc duplicated-passage spans: position explode (~=
        corpus chars), shingle-hash min/max aggregate, semi join
        back, islands window. The salted replicas share their text
        bodies, so the dup-flag rate saturates at ~100% — the
        adversarial worst case — while distinct shingles stay
        constant; positions and flagged rows both grow linearly, so
        the slope should track token_scan."""
        from baseline_magician_spark.operators.dedup import (
            duplicated_spans,
        )

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        return duplicated_spans(docs, "text", "doc_id", k=40).count()

    def entropy(k: int) -> int:
        """Token entropy: one tokenize+explode pass, (group, token)
        count shuffle (vocabulary-sized after map-side combine), tiny
        per-group rollup — slope should track token_scan (linear).
        Salted text grows the vocabulary with the corpus, the
        worst case for the intermediate shuffle."""
        from baseline_magician_spark.operators.text import token_entropy

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        return token_entropy(docs).count()

    def stat_tape_folds(k: int) -> int:
        """Rank-fold statistical aggregates (Mann-Whitney U + KS +
        deltaSumTimestamp): group count stays constant (event_type)
        while group SIZE grows x4 per rung — the adversarial case for
        sorted-tape folds, whose per-group state is the group itself.
        sort_array is O(n log n) and the fold O(n); the slope should
        stay near-linear (the log factor rides inside the x6 bar)."""
        from baseline_magician_spark.plans.ch_sql import run_ch_query

        ev = replicate(ev0, k, ["event_id", "user_id"], salt_text=False)
        out = run_ch_query(
            """
            SELECT event_type,
                   tupleElement(mannWhitneyUTest(value, user_id % 2),
                       'u_statistic') AS u,
                   tupleElement(kolmogorovSmirnovTest(value,
                       user_id % 2), 'd_statistic') AS d,
                   deltaSumTimestamp(value, event_id) AS ds
            FROM events GROUP BY event_type
            """,
            {"events": ev},
        )
        return out.count()

    def assoc_stats(k: int) -> int:
        """Categorical association aggregates (cramersV + theilsU +
        contingency): the contingency cells derive from ONE O(n)
        run-length fold over the sorted tape and every statistic
        folds the SMALL cells array; group count stays constant
        while group size grows x4 — the slope must track the sort
        (near-linear). Guards the LET-binding discipline: the naive
        spelling re-derives the cells per element (quadratic)."""
        from baseline_magician_spark.plans.ch_sql import run_ch_query

        ev = replicate(ev0, k, ["event_id", "user_id"], salt_text=False)
        out = run_ch_query(
            """
            SELECT event_type,
                   round(cramersV(user_id % 7, event_id % 5), 6) AS v,
                   round(theilsU(user_id % 7, event_id % 5), 6) AS u,
                   round(contingency(user_id % 7, event_id % 5), 6)
                     AS cg
            FROM events GROUP BY event_type
            """,
            {"events": ev},
        )
        return out.count()

    def string_sim_scan(k: int) -> int:
        """Per-row string-similarity kernels (damerauLevenshtein DP +
        jaroWinkler two-pass fold) over bounded 16-char prefixes:
        per-row cost is constant, rows grow x4 — the slope should
        track token_scan. Guards the char-array LET binding (the
        naive spelling re-splits the strings per DP cell)."""
        from baseline_magician_spark.plans.ch_sql import run_ch_query

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        out = run_ch_query(
            """
            SELECT round(avg(damerauLevenshtein(substring(text, 1, 16),
                       reverse(substring(text, 1, 16)))), 4) AS dl,
                   round(avg(jaroWinklerSimilarity(substring(text, 1, 16),
                       reverse(substring(text, 1, 16)))), 6) AS jw
            FROM documents
            """,
            {"documents": docs},
        )
        return out.count()

    def rank_decay_weighted(k: int) -> int:
        """Round-6f/6h aggregate families in one pass: rankCorr is
        O(group²) BY DESIGN (documented average-tie rank filters), so
        the rung scales GROUP COUNT with the corpus at bounded group
        size — the operating regime its oracle row uses. The
        time-decayed fold, weighted quantile walk and ANOVA run fold
        (all O(group log group)) ride the same tape; total cost must
        track rows (linear)."""
        from baseline_magician_spark.plans.ch_sql import run_ch_query

        ev = replicate(ev0, k, ["event_id", "user_id"], salt_text=False)
        out = run_ch_query(
            f"""
            SELECT event_id % {40 * k} AS g,
                   round(rankCorr(value, event_id % 89), 6) AS rc,
                   round(quantileExactWeighted(0.5)(
                       value, 1 + event_id % 7), 6) AS qw,
                   round(exponentialTimeDecayedSum(3600.0)(
                       value, event_id), 4) AS es,
                   round(tupleElement(analysisOfVariance(
                       value, event_id % 4), 'f_statistic'), 6) AS af
            FROM events GROUP BY g
            """,
            {"events": ev},
        )
        return out.count()

    def bigram_lm(k: int) -> int:
        """Round-7 interpolated bigram-LM scorer: one tokenize pass,
        map-side array bigrams, vocab-sized broadcast joins, one
        corpus re-group. The bigram-count relation grows with
        OBSERVED bigram vocabulary (sub-linear under salted text),
        so total cost must track rows."""
        from baseline_magician_spark.queries.text_q import (
            text_bigram_lm,
        )

        docs = replicate(docs0, k, ["doc_id"], salt_text=True)
        import tempfile

        d = tempfile.mkdtemp(prefix="bigram_rung_")
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        try:
            return text_bigram_lm(spark, d).count()
        finally:
            import shutil

            shutil.rmtree(d, ignore_errors=True)

    def round7b_scan(k: int) -> int:
        """Round-7b per-row fold expressions: base58 encode+decode
        (O(len²) nested folds at bounded key length), bitSlice's
        per-output-byte shifts, and the direct-DFT period detector
        (O(24²) fold steps per row here). All are projections — no
        shuffle, no Python — so total cost must track rows."""
        from baseline_magician_spark.plans.ch_sql import run_ch_query

        docs = replicate(docs0, k, ["doc_id"], salt_text=False)
        out = run_ch_query(
            """
            SELECT doc_id % 64 AS g,
                   sum(length(base58Decode(base58Encode(
                     concat(source, ':', toString(doc_id)))))) AS rt,
                   sum(length(bitSlice(source, 3, 20))) AS bl,
                   sum(toInt64(seriesPeriodDetectFFT(arrayMap(
                     i -> toFloat64(i % (2 + doc_id % 3)),
                     range(24))))) AS fp
            FROM documents GROUP BY g
            """,
            {"documents": docs},
        )
        return out.count()

    def wrap_hash_scan(k: int) -> int:
        """String hash projections: byte-exact cityHash64 (all
        length classes incl. the chunk loop), canonical SipHash-2-4,
        and the intHash sampling keys — one projection through the
        Arrow hash kernel, no shuffle before the groupBy. Per-row
        cost is O(len) model work, so total must track rows; the
        fixed per-rung cost (plan build, Python-worker start) is paid
        once per rung invocation regardless of k, so the x4 ratios
        must stay well under 4."""
        from baseline_magician_spark.plans.ch_sql import run_ch_query

        ev = replicate(ev0, k, ["event_id", "user_id"],
                       salt_text=False)
        out = run_ch_query(
            """
            SELECT event_type AS g,
                   min(cityHash64(substring(
                     concat(event_type, toString(user_id),
                            '=+~=+~=+~=+~=+~=+~=+~=+~=+~=+~=+~=+~'),
                     1, toInt32(event_id % 100)))) AS ch,
                   max(sipHash64(concat('k', toString(user_id % 997))))
                     AS sh,
                   sum(intHash32(user_id)) AS ih
            FROM events GROUP BY g
            """,
            {"events": ev},
        )
        return out.count()

    def numeric_hash_scan(k: int) -> int:
        """Round-9 numeric-layout + combine-chain hash projections:
        bare BIGINT columns hash their native LE bytes (fixed
        8-byte chains, no per-row length dispatch), multi-arg runs
        the pair-combine fold, and murmurHash3_64 hashes a
        variable-length string. One projection through the Arrow
        hash kernel — per-row cost is O(1)/O(len), total must track
        rows; the fixed per-rung cost amortizes exactly like
        wrap_hash_scan's."""
        from baseline_magician_spark.plans.ch_sql import run_ch_query

        ev = replicate(ev0, k, ["event_id", "user_id"],
                       salt_text=False)
        out = run_ch_query(
            """
            SELECT event_type AS g,
                   min(xxHash64(user_id)) AS xh,
                   max(cityHash64(user_id, event_id)) AS cc,
                   sum(kafkaMurmurHash(user_id)) AS kh,
                   max(murmurHash3_64(substring(
                     concat(event_type, toString(user_id)),
                     1, toInt32(event_id % 24)))) AS m3
            FROM events GROUP BY g
            """,
            {"events": ev},
        )
        return out.count()

    def cdc_scan(k: int) -> int:
        """Round-9 content-defined chunking: the O(window x len)
        per-row gear fold + chunk-fingerprint groupBy. Map-side
        except ONE uniform-key shuffle (chunk_fp); total must track
        corpus characters."""
        from baseline_magician_spark.operators.cdc import (
            cdc_shared_chunks,
        )

        # pre-split the map side: the gear fold is the heaviest
        # per-char op in the ladder and there is no shuffle above it,
        # so without this the whole x-scale maps on ONE parquet split
        # (at 100 TB the scan arrives pre-split; this is the local[N]
        # equivalent, same rationale as the cityhash probe)
        dd = replicate(docs0, k, ["doc_id"], salt_text=True).repartition(
            32
        )
        return cdc_shared_chunks(dd).count()

    def binary_code_scan(k: int) -> int:
        """Round-10 binary-quantization ANN: sign-pack the corpus
        (one map-side projection — the 32x-compacted code table) and
        Hamming-scan it against a fixed 4-query broadcast. Per-pair
        cost is dim/64 XOR+popcounts; no shuffle except the final
        per-query top-k window over the scored stream. Wall must
        track corpus rows."""
        from baseline_magician_spark.operators.similarity import (
            binary_hamming_topk,
        )

        emb = replicate(emb0, k, ["vec_id"], salt_text=False)
        queries = emb0.where(F.col("vec_id") < 4)
        return binary_hamming_topk(emb, queries, k=10).count()

    ops = {
        "q1_agg": q1_agg,
        "minhash_lsh_pairs": minhash,
        "quota_per_group": quota,
        "window_running_sum": window_sum,
        "token_scan": token_stats,
        "cms_heavy_hitters": cms_heavy,
        "kmeans_three_steps": kmeans_three,
        "edit_distance_pairs": edit_distance,
        "pq_adc_topk": pq_adc,
        "semantic_keep_best": semantic_dedup,
        "tfidf_top_terms": tfidf,
        "bloom_screen": bloom_screen,
        "rag_chunking": rag_chunks,
        "streaming_sessionize": stream_sessionize,
        "streaming_cms_merge": stream_cms_merge,
        "dsir_importance": dsir,
        "duplicated_spans": dup_spans,
        "token_entropy": entropy,
        "stat_tape_folds": stat_tape_folds,
        "assoc_stats": assoc_stats,
        "string_sim_scan": string_sim_scan,
        "rank_decay_weighted": rank_decay_weighted,
        "bigram_lm": bigram_lm,
        "round7b_scan": round7b_scan,
        "wrap_hash_scan": wrap_hash_scan,
        "numeric_hash_scan": numeric_hash_scan,
        "cdc_scan": cdc_scan,
        "binary_code_scan": binary_code_scan,
    }

    # SPARK_GRAFT_STRESS_OPS=a,b,c re-runs a subset (a marginal rung
    # under co-tenant load) without paying for the whole ladder
    only = os.environ.get("SPARK_GRAFT_STRESS_OPS")
    if only:
        keep = {s.strip() for s in only.split(",")}
        unknown = keep - set(ops)
        if unknown:
            raise SystemExit(f"unknown stress ops: {sorted(unknown)}")
        ops = {n: f for n, f in ops.items() if n in keep}

    times: dict[str, dict[int, float]] = {name: {} for name in ops}
    rows: dict[str, dict[int, int]] = {name: {} for name in ops}
    for k in FACTORS:
        rung = {}
        for name, fn in ops.items():
            t0 = time.time()
            n = fn(k)
            dt = round(time.time() - t0, 2)
            times[name][k] = dt
            rows[name][k] = n
            rung[name] = {"sec": dt, "rows_out": n}
        print(json.dumps({"factor": k, "ops": rung}), flush=True)

    ok = True
    for name, by_k in times.items():
        driver = CANDIDATE_DRIVEN.get(name)
        for lo, hi in zip(FACTORS, FACTORS[1:]):
            ratio = by_k[hi] / max(by_k[lo], 0.05)
            bar = MAX_RATIO_PER_X4
            note = ""
            if driver is not None:
                cand_ratio = rows[driver][hi] / max(rows[driver][lo], 1)
                bar = max(bar, 1.5 * cand_ratio)
                note = f" (candidates x{cand_ratio:.1f})"
            verdict = "ok" if ratio <= bar else "SUPERLINEAR"
            if ratio > bar:
                ok = False
            print(f"{name}: x{lo}->x{hi} ratio {ratio:.1f}{note} {verdict}")
    print("PASS" if ok else "FAIL")
    raise SystemExit(0 if ok else 1)


SF1_HEAVIES = (
    "pipeline_training_export",
    "dedup_embedding_cosine_pairs",
    "dedup_simhash_clusters",
    "streaming_cms_merge",
    "similarity_ivfpq_topk",
)
SF1_FACTOR = 10  # sf0.1 x10 = sf1-sized inputs


def build_sf1(spark, out_dir: str, factor: int = SF1_FACTOR) -> str:
    """Materialize sf1-sized PARQUET (not in-memory replicas): the
    x1/x4/x16 ladder times in-memory LogicalRDD inputs, which skips
    the storage-read half of a real plan — file-split parallelism,
    scan pushdown, row-group sizing. This writes documents/embeddings/
    events at ``factor``x with the same de-correlation rules the
    ladder uses (salted text per replica; embeddings sign-flipped per
    replica on a hash(i, rep) pattern — an exact isometry WITHIN a
    replica, so intra-replica near-dup geometry is preserved, while
    cross-replica cosine is a random +-1-weighted sum ~ 0; a circular
    shift was measured insufficient here, the smooth synthetic
    vectors keep ~high correlation under shift and candidate pairs
    grew 12x past linear) and symlinks the unscaled dims, so the
    heavy queries run their actual storage-read plans at 10x."""
    from baseline_magician_spark.catalog import TABLES, load_table

    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    docs = load_table(spark, SF_DIR, "documents")
    replicate(docs, factor, ["doc_id"], salt_text=True).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/documents.parquet")

    emb = load_table(spark, SF_DIR, "embeddings")
    emb_r = emb.crossJoin(
        F.broadcast(
            emb.sparkSession.range(factor).select(F.col("id").alias("_rep"))
        )
    )
    emb_r = (
        emb_r.withColumn(
            "vec_id", F.col("vec_id") * factor + F.col("_rep")
        )
        .withColumn(
            "embedding",
            F.expr(
                "transform(embedding, (x, i) -> x * cast("
                "1 - 2 * pmod(hash(i, _rep), 2) as float))"
            ),
        )
        .drop("_rep")
    )
    emb_r.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    ev = load_table(spark, SF_DIR, "events")
    replicate(ev, factor, ["event_id", "user_id"], salt_text=False).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/events.parquet")

    for t in TABLES:
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF_DIR}/{t}.parquet", dst)
    open(done, "w").close()
    return out_dir


def sf1_main() -> None:
    """One real sf1-sized parquet run of the five heaviest queries:
    observed x10 ratio vs the linear prediction, over actual
    storage-read plans. Results recorded in SCALE.md §sf1."""
    import bench
    from baseline_magician_spark.registry import get_queries
    from baseline_magician_spark.session import get_spark

    spark = get_spark(
        app_name="sf1-rung",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "24g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1_synth")
    build_sf1(spark, out_dir)
    qs = get_queries()
    results = {}
    for name in SF1_HEAVIES:
        fn = qs[name]
        per_sf = {}
        for label, d in (("sf0.1", SF_DIR), ("sf1", out_dir)):
            t0 = time.time()
            n = bench._materialize(fn(spark, d))
            per_sf[label] = {"sec": round(time.time() - t0, 2), "rows": n}
        ratio = per_sf["sf1"]["sec"] / max(per_sf["sf0.1"]["sec"], 0.05)
        results[name] = {**per_sf, "ratio_x10": round(ratio, 1)}
        print(json.dumps({name: results[name]}), flush=True)
    # loose gate: 2x-linear slack (plan overhead amortizes at the big
    # rung, contention adds noise); a quadratic op lands at ~100x
    bad = {n: r for n, r in results.items() if r["ratio_x10"] > 2 * SF1_FACTOR}
    print("PASS" if not bad else f"FAIL {sorted(bad)}")
    raise SystemExit(0 if not bad else 1)


if __name__ == "__main__":
    import sys

    if "--sf1" in sys.argv:
        sf1_main()
    else:
        main()
