#!/usr/bin/env python
"""Scale-stress harness: measure how the heaviest pipelines behave as the
input grows, holding the machine fixed.

The grading SF ladder tops out at sf0.1, so this script synthesizes
larger inputs by replicating the sf0.1 tables in-plan (crossJoin with a
small replication range — map-only, no disk writes, ids re-keyed to stay
unique, text/vectors perturbed per replica so dedup structure is
preserved rather than collapsed). It then times the headline pipeline
operators at 1x / Kx and reports the *per-row* cost ratio: a bucketed,
shuffle-sane plan should stay near 1.0 (linear scaling); a quadratic
candidate generator or single-partition choke point shows up as a
super-linear blowup long before a real cluster run would.

Usage: python stress_scale.py [K]    (default K=8)
Prints one JSON line: {"k": K, "ops": {name: {"t1": s, "tk": s,
"per_row_ratio": r}}}. Results are recorded in SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, functions as F


def replicate_documents(docs: DataFrame, k: int) -> DataFrame:
    """K copies with unique ids; a per-replica suffix token keeps each
    replica's dup/near-dup structure intact instead of collapsing all
    replicas into one giant duplicate class."""
    reps = docs.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return docs.crossJoin(reps).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        F.concat_ws(" ", F.col("text"), F.concat(F.lit("r"), F.col("_rep"))).alias(
            "text"
        ),
    )


def replicate_embeddings(emb: DataFrame, k: int) -> DataFrame:
    reps = emb.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return emb.crossJoin(reps).select(
        (F.col("vec_id") * k + F.col("_rep")).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.col("_rep").cast("float") * F.lit(1e-4)
        ).alias("embedding"),
    )


def replicate_events(ev: DataFrame, k: int) -> DataFrame:
    """K copies with re-keyed users: k× key groups of the ORIGINAL span
    each — the grid row count grows k× with the input, which is the
    resample scaling story (grid ∝ keys × span/step)."""
    reps = ev.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return ev.crossJoin(reps).select(
        (F.col("user_id") * k + F.col("_rep")).alias("user_id"),
        "ts",
        "value",
    )


def replicate_customer(cust: DataFrame, k: int) -> DataFrame:
    """K copies with re-keyed ids and a TWO-character replica suffix on
    the name ("r00".."r77"): any cross-replica name pair differs in ≥2
    positions, so the edit-distance-1 join's TRUE pair set grows k×
    (within-replica only) — a single-char suffix would make every
    cross-replica twin a distance-1 match and grow the output k²,
    measuring output size instead of plan scaling."""
    reps = cust.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return cust.crossJoin(reps).select(
        (F.col("c_custkey") * k + F.col("_rep")).alias("c_custkey"),
        F.concat(
            F.col("c_name"), F.lit(" r"), F.col("_rep"), F.col("_rep")
        ).alias("c_name"),
    )


def replicate_lineitem(li: DataFrame, k: int) -> DataFrame:
    reps = li.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return li.crossJoin(reps).withColumn(
        "l_orderkey", F.col("l_orderkey") * k + F.col("_rep")
    )


def replicate_lineitem_parts(li: DataFrame, k: int) -> DataFrame:
    """K copies that also re-key l_partkey: k× part nodes against the
    SAME supplier set → the edge list really grows k× (a plain replica
    would dedup back to the original graph), and the graph gets denser
    on the supplier side — the harder direction for Pregel passes."""
    reps = li.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return (
        li.crossJoin(reps)
        .withColumn("l_orderkey", F.col("l_orderkey") * k + F.col("_rep"))
        .withColumn("l_partkey", F.col("l_partkey") * k + F.col("_rep"))
    )


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.corpus import (
        decontaminate,
        repetition_metrics,
    )
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import adaptive_k_flat, kmeans_fit
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import (
        cosine_pairs_ivf,
        cosine_pairs_ivf_hier,
    )
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.aggregates import decimal_sum
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import release_tracked
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.session import get_spark
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.sources.io import load_table

    spark = get_spark(app_name="lakegraft-stress")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    li = load_table(spark, sf_dir, "lineitem")

    def op_minhash(d: DataFrame) -> DataFrame:
        return minhash_lsh_pairs(d, threshold=0.5)

    def op_simhash(d: DataFrame) -> DataFrame:
        return simhash_pairs(d, max_hamming=3)

    def op_repetition(d: DataFrame) -> DataFrame:
        return repetition_metrics(d)

    def op_decontaminate(d: DataFrame) -> DataFrame:
        return decontaminate(d, d.where(F.col("doc_id") % 20 == 0), n=8)

    def op_embed_ivf(e: DataFrame) -> DataFrame:
        # the registered flavor: trained quantizer with k ∝ n (constant
        # cell width → linear candidate volume) and map-side assignment;
        # the adaptive count rides the trainer's own persisted projection
        cents = kmeans_fit(e, iters=2, adaptive_k=adaptive_k_flat)
        return cosine_pairs_ivf(e, threshold=0.4, nprobe=2, centroids=cents)

    def op_embed_ivf_stride(e: DataFrame) -> DataFrame:
        # the stride-sampled default: k ≈ n/64, so the assignment probe
        # grows super-linearly — kept measured to show the contrast
        return cosine_pairs_ivf(e, threshold=0.4, centroid_stride=64, nprobe=2)

    def op_embed_ivf_hier(e: DataFrame) -> DataFrame:
        # hierarchical: total cells K ∝ n (constant cell width, linear
        # candidates) at only n·(√K + √K) assignment work — the shape
        # that survives past broadcastable flat k. Default k args = the
        # registered corpus-scaled adaptive_k_hier rule.
        return cosine_pairs_ivf_hier(e, threshold=0.4, iters=1, nprobe=2)

    def op_agg(x: DataFrame) -> DataFrame:
        return x.groupBy("l_returnflag", "l_linestatus").agg(
            decimal_sum(F.col("l_quantity"), 0).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.packing import pack_sequences
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.scoring import bm25_scores

    def op_bm25(d: DataFrame) -> DataFrame:
        return bm25_scores(d, ["spark", "join", "vector"])

    def op_pack(d: DataFrame) -> DataFrame:
        # buckets scale with input so per-bucket windows stay bounded —
        # the knob a real deployment turns with cluster size
        n_buckets = max(8, 8 * k) if d is not docs else 8
        return pack_sequences(d, seq_len=512, buckets=n_buckets)

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.embeddings import (
        centroid_classify,
        gram_covariance,
    )
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.tokenizer import bpe_pair_counts

    def op_gram(e: DataFrame) -> DataFrame:
        return gram_covariance(e)

    def op_classify(e: DataFrame) -> DataFrame:
        # label column survives replication keyed off vec_id parity
        return centroid_classify(e.withColumn("label", (F.col("vec_id") % 10).cast("int")))

    def op_bpe(d: DataFrame) -> DataFrame:
        return bpe_pair_counts(d)

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.graph import pagerank_ppb

    def op_pagerank(x: DataFrame) -> DataFrame:
        e0 = x.select(
            (F.col("l_partkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        ).distinct()
        edges = e0.union(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        return pagerank_ppb(edges, iters=2)

    def op_pq_refined(e: DataFrame) -> DataFrame:
        # PQ two-stage search: codebook training is one corpus scan per
        # iteration for all subspaces; ADC scans only the codes with
        # per-batch local top-k; the exact stage touches shortlist
        # rows per query — per-row cost should stay ~flat with corpus
        # size (the queries side is fixed)
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.pq import pq_topk_refined, pq_train

        cbs = pq_train(e, m=4, k=8, iters=2)
        queries = e.where(F.col("vec_id") % 997 == 0).limit(4)
        return pq_topk_refined(e, queries, cbs, k=5, shortlist=50)

    def op_scd2(d: DataFrame) -> DataFrame:
        # one current-slice join vs a broadcastable change set + unions;
        # closed history streams through a filter — per-row cost must
        # stay flat as the dimension grows
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.mutations import scd2_apply

        dim = d.select(F.col("doc_id").alias("k"), F.col("text").alias("attr")) \
            .withColumn("valid_from", F.lit(1).cast("long")) \
            .withColumn("valid_to", F.lit(None).cast("long"))
        changes = d.where(F.col("doc_id") % 10 == 0).select(
            F.col("doc_id").alias("k"), F.concat(F.col("text"), F.lit("!")).alias("attr")
        )
        return scd2_apply(dim, changes, ["k"], version=2)

    def op_cms(d: DataFrame) -> DataFrame:
        # sketch build collapses map-side to depth*width partials; the
        # candidate estimate joins a broadcast sketch — both bounded
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.sketches import cms_heavy_hitters
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.text import tokenize

        words = d.select(F.explode(tokenize(F.col("text"))).alias("word"))
        return cms_heavy_hitters(words, "word", width=64, depth=4, threshold=1)

    def op_classifier(d: DataFrame) -> DataFrame:
        # each Newton iteration is one distributed 20-sum aggregation over
        # the persisted ppm-feature projection; per-row cost must stay
        # flat (the trainer's default 6 iterations — the ratio is
        # iteration-count invariant)
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.classifier import (
            FEATURE_COLS,
            quality_features,
            score_logreg,
            train_logreg_newton,
        )
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import _persisted

        feats = _persisted(quality_features(d).select("doc_id", *FEATURE_COLS, "label"))
        w = train_logreg_newton(feats)
        return score_logreg(feats, w).select("doc_id", "score_ppm", "pred")

    def op_quantiles(x: DataFrame) -> DataFrame:
        # 3 bisection rounds, each ONE scan emitting <= probs*1024
        # counters; the count/min-max passes ride the same persisted
        # column — per-row cost must stay flat
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.aggregates import exact_rank_select

        res = exact_rank_select(x, "l_extendedprice", [0.25, 0.5, 0.9])
        return spark.createDataFrame(res, "p DOUBLE, q DOUBLE")

    def op_png(d: DataFrame) -> DataFrame:
        # synthesize + full decode, both map-only Arrow passes — payload
        # bytes never shuffle, so this is the pure Python-codec cost
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.multimodal import (
            decode_png_stats,
            synthesize_png_media,
        )

        return decode_png_stats(synthesize_png_media(d.select("doc_id")))

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")

    def op_resample(x: DataFrame) -> DataFrame:
        # one key shuffle: bounds agg + grid explode + union-window asof;
        # per-row cost must stay flat as keys (and so grid rows) grow k×
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.temporal import resample_locf

        return resample_locf(x, "user_id", "ts", "value", 6 * 3600)

    def op_bpe_encode(d: DataFrame) -> DataFrame:
        # the registry query's exact pipeline (shared definition): per-row
        # cost must stay flat even though replication grows the vocab ~k×
        # (suffix tokens are new words)
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.tokenizer import bpe_encode_doc_counts

        return bpe_encode_doc_counts(d, n_merges=8)

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")

    def op_fuzzy(c: DataFrame) -> DataFrame:
        # prefix-filtered candidates + bounded levenshtein; true pairs
        # grow k× by construction (see replicate_customer) — per-row
        # cost must stay near-flat if the rarest-first prefixes keep
        # the candidate join from fanning out on hot grams
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.fuzzy import edit_distance_pairs

        return edit_distance_pairs(c, "c_name", "c_custkey", max_dist=1, q=3)

    def op_anomaly(x: DataFrame) -> DataFrame:
        # two rank-select window passes keyed on user_id; replication
        # re-keys users so groups stay original-sized and only their
        # COUNT grows k× — the shape that must scale flat
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.anomaly import mad_anomalies

        return mad_anomalies(x, key_col="user_id", id_col="user_id", giant_key_rows=None)

    def op_wav(d: DataFrame) -> DataFrame:
        # synthesize + sample decode, both map-only Arrow passes
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.multimodal import (
            decode_wav_stats,
            synthesize_media,
        )

        return decode_wav_stats(
            synthesize_media(d.select("doc_id")).where(F.col("kind") == "audio")
        )

    def op_jpeg(d: DataFrame) -> DataFrame:
        # synthesize + entropy decode, map-only — pure Python-codec cost
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.jpeg import (
            decode_jpeg_stats,
            synthesize_jpeg_media,
        )

        return decode_jpeg_stats(synthesize_jpeg_media(d.select("doc_id")))

    ev_full = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )

    def replicate_events_full(e: DataFrame, k: int) -> DataFrame:
        reps = e.sparkSession.range(k).select(F.col("id").alias("_rep"))
        return e.crossJoin(reps).select(
            (F.col("user_id") * k + F.col("_rep")).alias("user_id"),
            "event_type", "ts",
            (F.col("event_id") * k + F.col("_rep")).alias("event_id"),
            "value",
        )

    def op_funnel(x: DataFrame) -> DataFrame:
        # chained per-user min aggregations; users grow k×, per-user
        # series stay original-sized — flat per-row cost expected
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.funnel import funnel_conversion

        return funnel_conversion(x, ["view", "click", "purchase"])

    def op_retention(x: DataFrame) -> DataFrame:
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.funnel import cohort_retention

        return cohort_retention(x)

    def op_ohlc(x: DataFrame) -> DataFrame:
        # one hash aggregation; (key, bucket) groups grow k× in count
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.temporal import resample_ohlc

        return resample_ohlc(x, "user_id", "ts", "value", "event_id", 21_600_000_000)

    def op_auc(d: DataFrame) -> DataFrame:
        # hash-agg to distinct scores + a window over the score domain
        # ONLY — the domain is ppm-bounded, so the window input stays
        # constant as the data grows: ratio should drop well below 1
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.classifier import quality_features
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.evaluation import binary_auc

        return binary_auc(quality_features(d).select("f_stop", "label"), "f_stop", "label")

    def op_jpeg_420(d: DataFrame) -> DataFrame:
        # r9: subsampled MCU interleave + restart markers + odd dims —
        # map-only like the 4:4:4 flavor, ~3-6x the blocks per image
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.jpeg import (
            decode_jpeg_stats,
            synthesize_jpeg_media,
        )

        return decode_jpeg_stats(
            synthesize_jpeg_media(d.select("doc_id"), flavor="420")
        )

    def op_jpeg_prog(d: DataFrame) -> DataFrame:
        # r10: PROGRESSIVE (SOF2) decode — ~14 scans re-walk each block
        # (successive approximation), still map-only; per-row cost must
        # stay flat as the corpus replicates
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.jpeg import (
            decode_jpeg_stats,
            synthesize_jpeg_media,
        )

        return decode_jpeg_stats(
            synthesize_jpeg_media(d.select("doc_id"), flavor="prog")
        )

    def op_anomaly_giant(x: DataFrame) -> DataFrame:
        # r9: a CONSTANT key forces every row through the giant-key
        # IEEE-bit bisection (threshold 1 row) — each round is one
        # linear scan producing ≤buckets counters, rounds bounded by
        # 64/log2(buckets), so per-row cost must stay flat where the
        # one-task window spelling would blow up super-linearly
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.anomaly import mad_anomalies

        return mad_anomalies(
            x.withColumn("event_type", F.lit("all")),
            key_col="event_type",
            id_col="user_id",
            giant_key_rows=1,
        )

    def op_auc_scalable(x: DataFrame) -> DataFrame:
        # r9: RAW continuous scores (domain ≈ |data|) — the over-cap
        # route: range-partitioned prefix sum over the distinct scores,
        # never a single-task window; per-row cost must stay flat
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.evaluation import binary_auc

        scored = x.select(
            (F.col("value") + F.col("user_id") / 7.0).alias("s"),
            (F.col("user_id") % 2).cast("int").alias("label"),
        )
        return binary_auc(scored, "s", "label", max_distinct_scores=1000)

    cases = {
        "dedup_minhash_lsh": (docs, replicate_documents, op_minhash),
        "multimodal_jpeg_420": (docs, replicate_documents, op_jpeg_420),
        "multimodal_jpeg_prog": (docs, replicate_documents, op_jpeg_prog),
        "anomaly_mad_giant": (ev, replicate_events, op_anomaly_giant),
        "auc_scalable": (ev, replicate_events, op_auc_scalable),
        "fuzzy_join_editdist": (cust, replicate_customer, op_fuzzy),
        "anomaly_mad": (ev, replicate_events, op_anomaly),
        "funnel_conversion": (ev_full, replicate_events_full, op_funnel),
        "cohort_retention": (ev_full, replicate_events_full, op_retention),
        "resample_ohlc": (ev_full, replicate_events_full, op_ohlc),
        "classifier_eval_auc": (docs, replicate_documents, op_auc),
        "multimodal_wav_decode": (docs, replicate_documents, op_wav),
        "multimodal_jpeg_decode": (docs, replicate_documents, op_jpeg),
        "resample_locf": (ev, replicate_events, op_resample),
        "tokenizer_bpe_encode": (docs, replicate_documents, op_bpe_encode),
        "classifier_train_score": (docs, replicate_documents, op_classifier),
        "quantiles_scalable": (li, replicate_lineitem, op_quantiles),
        "multimodal_png_decode": (docs, replicate_documents, op_png),
        "sim_topk_pq_refined": (emb, replicate_embeddings, op_pq_refined),
        "scd2_apply": (docs, replicate_documents, op_scd2),
        "cms_heavy_hitters": (docs, replicate_documents, op_cms),
        "dedup_simhash": (docs, replicate_documents, op_simhash),
        "text_repetition": (docs, replicate_documents, op_repetition),
        "decontaminate": (docs, replicate_documents, op_decontaminate),
        "embedding_ivf_pairs": (emb, replicate_embeddings, op_embed_ivf),
        "embedding_ivf_pairs_stride": (emb, replicate_embeddings, op_embed_ivf_stride),
        "embedding_ivf_pairs_hier": (emb, replicate_embeddings, op_embed_ivf_hier),
        "agg_sum": (li, replicate_lineitem, op_agg),
        "text_bm25": (docs, replicate_documents, op_bm25),
        "pack_sequences": (docs, replicate_documents, op_pack),
        "embedding_covariance": (emb, replicate_embeddings, op_gram),
        "embedding_classify": (emb, replicate_embeddings, op_classify),
        "tokenizer_bpe": (docs, replicate_documents, op_bpe),
        "graph_pagerank": (li, replicate_lineitem_parts, op_pagerank),
    }

    def run(build, base: DataFrame) -> float:
        release_tracked()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        build(base).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out = {}

    # optional case filter: `stress_scale.py K name1 name2 ...` runs only
    # the named cases (fast re-measure of a single family). The two
    # special sections carry their own names.
    _special = {
        "dedup_incremental_steady",
        "delete_prune_steady",
        "delete_full_rewrite",
        "stream_source_catchup",
    }
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(cases) - _special
        if unknown:
            raise SystemExit(f"unknown stress cases: {sorted(unknown)}")
        cases = {n: c for n, c in cases.items() if n in only}

    # steady-state incremental dedup: the LSH index is ALREADY STORED
    # (written untimed, as it would be in the lake), the ingest batch is
    # FIXED-SIZE, and the timed work is: read index + signature the
    # batch + band-join candidates + exact-verify. The claim under test:
    # cost tracks the batch, not the corpus — at Kx corpus the timed
    # path should grow only by the index scan (per-row ratio << 1),
    # while full recompute grows ≥ K.
    import shutil as _shutil
    import tempfile as _tempfile

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import (
        exact_jaccard_verify,
        incremental_lsh_candidates,
        lsh_band_index,
        shingles,
    )

    batch = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(10**12)).alias("doc_id"), "text"
    )

    def run_incremental(corpus: DataFrame) -> float:
        idx_dir = _tempfile.mkdtemp(prefix="lsh_idx_")
        try:
            lsh_band_index(corpus).write.mode("overwrite").parquet(idx_dir)
            best = float("inf")
            for _ in range(2):
                release_tracked()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                idx_old = spark.read.parquet(idx_dir)
                cands = incremental_lsh_candidates(idx_old, lsh_band_index(batch))
                cand_ids = (
                    cands.select(F.col("a").alias("doc_id"))
                    .union(cands.select(F.col("b").alias("doc_id")))
                    .distinct()
                )
                pool = corpus.select("doc_id", "text").union(batch)
                sh = shingles(pool.join(cand_ids, "doc_id", "left_semi"), "text", "doc_id")
                exact_jaccard_verify(cands, sh, 0.5).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            return best
        finally:
            _shutil.rmtree(idx_dir, ignore_errors=True)

    # streaming-source catch-up drain: a checkpointless availableNow drain
    # over a table built from N commits (fixed rows per commit, so rows
    # grow with commits). The claim under test: partitions() planning is
    # one first-parent chain walk (O(commits), each commit diffed against
    # its own parent) and drain time tracks ROWS — per-commit ratio must
    # stay ~flat, with no quadratic re-resolve signature.
    def run_source_catchup(n_commits: int) -> float:
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.streaming.source import stream_table_from_repo
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import LakeRepo

        root = _tempfile.mkdtemp(prefix="stream_src_stress_") + "/lake"
        try:
            repo = LakeRepo.init(root)
            rows_per = 20_000
            for i in range(n_commits):
                repo.write_table(
                    "main",
                    "t",
                    spark.range(i * rows_per, (i + 1) * rows_per).select(
                        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
                    ),
                    mode="append" if i else "overwrite",
                )
                repo.commit("main", f"batch {i}")
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                q = (
                    stream_table_from_repo(spark, root, "t")
                    .writeStream.format("noop")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                best = min(best, time.perf_counter() - t0)
            return best
        finally:
            _shutil.rmtree(os.path.dirname(root), ignore_errors=True)

    if not only or "stream_source_catchup" in only:
        t1 = run_source_catchup(4)
        tk = run_source_catchup(4 * k)
        out["stream_source_catchup"] = {
            "t1": round(t1, 3),
            "tk": round(tk, 3),
            "per_row_ratio": round(tk / (t1 * k), 3),
        }
        print(
            f"# stream_source_catchup: 4 commits {t1:.2f}s -> {4 * k} commits "
            f"{tk:.2f}s (per-commit ratio {tk / (t1 * k):.2f})",
            file=sys.stderr,
        )

    if not only or "dedup_incremental_steady" in only:
        t1 = run_incremental(docs.select("doc_id", "text"))
        tk = run_incremental(replicate_documents(docs, k))
        out["dedup_incremental_steady"] = {
            "t1": round(t1, 3),
            "tk": round(tk, 3),
            "per_row_ratio": round(tk / (t1 * k), 3),
        }
        print(
            f"# dedup_incremental_steady (fixed batch): 1x={t1:.2f}s {k}x={tk:.2f}s "
            f"corpus-growth mult {tk/t1:.2f} (per-row {tk/(t1*k):.2f})",
            file=sys.stderr,
        )

    # pruned DML: DELETE a fixed key band out of N — the stats manifests
    # must keep the rewrite proportional to the BAND while the table
    # grows (more bands, same band size). The full-rewrite flavor (same
    # predicate, parser-opaque) shows the contrast.
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import LakeRepo
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    li_keys = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_extendedprice").alias("o_totalprice"),
    )
    span = li_keys.agg(F.max("o_orderkey")).collect()[0][0] + 1

    def run_band_delete(n_bands: int, pruned: bool) -> float:
        root = _tempfile.mkdtemp(prefix="prune_stress_") + "/lake"
        try:
            repo = LakeRepo.init(root)
            for b in range(n_bands):
                repo.write_table(
                    "main",
                    "t",
                    li_keys.select(
                        (F.col("o_orderkey") + b * span).alias("o_orderkey"),
                        "o_totalprice",
                    ).coalesce(1),
                    mode="append",
                )
            repo.commit("main", "banded")
            cond = f"o_orderkey < {span // 2}"
            if not pruned:
                cond = f"({cond}) AND abs(1) = 1"  # defeats the parser
            release_tracked()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            LakeSQL(spark, repo, "main").sql(f"DELETE FROM t WHERE {cond}")
            return time.perf_counter() - t0
        finally:
            _shutil.rmtree(os.path.dirname(root), ignore_errors=True)

    n1 = 4
    if not only or "delete_prune_steady" in only:
        t1 = run_band_delete(n1, pruned=True)
        tk = run_band_delete(n1 * k, pruned=True)
        out["delete_prune_steady"] = {
            "t1": round(t1, 3),
            "tk": round(tk, 3),
            "per_row_ratio": round(tk / (t1 * k), 3),
        }
        print(
            f"# delete one band of {n1}->{n1 * k}: pruned "
            f"{t1:.2f}s->{tk:.2f}s (x{tk / t1:.2f})",
            file=sys.stderr,
        )
    if not only or "delete_full_rewrite" in only:
        f1 = run_band_delete(n1, pruned=False)
        fk = run_band_delete(n1 * k, pruned=False)
        out["delete_full_rewrite"] = {
            "t1": round(f1, 3),
            "tk": round(fk, 3),
            "per_row_ratio": round(fk / (f1 * k), 3),
        }
        print(
            f"# delete one band of {n1}->{n1 * k}: full "
            f"{f1:.2f}s->{fk:.2f}s (x{fk / f1:.2f})",
            file=sys.stderr,
        )

    for name, (base, rep, build) in cases.items():
        # best-of-2 on BOTH sides: the Kx plan is a different plan shape
        # paying its own one-time codegen/JIT; timing it cold against a
        # warm 1x denominator would bias every ratio upward
        t1 = min(run(build, base) for _ in range(2))
        big = rep(base, k)
        tk = min(run(build, big) for _ in range(2))
        out[name] = {
            "t1": round(t1, 3),
            "tk": round(tk, 3),
            "per_row_ratio": round(tk / (t1 * k), 3),
        }
        print(f"# {name}: 1x={t1:.2f}s {k}x={tk:.2f}s per-row {tk/(t1*k):.2f}",
              file=sys.stderr)
    print(json.dumps({"k": k, "sf": sf_dir, "ops": out}))


if __name__ == "__main__":
    main()
