"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Runs a representative subset of the registry — relational joins/aggs,
windows, dedup (exact, Jaccard, MinHash-LSH), similarity search, text
analysis — on local[$SPARK_GRAFT_CPUS], forcing full execution with a
noop write (no driver collect), and prints TWO JSON lines — the full
per-query detail first, then a short headline line LAST so a bounded
tail capture always parses it (BENCH_r03 lesson):

    {"metric": "headline_detail", "queries": {...}, "streaming": {...}}
    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "sf": 0.1, "n_queries": 74, "detail_file": "BENCH_DETAIL_r13.json"}

The full per-query map is ALSO persisted to BENCH_DETAIL.json plus a
round-stamped copy named by ``detail_file`` (r12 verdict item 1: stdout
tail captures lose the big detail line, so per-query attribution must
come from disk). The round comes from $SPARK_GRAFT_ROUND; when it is
unset, a warning goes to stderr, no round-stamped copy is written and
``detail_file`` names BENCH_DETAIL.json.

Per-query time = wall time of the noop-sink write of the query's plan,
min over SPARK_GRAFT_BENCH_REPEATS runs (default 3 — stall-robust on
this stochastically-contended host; see SCALE.md "Headline evidence").
Queries whose samples spread >=1.5x are listed in the detail line's
``noisy_samples`` so a recorded min is never silently adjudicated as a
regression.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window
from pyspark.sql import functions as F

from computer_vision_foundations_spark import get_spark
from computer_vision_foundations_spark.session import DEFAULT_SHUFFLE_PARTITIONS
from computer_vision_foundations_spark.queries import queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q78_pricing_summary",
    "q79_top_revenue_orders",
    "za55_bm25_search",
    "q75_region_revenue",
    "q80_customer_order_profile",
    "q81_top3_orders_per_customer",
    "za57_repetition_signals",
    "q76_events_running_window",
    "q77_events_hourly_window",
    "za41_kmeans_step",
    "q82_sessionization",
    "q83_dedup_exact",
    "q66_text_quality",
    "q90_ngram_jaccard_pairs",
    "za23_lsh_candidate_pairs",
    "za24_knn_cosine",
    "q91_embedding_near_dup",
    "z29_lsh_ann",
    "z32_multiprobe_lsh_ann",
    "q89_ivf_ann",
    "z26_pq_adc_knn",
    "za64_ivf_pq_ann",
    "z22_sq8_ann",
    "q93_winnow_fingerprints",
    "z57_winnow_near_dup_pairs",
    "q84_asof_enrich",
    "q85_range_join_error_window",
    "q86_time_rollup",
    "q87_hll_distinct",
    "q88_count_min_heavy_hitters",
    "za30_unigram_surprisal",
    "za90_pii_redaction",
    "q44_sessionization",
    "za91_feature_hashing",
    "za92_histogram_quantiles",
    "q32_compaction_plan",
    "q17_join_skew_stats",
    "za52_zipf_fit",
    "q07_grouped_quantiles",
    "za54_hll_shard_merge",
    "q27_stratified_hash_sample",
    "za53_negative_sampling",
    "q29_event_disorder",
    "za12_incremental_dedup",
    "z20_multiprobe_recall",
    "z15_event_funnel",
    "za16_lsh_verified_pairs",
    "q96_retention_cohorts",
    "q95_gap_fill_locf",
    "q97_bpe_merges",
    "q94_dedup_clusters",
    "za59_training_corpus",
    "z14_mixture_sample",
    "z28_mixture_epochs",
    "za27_decontamination_pairs",
    "z17_quality_gate",
    "z18_shard_assignment",
    "z51_vocab_coverage",
    "z54_pmi_bigrams",
    "za63_simhash_near_dup_pairs",
    "za56_pagerank",
    "za58_semantic_dedup",
    "za10_bloom_decontaminate",
    "za11_weighted_sample",
    "za65_duplicated_spans",
    "za19_random_projection",
    "za50_pca_covariance",
    "za51_hits_scores",
    "za37_bigram_surprisal",
    "za66_dsir_weights",
    "za67_incremental_lsh",
    "za68_cdc_dedup",
    "za20_temperature_mixture",
    "za21_skew_profile",
    "za88_persisted_ivf_pq",
    "za22_mmr_diverse_topk",
    "za61_corpus_report",
    "za25_volume_drift",
    "za26_corpus_diff",
    "za28_temporal_split",
    "za29_event_transitions",
    "za62_image_metadata",
    "za60_image_statistics",
    "za75_time_travel",
    "za76_acid_upsert",
    "q03_delta_dv_roundtrip",
    "q24_delta_column_mapping",
    "q05_local_supplier_volume",
    "q38_forecast_revenue",
    "q13_customer_distribution",
    "q14_top_supplier",
    "q34_delta_dv_change_feed",
    "za69_wav_audio_stats",
    "za70_gif_frame_sample",
    "z23_audio_spectrum",
    "z24_bucketed_join",
    "z25_table_profile",
    "za42_multimodal_manifest",
    "q06_stream_ann",
    "q50_stream_index_refresh",
    "q15_hill_tail_index",
    "q30_embedding_isotropy",
    "q31_t_closeness",
    "q47_kcenter_coreset",
    "z27_pq_rerank",
    "za35_zorder_optimize",
    "za31_data_skipping",
    "z30_knn_join",
    "za81_change_data_feed",
    "za71_image_near_dup",
    "z33_gopher_rules",
    "z34_paragraph_dedup",
    "z35_scene_cuts",
    "z36_audio_fingerprint_pairs",
    "z37_kmv_source_overlap",
    "z38_token_budget_select",
    "z39_curriculum_order",
    "z40_curation_pipeline",
    "z41_hard_negatives",
    "z42_label_noise",
    "z43_image_augment",
    "z44_k_anonymity",
    "z45_zipf_fit",
    "z46_multimodal_consensus_pairs",
    "z47_hashed_features",
    "z48_class_compactness",
    "z49_kmv_user_distinct",
    "z50_bm25_ndcg",
    "za73_triangle_stats",
    "z52_naive_bayes_lang",
    "z53_kneser_ney_surprisal",
    "q41_lpa_communities",
    "z55_ngram_novelty",
    "z56_containment_pairs",
    "q42_kcore_members",
    "z58_phrase_search",
    "z59_nb_classification_report",
    "z60_surprisal_auc",
    "z61_dbscan_clusters",
    "z62_heaps_fit",
    "z63_nb_calibration",
    "z64_keep_best_of_cluster",
    "z65_source_divergence",
    "z66_nb_crossval",
    "z67_mad_outliers",
    "z68_ewma_level",
    "z69_seeded_walks",
    "z70_kappa_agreement",
    "z71_source_diversity",
    "z72_trend_spearman",
    "z73_benford_values",
    "z74_hourly_autocorr",
    "z75_cusum_changepoint",
    "z76_kaplan_meier",
    "z77_silhouette",
    "z78_davies_bouldin",
    "z79_isolation_scores",
    "z80_quantile_norm",
    "z81_char_entropy",
    "z82_mutual_knn",
    "z83_shipping_priority",
    "z84_returned_item_losses",
    "z85_small_qty_revenue",
    "z86_market_basket",
    "z87_chi2_tokens",
    "z88_incremental_agg",
    "z89_scd2_history",
    "z90_ab_ztest",
    "z91_theil_sen_trend",
    "z92_seasonality_strength",
    "z93_pareto_abc",
    "z94_gini_revenue",
    "z95_lexical_richness",
    "z96_record_linkage",
    "z97_dp_noisy_counts",
    "z98_poisson_bootstrap",
    "z99_waiting_suppliers",
    "za01_markov_attribution",
    "za02_geohash_cells",
    "za03_geo_radius_pairs",
    "za04_kde_density",
    "za05_wilson_intervals",
    "za06_ols_trend",
    "za07_ks_two_sample",
    "q09_l_diversity",
    "q11_keyed_ks_drift",
    "q16_delta_time_travel",
    "q21_bh_fdr_drift",
    "q45_delta_restore",
    "q20_weighted_quantiles",
    "q39_jsonl_roundtrip",
    "q49_csv_roundtrip",
    "za77_volume_shipping",
    "q12_market_share",
    "za79_large_volume_customers",
    "za80_lapsed_high_value",
    "q25_bloom_prefilter_join",
    "q28_jaro_winkler_linkage",
    "q36_stream_ewma_drift",
    # r13: restore the two entries that fell out of HEADLINE when the
    # round-12 build wave rotated the driver window (they were benched
    # in r11 under q04_item_cf / q38_promo_revenue; still gate-attested)
    "za82_item_cf",
    "za78_promo_revenue",
    # round-12 wave: derived-partsupp TPC-H shapes, streaming CDF,
    # id-mapped Delta round trip, quotient LPA
    "q04_min_cost_supplier",
    "za83_product_profit",
    "za84_important_stock",
    "za85_parts_supplier_relationship",
    "za86_excess_stock_suppliers",
    "za87_stream_cdf",
    "q19_delta_id_mapping",
    "za89_lpa_quotient",
    "q33_delta_type_widening",
    "q43_delta_variant",
    "q46_delta_zorder_skipping",
    "za93_delta_check_constraints",
    "za94_delta_shallow_clone",
    "za95_delta_generated_columns",
    "za96_delta_ict_travel",
    "za97_delta_row_tracking",
    # q10_stream_dedup / q18_stream_window_agg / q26_stream_sessions /
    # q35_stream_spacesaving / q22_stream_running_totals /
    # q23_stream_kmv_distinct are gate-attested but NOT benched:
    # their wall time is streaming-engine drain overhead, which the
    # streaming section already measures directly
]


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


# Round number for the round-stamped detail copy, so per-query detail
# can be diffed across rounds: the r12 PERF pipeline lost all per-query
# attribution because the big detail line only survives stdout as a
# 2000-char tail (PERF_r12 per_query == {}). There is no default: a run
# without SPARK_GRAFT_ROUND writes no round-stamped file, so it can never
# overwrite a committed round's artifact.
_ROUND = os.environ.get("SPARK_GRAFT_ROUND") or None


def _finish(detail: dict, total: float) -> None:
    """Emit the two-line output contract and persist the full detail.

    stdout line 1: the full per-query detail (may exceed any bounded
    tail capture — informational only).
    stdout line 2 (LAST, short, always fits a tail capture): the
    headline JSON with the per-round ``detail_file`` pointer, so a
    consumer that only keeps a stdout tail can still reach the full
    per-query map on disk (r12 verdict item 1).
    """
    print(json.dumps(detail))
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", os.path.join(here, "BENCH_DETAIL.json")
    )
    # the core count local[N] ran at (session.py's default when unset)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(DEFAULT_SHUFFLE_PARTITIONS)
    payload = {**detail, "total_sec": total, "sf": _sf_from_dir(SF_DIR),
               "cpus": cpus}
    with open(detail_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    # Round- and core-count-stamped copy next to it (same payload):
    # survives the next run's overwrite of BENCH_DETAIL.json, and the
    # 8-core run no longer overwrites the 32-core detail, so round N
    # and N+1 detail can be diffed per core count even when only the
    # working tree is inspected.
    if _ROUND is None:
        print(
            "bench.py: SPARK_GRAFT_ROUND is unset; writing no round-stamped "
            f"detail file (detail_file is {os.path.basename(detail_path)})",
            file=sys.stderr,
        )
        round_path = detail_path
    else:
        round_path = os.path.join(
            os.path.dirname(detail_path), f"BENCH_DETAIL_r{_ROUND}_c{cpus}.json"
        )
        with open(round_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                "sf": _sf_from_dir(SF_DIR),
                "n_queries": len(detail["queries"]),
                "detail_file": os.path.basename(round_path),
            }
        )
    )


def bench_streaming_ingest(spark) -> tuple[int, float, float, int, float]:
    """Timed availableNow ingest of a synthetic binary landing dir.

    Generates ``SPARK_GRAFT_STREAM_FILES`` (default 2000) ~4 KB files
    following the FIXTURES.md filename grammar, then runs ONE
    checkpointed availableNow cycle of the full EP1 pipeline (binary
    stream → filename parse → metadata + statistics pandas UDFs →
    date-partitioned parquet sink), then the EP3 scoring stream over
    the same landing dir (second consumer, own checkpoint). Returns
    (n_files, ingest_seconds, score_seconds). File generation happens
    before the clock starts; admission is 512 files/trigger so each
    run exercises multiple micro-batches.
    """
    import shutil
    import tempfile

    from computer_vision_foundations_spark.plans.pipeline import (
        IngestConfig,
        PipelineConfig,
        SinkConfig,
    )
    from computer_vision_foundations_spark.streaming.ingest import run_ingest

    n_files = int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "2000"))
    warm_files = int(os.environ.get("SPARK_GRAFT_STREAM_WARM_FILES", "200"))
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    landing = os.path.join(tmp, "landing")
    os.makedirs(landing)

    def _gen(dirname, n):
        # REAL JPEG payloads (round 3): a deterministic 48x48 gradient
        # per file, encoded by functions/jpeg.py with an EXIF APP1 —
        # so the timed UDF stage runs the genuine entropy decode, not
        # the fake-byte fallback. Generation is untimed.
        import numpy as np

        from computer_vision_foundations_spark.functions.jpeg import encode_jpeg
        from computer_vision_foundations_spark.functions.png import (
            build_exif_app1,
        )

        yy, xx = np.mgrid[0:48, 0:48]
        for i in range(n):
            name = (
                f"2024-05-{i % 28 + 1:02d} "
                f"{i % 24:02d}-{(i * 7) % 60:02d}-{(i * 13) % 60:02d}"
                f"_cam_{i:05d}_{i % 2}.jpg"
            )
            px = ((xx + yy + 5 * i) % 256).astype("uint8")
            payload = encode_jpeg(
                px,
                quality=90,
                app1=build_exif_app1(
                    {"Make": "BenchCam", "Model": f"M{i % 4}"}
                ),
            )
            with open(os.path.join(dirname, name), "wb") as f:
                f.write(payload)

    def _cfg(subdir, in_path):
        return PipelineConfig(
            ingest=IngestConfig(
                input_path=in_path,
                glob="*.jpg",
                recursive=True,
                max_files_per_trigger=512,
                ts_format="yyyy-MM-dd HH-mm-ss",
                coalesce_partitions=64,
            ),
            sink=SinkConfig(
                format="parquet",
                output_path=os.path.join(tmp, subdir, "out"),
                checkpoint_path=os.path.join(tmp, subdir, "ckpt"),
                partition_by=("date",),
                optimize_write=True,
            ),
            extract_metadata=True,
            extract_statistics=True,
        )

    try:
        _gen(landing, n_files)
        # Untimed warm-up cycle over a small separate landing dir: the
        # first streaming job in a session pays one-time JIT + Python
        # worker spin-up (measured 28 s -> 11 s run-over-run); the timed
        # run should report the throughput a long-lived ingest job sees.
        warm_landing = os.path.join(tmp, "warm", "landing")
        os.makedirs(warm_landing)
        _gen(warm_landing, warm_files)
        run_ingest(spark, _cfg("warm", warm_landing))

        from computer_vision_foundations_spark.streaming.ingest import (
            run_scoring_stream,
        )

        # Same stall-robust min-of-N as the query loop, but streaming
        # cycles ALWAYS run >= 3 (SPARK_GRAFT_STREAM_REPEATS): round 4's
        # driver record halved vs round 3 on a single contended sample
        # (ingest 406 -> 215 files/s against SCALE.md's own 230-391
        # files/s host-variance band) — best-of-3 makes the recorded
        # number the steady-state throughput, not the stall. Each timed
        # cycle gets a fresh checkpoint (availableNow is exactly-once
        # per checkpoint) over the SAME landing dir.
        repeats = int(os.environ.get("SPARK_GRAFT_STREAM_REPEATS", "3"))
        ingest_samples, score_samples = [], []
        for i in range(max(1, repeats)):
            cfg = _cfg(f"main{i}", landing)
            t0 = time.time()
            run_ingest(spark, cfg)
            ingest_samples.append(time.time() - t0)
            n_out = spark.read.parquet(cfg.sink.output_path).count()
            assert n_out == n_files, f"ingest wrote {n_out} of {n_files}"

            # EP3: the SECOND consumer of the same landing dir —
            # streaming inference to a (path, score) sink with its own
            # checkpoint (`04a_Model Deployment.py:248-269` shape).
            t1 = time.time()
            run_scoring_stream(
                spark,
                cfg,
                lambda pdf: pdf["content"].map(len).astype(float),
                output_path=os.path.join(tmp, f"scored{i}", "out"),
                checkpoint_path=os.path.join(tmp, f"scored{i}", "ckpt"),
            )
            score_samples.append(time.time() - t1)
            n_scored = spark.read.parquet(
                os.path.join(tmp, f"scored{i}", "out")
            ).count()
            assert n_scored == n_files, f"scored {n_scored} of {n_files}"
        print(
            f"# streaming samples: ingest {[round(s, 2) for s in ingest_samples]}"
            f" score {[round(s, 2) for s in score_samples]}",
            file=sys.stderr,
        )

        # Kill-and-resume cycles (ST3 bench evidence): interrupt a fresh
        # checkpoint's run after ONE committed micro-batch (512 of the
        # files), then time the resume to completion and verify the
        # union is exactly-once. Reported time covers the resume only —
        # the number an operator cares about after a crash. Same
        # best-of-N as the timed ingest, each cycle fully ISOLATED in
        # its own restart{i}/ subtree (own landing-read, checkpoint,
        # output) so no state leaks between the interrupted run, the
        # resume, and the timed ingest cycles above.
        from computer_vision_foundations_spark.streaming.ingest import (
            run_ingest_interrupted,
        )

        restart_samples, resumed_counts = [], []
        for i in range(max(1, repeats)):
            rcfg = _cfg(f"restart{i}", landing)
            committed = run_ingest_interrupted(
                spark, rcfg, stop_after_batches=1
            )
            n_partial = spark.read.parquet(rcfg.sink.output_path).count()
            t2 = time.time()
            run_ingest(spark, rcfg)
            restart_samples.append(time.time() - t2)
            out = spark.read.parquet(rcfg.sink.output_path)
            n_after = out.count()
            n_distinct = out.select("path").distinct().count()
            assert n_after == n_files, f"resume wrote {n_after} of {n_files}"
            assert n_distinct == n_files, "duplicates across restart"
            resumed_counts.append(n_files - n_partial)
            print(
                f"# streaming restart[{i}]: {committed} batch committed "
                f"pre-kill, {n_partial} rows partial, resume "
                f"{round(restart_samples[-1], 2)}s, exactly-once verified "
                f"({n_after} rows, {n_distinct} distinct)",
                file=sys.stderr,
            )
        best = restart_samples.index(min(restart_samples))
        return (
            n_files,
            min(ingest_samples),
            min(score_samples),
            resumed_counts[best],
            restart_samples[best],
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_streaming_window_agg(spark) -> tuple[int, float]:
    """Timed stateful streaming cycle over the events fixture: file
    stream → watermark → tumbling window count/sum (ST5 family), noop
    sink, availableNow. Exercises the StateStore + watermark machinery
    the ST5 tests verify semantically; reports events/sec. Min over
    SPARK_GRAFT_STREAM_REPEATS (>=3) cycles like the other streaming
    metrics."""
    import shutil
    import tempfile

    from computer_vision_foundations_spark.streaming.windows import (
        tumbling_counts,
    )

    src = os.path.join(SF_DIR, "events.parquet")
    static = spark.read.parquet(src)
    schema = static.schema
    n_events = static.count()
    tmp = tempfile.mkdtemp(prefix="bench_stream_agg_")
    try:
        # file-stream sources want a directory
        data_dir = os.path.join(tmp, "in")
        os.makedirs(data_dir)
        shutil.copy(src, os.path.join(data_dir, "events.parquet"))
        repeats = int(os.environ.get("SPARK_GRAFT_STREAM_REPEATS", "3"))
        samples = []
        for i in range(max(1, repeats)):
            stream = spark.readStream.schema(schema).parquet(data_dir)
            # watermarks need TIMESTAMP; the fixture surfaces ts as NTZ
            # (session zone is UTC, so the cast is value-preserving)
            stream = stream.withColumn(
                "ts", stream["ts"].cast("timestamp")
            )
            agg = tumbling_counts(stream, duration="1 hour", watermark="2 hours")
            t0 = time.time()
            q = (
                agg.writeStream.outputMode("complete")
                .format("noop")
                .option(
                    "checkpointLocation", os.path.join(tmp, f"ckpt{i}")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            samples.append(time.time() - t0)
        print(
            f"# streaming window agg samples: {[round(s, 2) for s in samples]}",
            file=sys.stderr,
        )
        return n_events, min(samples)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_streaming_state(spark) -> dict:
    """Measured state-store footprint for the two stateful streaming
    shapes (round-9 verdict #8 — measured, not asserted):

    - stream-stream INTERVAL JOIN (q37's machinery): events split
      into 4 time-ordered chunk files, streamed with
      maxFilesPerTrigger=1 so the watermark ADVANCES across batches
      and the state store actually evicts; reports the peak state
      rows, total evictions, and events/sec from
      ``recentProgress[].stateOperators`` — the numbers behind the
      "state ~ rate × (watermark + window)" design claim.
    - foreachBatch UPSERT (q01's machinery) keeps NO StateStore
      state by construction — its state IS the target table — so the
      honest metric is batches committed + rows merged, read back
      from the transactional table's own history.
    """
    import shutil
    import tempfile

    from computer_vision_foundations_spark.sources.acid import (
        read_table,
        table_history,
    )
    from computer_vision_foundations_spark.streaming.joins import (
        stream_interval_join,
    )
    from computer_vision_foundations_spark.streaming.upsert import (
        stream_upsert_acid,
    )

    src = os.path.join(SF_DIR, "events.parquet")
    static = (
        spark.read.parquet(src)
        .select(
            "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        .orderBy("ts")
    )
    n_events = static.count()
    tmp = tempfile.mkdtemp(prefix="bench_stream_state_")
    out: dict = {}
    try:
        # 4 time-ordered chunks -> 4 micro-batches -> the watermark
        # moves between batches and old state becomes evictable
        data_dir = os.path.join(tmp, "in")
        static.coalesce(1).withColumn(
            "_b", F.ntile(4).over(Window.orderBy("ts"))
        ).write.partitionBy("_b").parquet(data_dir)
        chunk_dir = os.path.join(tmp, "chunks")
        os.makedirs(chunk_dir)
        n_chunk = 0
        for d in sorted(os.listdir(data_dir)):
            if not d.startswith("_b="):
                continue
            for f in sorted(os.listdir(os.path.join(data_dir, d))):
                if f.endswith(".parquet"):
                    n_chunk += 1
                    shutil.copy(
                        os.path.join(data_dir, d, f),
                        os.path.join(chunk_dir, f"{n_chunk:02d}.parquet"),
                    )
        schema = "event_id long, user_id long, ts timestamp"
        left = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(chunk_dir)
        )
        right = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(chunk_dir)
            .select(
                F.col("event_id").alias("r_event_id"),
                F.col("user_id").alias("user_id"),
                F.col("ts").alias("r_ts"),
            )
        )
        joined = stream_interval_join(
            left,
            right,
            on="user_id",
            left_ts="ts",
            right_ts="r_ts",
            watermark="30 minutes",
            lower="10 minutes",
            upper="10 minutes",
        )
        t0 = time.time()
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(tmp, "ckpt_join"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        join_sec = time.time() - t0
        peak = evicted = 0
        batches = 0
        for p in q.recentProgress:
            for so in p["stateOperators"] or []:
                peak = max(peak, so.get("numRowsTotal", 0))
                evicted += so.get("numRowsRemoved", 0)
            batches += 1
        out["interval_join"] = {
            "batches": batches,
            "state_rows_peak": peak,
            "state_rows_evicted": evicted,
            "events_per_sec": round(2 * n_events / join_sec, 1),
        }
        # foreachBatch upsert over the same chunk stream
        table_root = os.path.join(tmp, "upsert_table")
        uq = stream_upsert_acid(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(chunk_dir),
            table_root,
            checkpoint_path=os.path.join(tmp, "ckpt_upsert"),
            key_cols=["event_id"],
            app_id="bench_state",
        )
        uq.awaitTermination()
        hist = table_history(table_root)
        out["upsert"] = {
            "batches": len(hist),
            "rows_in_table": read_table(spark, table_root).count(),
            "state_store_rows": 0,  # foreachBatch: state IS the table
        }
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    spark = get_spark("bench")
    qs = queries()
    # Warm up the session before timing anything: JIT/codegen compile,
    # Python worker pool spin-up, and the parquet footer reads otherwise
    # land on whichever query happens to run first (r01 charged ~20s of
    # session warm-up to q21). One representative relational query + one
    # documents-table query + one Arrow/pandas-UDF query cover the three
    # warm-up classes; their results are discarded.
    for warm in ("q78_pricing_summary", "q66_text_quality", "q64_scored_documents"):
        qs[warm](spark, SF_DIR).write.mode("overwrite").format("noop").save()
    # Stall-robust timing: this host is multi-tenant and stalls
    # stochastically mid-run (SCALE.md "Headline evidence": queries
    # verified at 1.5-3 s standalone absorb 10-44 s when a stall lands
    # on them; the victim changes run to run). A query whose first
    # sample exceeds SPARK_GRAFT_BENCH_RETRY_SEC (default 2 s) is
    # therefore re-run up to SPARK_GRAFT_BENCH_REPEATS-1 more times
    # and the MINIMUM reported — fast first samples are stall-free by
    # construction and skip the retry, which keeps total bench time
    # near a single pass. All samples go to stderr for transparency.
    # min-of-3 for slow queries (round 8): round 7's driver file read
    # z53 as a 3.5x regression off TWO contended samples while the
    # warm standalone time was 2.5 s — a third sample makes a stall
    # landing on the same query twice in a row the requirement for a
    # bad recorded number, not once.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    retry_sec = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_SEC", "2.0"))
    timings: dict[str, float] = {}
    noisy: dict[str, list[float]] = {}
    # dev-loop subset: SPARK_GRAFT_BENCH_ONLY="za55_bm25_search,q07_..."
    # times only those headline entries (recorded runs leave it unset)
    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q.strip()
    }
    headline = [q for q in HEADLINE if not only or q in only]
    for name in headline:
        # Time construction + execution: iterative operators (q48's
        # label-propagation loop) do their work eagerly while the
        # query is being built, so timing only the final write would
        # under-charge them.
        samples = []
        for i in range(max(1, repeats)):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            samples.append(round(time.time() - t0, 3))
            # Per-query isolation: some operators persist intermediates
            # (the corpus stages) that only their own plan consumes;
            # dropping them here keeps later queries from paying
            # earlier queries' block-eviction and GC pressure.
            spark.catalog.clearCache()
            if min(samples) < retry_sec:
                break
        timings[name] = min(samples)
        # variance note: a >=1.5x spread across samples marks the
        # recorded min as host-noise-adjacent — readers of BENCH_r{N}
        # should not adjudicate regressions from these without a rerun
        if len(samples) > 1 and max(samples) / max(min(samples), 1e-9) >= 1.5:
            noisy[name] = samples
        print(f"# {name}: {timings[name]}s (samples: {samples})", file=sys.stderr)
    if os.environ.get("SPARK_GRAFT_SKIP_STREAMING"):
        # dev-loop escape hatch ONLY (recorded runs never set it): the
        # streaming section is ~half the wall time of a subset run and
        # irrelevant when iterating on batch queries
        detail = {
            "metric": "headline_detail",
            "queries": timings,
            "noisy_samples": noisy,
            "streaming": None,
        }
        _finish(detail, round(sum(timings.values()), 3))
        return 0
    (
        n_stream_files,
        stream_sec,
        score_sec,
        n_restart_files,
        restart_sec,
    ) = bench_streaming_ingest(spark)
    timings["streaming_ingest"] = round(stream_sec, 3)
    timings["streaming_score"] = round(score_sec, 3)
    timings["streaming_restart"] = round(restart_sec, 3)
    print(f"# streaming_ingest: {timings['streaming_ingest']}s", file=sys.stderr)
    print(f"# streaming_score: {timings['streaming_score']}s", file=sys.stderr)
    print(f"# streaming_restart: {timings['streaming_restart']}s", file=sys.stderr)
    n_stream_events, window_sec = bench_streaming_window_agg(spark)
    timings["streaming_window_agg"] = round(window_sec, 3)
    print(
        f"# streaming_window_agg: {timings['streaming_window_agg']}s",
        file=sys.stderr,
    )
    state_metrics = bench_streaming_state(spark)
    print(f"# streaming_state: {state_metrics}", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    # Output contract (round 4): the driver's capture window clipped the
    # head of round 3's single giant JSON line (74 query entries +
    # streaming dict -> BENCH_r03 "parsed": null).  Emit the full
    # per-query detail on its OWN stdout line first, then finish with a
    # short headline line that always fits the capture window and is the
    # LAST line of stdout, so a tail-capture parses it.
    detail = {
                "metric": "headline_detail",
                "queries": timings,
                "noisy_samples": noisy,
                "streaming": {
                    "best_of": int(
                        os.environ.get("SPARK_GRAFT_STREAM_REPEATS", "3")
                    ),
                    "files": n_stream_files,
                    "files_per_sec": round(n_stream_files / stream_sec, 1),
                    "score_files_per_sec": round(
                        n_stream_files / score_sec, 1
                    ),
                    "window_agg_events_per_sec": round(
                        n_stream_events / window_sec, 1
                    ),
                    "restart_resume_files_per_sec": round(
                        n_restart_files / restart_sec, 1
                    ),
                    "state": state_metrics,
                },
            }
    _finish(detail, total)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
