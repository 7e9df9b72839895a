#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized (count + collect of the final result) so the
measured time covers scan → shuffle → aggregate, not just plan construction.
A warmup pass on a tiny query absorbs JVM/codegen startup so per-query times
reflect steady-state executor throughput.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from changesetmd_spark import get_spark  # noqa: E402
from changesetmd_spark import registry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: one per operator family (scan+agg, star join, top-k join,
# window, session, map/json, dedup, minhash-lsh, jaccard, similarity, ann,
# text, upsert, xml-ingest, streaming-window)
HEADLINE = [
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "q3_top_revenue_orders",
    "q_window_topk_orders_per_customer",
    "q_window_session_per_user",
    "q_map_value_extract",
    "q_dedup_exact",
    "q_minhash_lsh_candidates",
    "q_ngram_jaccard_pairs",
    "q_embedding_topk_cosine",
    "q_embedding_ann_lsh",
    "q_text_token_stats",
    "q_upsert_last_write_wins",
    "q_changeset_ingest_normalize",
    "q_stream_tumbling_hourly",
    "q_stream_stateful_user_totals",
    "q_embedding_ann_ivf",
    "q_salted_join_skewed_types",
    "q_embedding_neardup_cosine",
    "q_dedup_groups",
    "q_txn_merge_snapshot",
    "q_stream_dedup_first_seen",
    "q_duplicate_substring_spans",
    "q_sequence_packing",
    "q_dsir_importance_weights",
    "q_kmeans_assign_update",
    "q_semdedup_clustered",
    "q_winnowed_fingerprints",
    "q_cdc_chunk_dedup",
    "q_temperature_mixture",
    "q_item_cooccurrence",
    "q_pagerank_items",
    "q_time_gapfill_locf",
    "q_time_gapfill_interpolate",
    "q_series_linear_trend",
    "q_series_ewma",
    "q_rag_chunk_overlap",
    "q_bigram_lm_fluency",
    "q_value_mad_outliers",
    "q_token_len_histogram",
    "q_embedding_pca_power",
    "q_funnel_conversion",
    "q_heavy_hitter_terms",
    "q_cohort_retention",
    "q_ngram_novelty",
    "q_media_shard_manifest",
    "q_multimodal_decode",
    "q_triangle_count",
    "q_type_transition_matrix",
    "q_user_value_deciles",
    "q_embedding_pq_adc",
    "q_label_propagation",
    "q_kcore_items",
    "q_zorder_layout",
    "q_bloom_prefilter_join",
    "q_neardup_canonical",
    "q_embedding_random_projection",
    # r9 operators
    "q_semdedup_ivf",
    "q_vocab_growth_sketched",
    "q_fuzzy_name_pairs",
    "q_table_profile",
    "q_embedding_int8_quantize",
    "q_bpe_train_step",
    "q_bitext_margin_mining",
    "q_pii_redaction_stats",
    "q_countmin_estimates",
    "q_ppjoin_similar_docs",
    "q_phrase_search",
    "q_pps_systematic_sample",
    "q_scd2_priority_history",
    # r10 production tiers
    "q_bitext_margin_mining_ivf",
    "q_countmin_sketch_only",
    "q_minhash_estimate_error_audit",
    "q_stratified_sample_neyman",
    "q_ann_recall_audit",
    "q_priority_sample_topk",
    # r11 operators
    "q_incremental_hash_dedup",
    "q_matryoshka_truncation_audit",
    "q_calibration_ece_bins",
    "q_dedup_threshold_sweep",
    "q_hybrid_rrf_search",
    "q_mmr_diversified_rerank",
    "q_stream_incremental_dedup",
    "q_stream_late_data_drop",
    "q_skew_key_advisor",
    "q_skew_advised_salted_join",
    "q_doremi_mixture_step",
    "q_retrieval_ndcg_eval",
    "q_incremental_minhash_neardup",
    "q_cross_source_leakage",
    "q_unigram_drift_kl",
    "q_multimodal_resize",
    "q_embedding_binary_hamming",
    "q_embedding_dim_moments",
    "q_distinct_ngram_diversity",
    "q_zipf_fit_audit",
    "q_txn_change_feed",
    "q_quality_rule_attribution",
    "q_jsonl_ingest_audit",
    # r13 additions
    "q_ease_grid_project",
    "q_stream_join_left_outer_expiry",
    "q_stream_dedup_reemit_after_expiry",
    "q_multimodal_decode_real",
    "q_context_window_plan",
    "q_label_balance_downsample",
    "q_vocab_prune_coverage",
    "q_market_share_by_nation",
    "q_small_quantity_revenue",
    "q_dup_cluster_histogram",
    "q_multitouch_attribution",
    "q_session_two_phase_scalable",
    "q_association_rules",
    "q_seasonality_profile",
    "q_prf_expansion_terms",
    "q_asof_two_phase_scalable",
    # r14 additions
    "q_kanonymity_risk",
    "q_retrieval_mrr_eval",
    "q_hits_bipartite",
    "q_containment_pairs",
    "q_length_bucket_packing",
    "q_kneser_ney_bigram",
    "q_pmi_collocations",
    "q_charclass_entropy",
    "q_semantic_outlier_docs",
    "q10_returned_item_revenue",
    "q14_promo_revenue_share",
    "q7_nation_volume_shipping",
    "q_ks_value_drift",
    "q_winsorized_stats",
    "q_gini_user_concentration",
    "q_funnel_time_to_convert",
    "q_multimodal_audio_stats",
    "q_hourly_ohlc",
    # r15 additions
    "q18_large_volume_orders",
    "q_part_value_share",
    "q_argmin_supplier_per_part",
    "q_interarrival_stats",
    "q_max_drawdown",
    "q_ldiversity_risk",
    "q_cluster_silhouette",
    "q_referential_integrity_audit",
    "q_cohens_kappa_langid",
    "q_subsample_stability_ci",
    "q_multimodal_png_stats",
    "q_tokenizer_fertility",
    "q_chi2_independence",
    "q13_order_count_distribution",
    "q_fano_burstiness",
    "q_autocorr_lag1",
    "q_pareto_frontier_docs",
    "q_effective_sample_size",
    "q_stream_hourly_ohlc",
    "q_source_vocab_overlap",
    "q_rendezvous_shard_balance",
    "q_psi_value_drift",
    "q_fellegi_sunter_scores",
    "q_cusum_changepoint",
    "q_temporal_split_audit",
    "q_welch_ttest_cohorts",
    "q_benford_digit_audit",
    "q_mann_whitney_u",
    "q_hhi_concentration",
    "q_spearman_hourly_correlation",
    # r16: the 66 previously-unbenched registered queries (VERDICT r15 #2)
    # — every registered query now has a regression pin; a plan regression
    # in the early relational / readme / bbox / map / batch-window / text-
    # quality families is no longer invisible to the close.
    "q_ann_verify_rerank",
    "q_anti_join_dormant_customers",
    "q_asof_purchase_last_view",
    "q_bbox_area_filter",
    "q_bbox_area_topk",
    "q_bbox_containment",
    "q_bm25_keyword_search",
    "q_changeset_comments_explode",
    "q_changeset_join_comments",
    "q_contamination_ngram_overlap",
    "q_cube_order_status_priority",
    "q_dedup_exact_counts",
    "q_distinct_counts",
    "q_embedding_ann_checked",
    "q_embedding_ann_ivf_checked",
    "q_embedding_centroid_per_label",
    "q_grouping_sets_order_stats",
    "q_hard_negative_mining",
    "q_intersect_segments",
    "q_json_typed_extract",
    "q_like_part_types",
    "q_line_dedup_c4",
    "q_map_explode_tag_histogram",
    "q_map_key_existence",
    "q_map_value_like",
    "q_minhash_lsh_checked",
    "q_multimodal_byte_stats",
    "q_neardup_verify_jaccard",
    "q_orders_per_month",
    "q_outer_join_order_counts",
    "q_pipeline_curate_end_to_end",
    "q_pivot_status_by_priority",
    "q_quality_percentile_gate",
    "q_range_join_shipments_in_window",
    "q_readme_count_comment_tag",
    "q_readme_count_created_by_josm",
    "q_readme_envelope_containment",
    "q_rollup_nation_segment",
    "q_semi_join_active_customers",
    "q_set_ops_customer_cohorts",
    "q_simhash_checked",
    "q_simhash_near_dup",
    "q_sketch_cardinality_and_quantiles",
    "q_source_mixture_weights",
    "q_source_quota_sample",
    "q_stream_purchase_attribution",
    "q_stream_rollup_hourly",
    "q_stream_session_windows",
    "q_stream_sliding_2h_1h",
    "q_text_blocklist_scrub",
    "q_text_fingerprint",
    "q_text_lang_id_confusion",
    "q_text_quality",
    "q_text_quality_by_source",
    "q_text_repetition_quality",
    "q_text_token_budget_by_source",
    "q_tfidf_top_terms",
    "q_train_test_split",
    "q_unigram_prob_mass",
    "q_unpivot_quantity_price",
    "q_value_percentiles_per_type",
    "q_vocab_growth",
    "q_window_running_total",
    "q_window_sliding",
    "q_window_trailing_hour_sum",
    "q_window_tumbling_hourly",
    # r16 additions
    "q4_order_priority_check",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q12_shipping_delay_priority",
    "q16_supplier_part_variety",
    "q19_disjunctive_revenue",
    "q21_suppliers_kept_waiting",
    "q22_dormant_high_balance",
    "q_domain_rollup",
    "q_ivf_index_maintenance",
    "q_jensen_shannon_drift",
    "q_theil_index_concentration",
    "q_kendall_tau_hourly",
    "q_transition_entropy",
    "q_acf_profile",
    "q_tcloseness_risk",
    "q_brier_decomposition",
    "q_adamic_adar_linkpred",
    "q_readability_scores",
    "q_data_quality_expectations",
    "q_knn_label_accuracy",
    "q_multimodal_qoi_stats",
    # r17 additions
    "q_session_advised",
    "q_quality_classifier_train_step",
    "q_asof_advised",
]


def xml_ingest_rate(spark, n: int = 200_000) -> dict:
    """Changesets/second through the full XML scan + normalize pipeline —
    the apples-to-apples number against the reference's 3,200-4,800/s
    single-node ingest (BASELINE.md; ref README.md:74).  The synthetic dump
    is generated once and cached under /tmp (generation is not ingest)."""
    import time

    from changesetmd_spark.operators.changesets import _corpus_xml
    from changesetmd_spark.sources import normalize_changesets, read_changeset_xml

    dump_dir = f"/tmp/changesetmd_bench_dump_{n}"
    marker = os.path.join(dump_dir, "_DONE")
    if not os.path.exists(marker):
        os.makedirs(dump_dir, exist_ok=True)
        docs = _corpus_xml()  # 60 distinct element bodies, cycled with new ids
        per_file = n // 8
        idx = 0
        for f_i in range(8):
            with open(os.path.join(dump_dir, f"part-{f_i}.xml"), "w") as f:
                f.write("<osm>\n")
                for _ in range(per_file):
                    # '<changeset id="100X" rest...' -> fresh unique id + rest
                    rest = docs[idx % len(docs)].split(" ", 2)[2]
                    f.write(f'<changeset id="{idx + 1}" {rest}\n')
                    idx += 1
                f.write("</osm>\n")
        with open(marker, "w") as f:
            f.write("ok")
    import shutil
    import uuid

    # Materialize via a real parquet write: a bare count() lets Catalyst
    # prune the normalize projection away (measuring XML element counting,
    # not ingest), and the reference's 3.2-4.8k/s includes the Postgres
    # insert — parse + store is the apples-to-apples pipeline.
    # Median-of-3 (VERDICT r7 #6): single-run ingest wobbled ±11% round to
    # round; report min AND median like the query gauntlet does.
    samples: list[float] = []
    rows = 0
    for _ in range(3):
        out_dir = f"/tmp/changesetmd_bench_out_{uuid.uuid4().hex}"
        t0 = time.perf_counter()
        parsed = normalize_changesets(read_changeset_xml(spark, dump_dir))
        parsed.write.mode("overwrite").parquet(out_dir)
        samples.append(time.perf_counter() - t0)
        rows = spark.read.parquet(out_dir).count()
        shutil.rmtree(out_dir, ignore_errors=True)
    best = min(samples)
    med = sorted(samples)[len(samples) // 2]
    return {
        "changesets": rows,
        "sec": round(best, 3),
        "sec_median": round(med, 3),
        "rate_per_sec": round(rows / best),
        "rate_per_sec_median": round(rows / med),
    }


def replication_steady_state(spark) -> dict:
    """Steady-state replication latency (VERDICT r7 #8): a backlog of
    ``SPARK_GRAFT_REPL_DIFFS`` minutely diff files (default 400; set 10000
    for the full long-run sweep) drains through
    ``run_replication_stream`` as bounded micro-batches (25 diffs each) —
    the production loop: streaming checkpoint = consumed-file watermark,
    one atomic MERGE commit per batch.

    Two phases over ONE checkpoint: phase 1 (half the diffs) warms the
    table so phase 2 measures MERGE-against-a-populated-table — the
    steady state.  ``sec_per_diff`` is phase-2 wall per diff, the
    apples-to-apples number against the reference's "a few seconds per
    minutely diff" (ref README.md:69, BASELINE.md).  Ends with the
    maintenance pair: compact() then vacuum(), asserting the table stays
    readable and the data-dir count collapses."""
    import shutil
    import time
    import uuid

    from changesetmd_spark.sinks.txn_table import TxnTable
    from changesetmd_spark.streaming import run_replication_stream

    n_diffs = int(os.environ.get("SPARK_GRAFT_REPL_DIFFS", "400"))
    per_diff_cs = 5
    root = f"/tmp/changesetmd_repl_bench_{uuid.uuid4().hex}"
    src = os.path.join(root, "diffs")
    table_dir = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src, exist_ok=True)

    import gzip

    def write_diff(seq: int) -> None:
        # ids overlap the previous diff by 2 → every batch is an
        # insert+update mix (changesets evolving across diffs, T5).
        # created_at advances with the sequence (a minutely diff touches
        # recently-created changesets), so each MERGE prunes to the few
        # newest of the 28 date partitions and the per-diff cost stays
        # flat as the table grows — the steady-state property under test.
        base = seq * (per_diff_cs - 2)
        day = (seq - 1) * 28 // n_diffs + 1
        rows = []
        for cid in range(base, base + per_diff_cs):
            rows.append(
                f'<changeset id="{cid + 1}" '
                f'created_at="2024-05-{day:02d}T01:00:00Z" '
                f'closed_at="2024-05-{day:02d}T02:00:00Z" open="false" '
                f'user="u{cid % 50}" uid="{cid % 50}" '
                f'num_changes="{seq % 100}"/>'
            )
        payload = ("<osm>\n" + "\n".join(rows) + "\n</osm>").encode()
        path = os.path.join(src, f"{seq:09d}.osm.gz")
        with open(path, "wb") as f:
            f.write(gzip.compress(payload))
        # in-order delivery contract: the file stream batches by mtime and
        # the LWW merge is by-arrival; production drops one diff per
        # minute, so burst-written fixtures must pin increasing mtimes
        t = 1_700_000_000 + seq
        os.utime(path, (t, t))

    try:
        half = n_diffs // 2
        for s in range(1, half + 1):
            write_diff(s)
        run_replication_stream(
            spark, src, table_dir, ckpt, max_files_per_trigger=25
        )
        for s in range(half + 1, n_diffs + 1):
            write_diff(s)
        t0 = time.perf_counter()
        run_replication_stream(
            spark, src, table_dir, ckpt, max_files_per_trigger=25
        )
        dt = time.perf_counter() - t0

        table = TxnTable(spark, table_dir, partition_source="created_at")
        rows = table.read().count()
        versions = table.current_version()
        # the full OPTIMIZE pass: commit dirs are shared by several date
        # partitions, so superseded rows keep whole dirs referenced (live
        # via a sibling partition) — rewriting every partition into one
        # fresh dir un-references all of them, and vacuum then reclaims
        # the long run's entire dir backlog.
        table.compact()
        removed = table.vacuum(keep_versions=1, retention_seconds=0.0)
        live_dirs = len(
            {
                d
                for dirs in table._manifest(table.current_version())[
                    "partitions"
                ].values()
                for d in dirs
            }
        )
        rows_after = table.read().count()
        assert rows_after == rows, (rows, rows_after)
        # maintenance must actually collapse the long run's fragmentation:
        # the full OPTIMIZE leaves ONE live data dir, and vacuum reclaimed
        # the whole commit-history backlog
        assert live_dirs == 1, live_dirs
        assert removed, "vacuum removed nothing after a 100+-commit run"
        expected_ids = (n_diffs * (per_diff_cs - 2)) + 2
        assert rows == expected_ids, (rows, expected_ids)
        return {
            "diffs": n_diffs,
            "measured_diffs": n_diffs - half,
            "sec_per_diff": round(dt / (n_diffs - half), 4),
            "diffs_per_sec": round((n_diffs - half) / dt, 1),
            "phase2_sec": round(dt, 3),
            "rows": rows,
            "commits": versions,
            "live_dirs_after_maintenance": live_dirs,
            "vacuumed_dirs": len(removed),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def contention_sentinel(spark) -> float:
    """Fixed-work machine-health probe (VERDICT r13 #2): a pinned
    CPU-bound, shuffle-free, IO-free plan — xxhash64 over a 32-partition
    range, single-row partial-agg collect — whose wall time depends only
    on available CPU.  Measured at bench start / middle / end; if the
    sentinel itself drifts round-over-round (or within the run), the
    per-query regression flags are annotated as contention-suspect rather
    than treated as plan regressions.  Work size (~0.5 s on an idle
    local[32]) is big enough to ride out scheduler jitter, small enough
    to not perturb the bench."""
    from pyspark.sql import functions as F

    # modulo before the sum: 640M full-range xxhash64 longs overflow an
    # ANSI BIGINT sum; |term| <= 2^20 keeps the total under 2^50.
    # Min-of-2 because a single ~0.5s probe still sees ±15% scheduler
    # jitter on a shared host — the min is the uncontended capability.
    samples = []
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, 640_000_000, 1, 32).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1_048_576)))
        ).collect()
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 3)


def io_probe(spark) -> float:
    """IO/page-cache-sensitive probe (VERDICT r16 #2): a fixed parquet
    scan — sum of one numeric column of lineitem at the bench SF — whose
    wall time moves with page-cache hit rate and disk pressure, the two
    contamination channels the pure-JVM sentinel is blind to (r16's
    driver rerun inflated the whole 251-query distribution 1.374x while
    the JVM sentinel moved 1.07x).  Warmed once in the warmup block so
    start/mid/end samples measure cache RETENTION under the run's
    memory pressure, not first-touch cold reads.  Min-of-2, like the
    JVM sentinel."""
    from pyspark.sql import functions as F

    path = os.path.join(SF_DIR, "lineitem.parquet")
    samples = []
    for _ in range(2):
        t0 = time.perf_counter()
        spark.read.parquet(path).select(F.sum("l_extendedprice")).collect()
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 3)


def pin_candidates(
    prev: dict,
    now_sf: float,
    now_medians: dict[str, float],
    now_fps: dict[str, str],
    ratio_thresh: float = 1.5,
    abs_thresh: float = 0.3,
    norm_thresh: float = 1.4,
    contamination_thresh: float = 1.15,
    min_common: int = 20,
) -> dict:
    """Pure regression-pin candidate computation (VERDICT r16 #2) — no
    Spark, so the r16 close-vs-driver-rerun pair replays through it in a
    unit test (tests/test_bench_pin.py).

    Three layers, each motivated by an observed false-confirmation mode:

    1. The r13 raw pin: median > ratio_thresh x prev AND absolute delta >
       abs_thresh, fingerprint-stable only (changed code is REDEFINED).
    2. Run-median normalization: per-query ratios are divided by the
       run-level median ratio over all fingerprint-stable common queries;
       a breach must exceed the run's own drift by norm_thresh.  Uniform
       host pressure inflates every query together (r16 rerun: median
       1.217x, p90 1.70x) — those raw breaches land in ``suppressed``
       with their normalized ratio, not in ``candidates``.
    3. Whole-run contamination declaration: when the run-median ratio
       itself exceeds contamination_thresh, the measurement WINDOW is
       contaminated and an in-window resample cannot certify the host —
       the caller must not emit ``resample_confirmed`` for this run
       (``run_contaminated``).  A genuine single-plan regression cannot
       move the median of 200+ queries; a genuine ENGINE-WIDE regression
       still surfaces through vs_prev_common and the next round's close.
    """
    out = {
        "candidates": {},
        "suppressed": {},
        "redefined": [],
        "run_median_ratio": None,
        "run_contaminated": False,
        "n_common_stable": 0,
    }
    if prev.get("sf") != now_sf:
        return out
    prev_meds = prev.get("queries_median") or prev.get("queries", {})
    prev_fps = prev.get("query_fingerprints", {})
    ratios: dict[str, float] = {}
    for name, now_t in now_medians.items():
        prev_t = prev_meds.get(name)
        if not prev_t or prev_t <= 0:
            continue
        prev_fp = prev_fps.get(name)
        if prev_fp is not None and prev_fp != now_fps.get(name):
            if (
                prev_t > 0.2
                and now_t > ratio_thresh * prev_t
                and now_t - prev_t > abs_thresh
            ):
                out["redefined"].append(name)
            continue
        ratios[name] = now_t / prev_t
    out["n_common_stable"] = len(ratios)
    if len(ratios) >= min_common:
        vals = sorted(ratios.values())
        mid = len(vals) // 2
        run_med = (
            vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2.0
        )
    else:
        run_med = 1.0
    out["run_median_ratio"] = round(run_med, 3)
    out["run_contaminated"] = bool(
        len(ratios) >= min_common and run_med > contamination_thresh
    )
    for name, ratio in ratios.items():
        prev_t = prev_meds[name]
        now_t = now_medians[name]
        if not (
            prev_t > 0.2
            and now_t > ratio_thresh * prev_t
            and now_t - prev_t > abs_thresh
        ):
            continue
        norm_ratio = round(ratio / run_med, 2)
        rec = {
            "prev": prev_t,
            "now": now_t,
            "ratio": round(ratio, 2),
            "ratio_vs_run_median": norm_ratio,
        }
        if norm_ratio > norm_thresh:
            out["candidates"][name] = rec
        else:
            out["suppressed"][name] = rec
    out["redefined"].sort()
    return out


def micro_probe(spark) -> float:
    """Per-query contention covariate (r15, PLANS.md post-close note):
    a fixed-work slice of the sentinel plan run before EACH query's
    samples (~0.18 s, floored by the collect round-trip).  This host's
    noisy-neighbor windows last minutes — long enough to inflate a block
    of adjacent queries, short enough that three run-level sentinel
    samples miss them; a per-query probe lets the regression pin mark
    flags environment-suspect at QUERY granularity.  Probes are measured
    OUTSIDE the query timers, so the headline total is unaffected
    (~30 s of extra wall per run)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 16_000_000, 1, 8).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1_048_576)))
    ).collect()
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    spark = get_spark(app_name="changesetmd-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # warmup: start executors + codegen on a trivial plan, and spin up the
    # Python worker pool (the pandas-stateful/mapInPandas queries otherwise
    # pay daemon startup inside their measurement)
    qs["q_distinct_counts"](spark, SF_DIR).collect()
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id long"
    ).collect()
    # warm the sentinel's own codegen path so its start/mid/end samples
    # are all steady-state (first compile of the probe plan costs ~2.5s);
    # same for the per-query micro-probe's smaller plan
    contention_sentinel(spark)
    micro_probe(spark)
    io_probe(spark)  # first-touch cold read paid here, not in the samples

    # measure ingest before the query gauntlet fragments the heap — the
    # rate is the headline comparison against the reference's 3.2-4.8k/s
    try:
        ingest = xml_ingest_rate(spark)
    except Exception as ex:  # noqa: BLE001 — a broken ingest must not kill the run
        ingest = {"err": f"{type(ex).__name__}: {ex}"[:300]}

    try:
        repl = replication_steady_state(spark)
    except Exception as ex:  # noqa: BLE001
        repl = {"err": f"{type(ex).__name__}: {ex}"[:300]}

    # One throwing query must cost only its own timing slot, never the whole
    # bench: record the error string and keep going so every round has a
    # perf signal for the remaining queries.  Each query is timed 3× — the
    # MINIMUM is the headline (timeit methodology: this host shows sporadic
    # global 1.5-2x slowdowns from shared-host contention + page-cache
    # drops that would otherwise be indistinguishable from plan
    # regressions) and the MEDIAN is reported alongside (VERDICT r6 #7) so
    # round-over-round diffs can tell host noise from real plan changes.
    _RUNS = 3
    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    errors: dict[str, str] = {}
    sentinel = {"start": contention_sentinel(spark)}
    io_sentinel = {"start": io_probe(spark)}
    probes: dict[str, float] = {}
    for name in HEADLINE:
        if name == HEADLINE[len(HEADLINE) // 2]:
            sentinel["mid"] = contention_sentinel(spark)
            io_sentinel["mid"] = io_probe(spark)
        probes[name] = micro_probe(spark)
        samples: list[float] = []
        for _ in range(_RUNS):
            t0 = time.perf_counter()
            try:
                rows = qs[name](spark, SF_DIR).collect()
                samples.append(time.perf_counter() - t0)
                assert rows is not None
            except Exception as ex:  # noqa: BLE001
                errors[name] = f"{type(ex).__name__}: {ex}"[:300]
                # keep times/errors disjoint: an early-run success followed
                # by a later failure must not double-report the query as
                # both measured and failed
                samples = []
                break
            finally:
                # measurement isolation: several queries persist
                # intermediates they cannot unpersist (the driver collects
                # AFTER the builder returns); over a 20+-query gauntlet
                # those caches evict LIVE caches out from under the
                # iterative queries, which then recompute whole lineages —
                # observed as 5s → 20-30s swings on the late queries.
                spark.catalog.clearCache()
        if samples:
            times[name] = round(min(samples), 3)
            medians[name] = round(sorted(samples)[len(samples) // 2], 3)

    sentinel["end"] = contention_sentinel(spark)
    io_sentinel["end"] = io_probe(spark)

    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_median": medians,
        "contention_probe": probes,
        "sf": sf_from_dir(SF_DIR),
        "xml_ingest": ingest,
        "replication_steady_state": repl,
        "replication_steady_state_sec_per_diff": repl.get("sec_per_diff"),
        "sentinel": sentinel,
        "io_sentinel": io_sentinel,
        # the pin below compares queries against the prior round only when
        # their registry fingerprint is unchanged — a redefined query gets
        # a fresh baseline instead of a bogus "regression" (VERDICT r13 #8)
        "query_fingerprints": {
            name: registry._fingerprint(name) for name in times
        },
    }
    if errors:
        out["errors"] = errors
    # Per-query regression pin (VERDICT r11 #7, medians per r12 #7):
    # compare against the previous round's BENCH_full.json (the file about
    # to be overwritten) at equal SF and loudly report any query >1.5x its
    # prior time — the builder catches the next plan regression, not the
    # judge.  Compares MEDIANS on both sides: a single-run comparison
    # flagged four JVM-warm-up false positives on the driver's r12 re-run
    # (q5 at 2.49x) that the median columns already refuted; a real plan
    # regression moves the median as surely as the min.
    regressions: dict[str, dict] = {}
    redefined: list[str] = []
    prev_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"
    )
    try:
        with open(prev_path) as f:
            prev = json.load(f)
        # Contention sentinel (VERDICT r13 #2): if the fixed-work probe ran
        # >1.3x slower than the prior round's (or drifted >1.3x within this
        # run), per-query flags are environment-suspect, not plan evidence.
        prev_sent = prev.get("sentinel") or {}
        prev_sent_best = min(
            (v for v in prev_sent.values() if isinstance(v, (int, float))),
            default=None,
        )
        now_sent_best = min(sentinel.values())
        sent_ratio = (
            round(now_sent_best / prev_sent_best, 2) if prev_sent_best else None
        )
        intra_drift = round(max(sentinel.values()) / now_sent_best, 2)
        out["sentinel_vs_prev_ratio"] = sent_ratio
        out["sentinel_intra_run_drift"] = intra_drift
        prev_io = prev.get("io_sentinel") or {}
        prev_io_best = min(
            (v for v in prev_io.values() if isinstance(v, (int, float))),
            default=None,
        )
        now_io_best = min(io_sentinel.values())
        io_ratio = (
            round(now_io_best / prev_io_best, 2) if prev_io_best else None
        )
        out["io_sentinel_vs_prev_ratio"] = io_ratio
        # IO drifts harder than the JVM probe even on a quiet host (page
        # cache is shared state), so its bar is looser: 1.5x
        contended = (
            (sent_ratio or 1.0) > 1.3
            or intra_drift > 1.3
            or (io_ratio or 1.0) > 1.5
        )
        # per-query covariate: a query whose adjacent micro-probe ran
        # >1.3x the run's floor was measured in a noisy window
        probe_floor = min(probes.values()) if probes else None
        if prev.get("sf") == out["sf"]:
            # older files may predate the median column; fall back to min
            prev_meds = prev.get("queries_median") or prev.get("queries", {})
            # Layered candidate computation (VERDICT r16 #2): raw pin →
            # run-median normalization → whole-run contamination
            # declaration.  Pure function, replayed on the r16
            # close-vs-driver-rerun pair in tests/test_bench_pin.py.
            pins = pin_candidates(
                prev, out["sf"], medians, out["query_fingerprints"]
            )
            redefined.extend(pins["redefined"])
            out["run_median_ratio"] = pins["run_median_ratio"]
            out["run_contaminated"] = pins["run_contaminated"]
            out["suppressed_uniform_contention"] = pins["suppressed"]
            run_med = pins["run_median_ratio"] or 1.0
            for name, rec in pins["candidates"].items():
                probe_ratio = (
                    round(probes[name] / probe_floor, 2)
                    if probe_floor and name in probes
                    else None
                )
                regressions[name] = dict(
                    rec,
                    suspect_contention=bool(contended)
                    or bool(probe_ratio and probe_ratio > 1.3)
                    or pins["run_contaminated"],
                    probe_vs_floor=probe_ratio,
                )
            # Probe-gated resampling (VERDICT r15 #1/#3): the single
            # pre-query probe has a blind spot — a noise window can start
            # AFTER the probe and inflate the query anyway (r15's
            # q_stream_hourly_ohlc: 1.63x flag, probe_vs_floor 1.19, rerun
            # clean).  On a pin breach, immediately re-sample the query
            # under a FRESH probe; a flag only stands as plan evidence if
            # the breach reproduces while the cool probe certifies the
            # host (`resample_confirmed: true`).  r16 hardening: the
            # reproduction bar scales with the run-median ratio (inside a
            # hot window "prev" is not the right baseline), and a run
            # declared contaminated can never self-confirm — its resample
            # ran in the same window the contamination covers, so the
            # result is recorded (`resample_reproduced`) for the next
            # round's cross-check but not treated as plan evidence.
            for name, reg in regressions.items():
                cool_probe = micro_probe(spark)
                re_samples: list[float] = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    try:
                        qs[name](spark, SF_DIR).collect()
                        re_samples.append(time.perf_counter() - t0)
                    except Exception:  # noqa: BLE001
                        break
                    finally:
                        spark.catalog.clearCache()
                if not re_samples:
                    continue
                re_med = round(sorted(re_samples)[len(re_samples) // 2], 3)
                cool_ratio = (
                    round(cool_probe / probe_floor, 2) if probe_floor else None
                )
                probe_cool = bool(cool_ratio is None or cool_ratio < 1.3)
                reproduced = re_med > 1.5 * reg["prev"] * max(run_med, 1.0)
                reg["resample_median"] = re_med
                reg["resample_probe_vs_floor"] = cool_ratio
                reg["resample_reproduced"] = bool(reproduced)
                reg["resample_confirmed"] = bool(
                    reproduced and probe_cool and not pins["run_contaminated"]
                )
                if not reproduced:
                    # breach evaporated under re-measurement → host noise
                    reg["suspect_contention"] = True
        # Cross-round drift attribution (VERDICT r14 #3/#8): the totals of
        # the queries COMMON to both files, raw and sentinel-normalized.
        # Two consecutive rounds drifted ~10% uniformly close-to-close with
        # a flat intra-run sentinel; an r15 same-machine back-to-back A/B
        # (r13-close checkout vs HEAD, 10 common queries, both orders)
        # measured engine-ratio 1.00/0.88 — the drift is measurement-
        # context (host contention, page cache), NOT engine code, and the
        # registry-size/fixed-overhead hypothesis is refuted (r13's
        # 180-query registry times equal HEAD's 199-query one).  These
        # fields make the same attribution mechanical for future rounds:
        # `vs_prev_common_ratio_sentinel_normalized` ≈ 1.0 ⇒ machine;
        # materially > 1.0 with a flat sentinel ⇒ engine, dig in.  When the
        # prev file is a committed close and this run is the driver's
        # post-commit rerun, `vs_prev_common_ratio_raw` IS the
        # close-vs-rerun gap the rounds must be compared on.
            # Lives INSIDE the same-sf branch (r15 advisor): prev_meds
            # only exists there, and cross-SF common totals would be
            # meaningless — a bench run at a different SPARK_GRAFT_SF_DIR
            # previously raised NameError after the full gauntlet, losing
            # the run's output.
            common = [n for n in medians if n in prev_meds and prev_meds[n]]
            if common:
                now_c = round(sum(medians[n] for n in common), 3)
                prev_c = round(sum(prev_meds[n] for n in common), 3)
                raw = round(now_c / prev_c, 3) if prev_c else None
                out["vs_prev_common"] = {
                    "n_queries": len(common),
                    "prev_total": prev_c,
                    "now_total": now_c,
                    "vs_prev_common_ratio_raw": raw,
                    "vs_prev_common_ratio_sentinel_normalized": (
                        round(raw / sent_ratio, 3)
                        if raw is not None and sent_ratio
                        else None
                    ),
                }
    except (OSError, json.JSONDecodeError):
        pass
    out["regressions"] = regressions
    out["rebaselined_redefined"] = sorted(redefined)
    if regressions:
        tag = (
            " (sentinel drifted — machine contention suspected)"
            if any(r["suspect_contention"] for r in regressions.values())
            else ""
        )
        print(
            f"REGRESSIONS vs previous round{tag}: {sorted(regressions)}",
            file=sys.stderr,
        )
    # Clip-proofing (VERDICT r8 #4): the driver stores only a tail of
    # stdout, which truncated the r8 per-query map.  Persist the full
    # payload in-repo so round-over-round diffs never depend on what
    # survived the clip.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"),
        "w",
    ) as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    # The stdout line is SLIM (VERDICT r17 #2): the r16 full payload —
    # 254 queries x (min, median, fingerprint, probe) + nested pin/
    # suppression records — truncated in the driver's capture, which
    # nulled the entire round-over-round PERF table.  Stdout carries only
    # what the driver's comparison needs (totals + per-query min/median +
    # scalar health probes); everything else lives in BENCH_full.json,
    # written above and committed with each close.  The timed region and
    # every existing `queries` entry are unchanged.
    slim = {
        k: out[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "queries_median",
            "sf",
            "replication_steady_state_sec_per_diff",
            "sentinel",
            "io_sentinel",
            "run_median_ratio",
            "run_contaminated",
            "sentinel_vs_prev_ratio",
            "io_sentinel_vs_prev_ratio",
            "vs_prev_common",
            "errors",
        )
        if k in out
    }
    slim["xml_ingest_rate_per_sec"] = (out.get("xml_ingest") or {}).get(
        "rate_per_sec"
    )
    slim["n_regression_flags"] = len(regressions)
    slim["full_record"] = "BENCH_full.json"
    print(json.dumps(slim))


if __name__ == "__main__":
    main()
