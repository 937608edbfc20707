#!/usr/bin/env python
"""Benchmark harness: runs EVERY registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a noop write (full execution, no driver
collect). One warm-up of a small query amortizes session/JIT startup
out of the numbers.

Coverage contract (r5 VERDICT item 5): the bench list is DERIVED from
the registry — ``_HEADLINE`` below pins the historical ordering for
timing continuity with prior rounds' artifacts, and every registry
entry not named there is appended in registry order, so
``n_queries == len(registry())`` by construction (asserted in
``tests/test_driver_contract.py``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_regional_revenue",
    "q6_revenue_forecast",
    "q4_order_priority",
    "q7_nation_trade",
    "q8_market_share",
    "q9_product_profit",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "top_revenue_customers",
    "mart_union_cast",
    "events_hourly_rollup",
    "events_sessionization",
    "events_latest_snapshot",
    "asof_last_click_before_purchase",
    "range_join_clicks_after_purchase",
    "dedup_exact_stats",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "knn_cosine_bruteforce",
    "knn_cosine_lsh",
    "text_stats",
    "doc_fingerprint_rolling",
    "multimodal_decode_stats",
    "streaming_hourly_counts",
    # differentiated operators promoted per round-1 verdict: temporal,
    # curation, funnel/retention, kernel-matrix, ANN-serving, decode
    "asof_next_click_after_purchase",
    "events_daily_retention",
    "funnel_view_click_purchase",
    "full_outer_daily_activity",
    "salted_skew_join_revenue",
    "corpus_curation_pipeline",
    "doc_overlap_chunks",
    "train_val_test_split",
    "lang_id_heuristic",
    "token_entropy_pandas_udf",
    "dedup_embedding_cosine_lsh",
    "knn_cosine_ivf",
    "embedding_scalar_quantization",
    "multimodal_image_decode",
    "decontam_test_overlap",
    "pii_redaction_stats",
    "doc_repetition_stats",
    "corpus_mixture_sample",
    # round 3: hash-certified signature variants, incremental dedup
    # store, training-set assembly, iterative graph
    "dedup_minhash_lsh_checkable",
    "dedup_minhash_incremental",
    "sequence_pack_blocks",
    "sequence_pack_greedy",
    "corpus_global_shuffle",
    "corpus_mixture_upsample",
    "events_pagerank",
    "quality_logreg_train",
    "embedding_kmeans_assign",
    "embedding_pq",
    # round 3: O(delta) table maintenance (CDC merge / SCD-2 / rollup)
    "cdc_apply_changelog",
    "scd2_order_status_history",
    "incremental_rollup_maintenance",
    # round 3: search / fuzzy ER / data layout / gap repair
    "inverted_index_stats",
    "bm25_search",
    "fuzzy_join_customer_names",
    "zorder_layout_stats",
    "gap_fill_linear_interpolation",
    # round 3: mergeable sketches
    "approx_distinct_users_bounds",
    "hll_union_rollup_bounds",
    # round 3: real audio (WAV/RIFF) decode
    "multimodal_audio_decode",
    # round 3: column profiling
    "histogram_profile_totalprice",
    # round 3: weighted sampling + snapshot reconciliation
    "weighted_sample_per_source",
    "table_diff_audit",
    # round 3: log-round hierarchy resolution
    "hierarchy_pointer_doubling",
    # round 3: hybrid retrieval (BM25 + embedding cosine, RRF fusion)
    "hybrid_search_rrf",
    # round 3: streaming MERGE (foreachBatch CDC into a keyed store)
    "streaming_cdc_apply",
    # round 3: reshape + null-contract batteries
    "unpivot_order_metrics",
    "null_semantics_battery",
    # round 3: RANGE (value-offset) window frame
    "range_frame_trailing_week",
    # round 3: array higher-order-function battery
    "array_hof_battery",
    # round 3: end-to-end hash-certified MinHash clustering
    "dedup_minhash_clusters_checkable",
    # round 3: experiment analytics
    "cohort_retention_matrix",
    "ab_test_ztest",
    # round 3: spatial grid-blocked radius join
    "spatial_radius_join",
    # round 3: JSON round-trip and rank-function batteries
    "json_roundtrip_battery",
    "window_rank_battery",
    # round 3: bivariate stats + shuffle-key skew diagnostics
    "corr_covar_battery",
    "key_skew_profile",
    # round 4: time-series smoothing/anomaly + closed-form regression
    "events_value_ewma",
    "value_outlier_mad_battery",
    "revenue_trend_ols",
    # round 4: collocation mining, CMS heavy hitters, PPJoin dedup
    "token_pmi_bigrams",
    "cms_heavy_hitters",
    "dedup_jaccard_ppjoin",
    # round 4: PCA power iteration over embeddings
    "embedding_pca_power",
    # round 4: Jaro-Winkler ER verification kernel
    "jaro_winkler_verify_pairs",
    # round 4: in-engine Naive Bayes training + serving
    "lang_nb_classifier",
    # round 4: revenue concentration + Holt trend smoothing
    "revenue_gini_by_segment",
    "events_value_holt",
    # round 4: degree-ordered triangle counting
    "copurchase_triangle_count",
    # round 4: in-engine BPE tokenizer induction
    "bpe_merge_table",
    # round 4: multi-touch attribution over the range join
    "purchase_touch_attribution",
    # round 4: cogrouped pandas kernel, winsorization, interval overlap
    "cogroup_purchase_click_gap",
    "value_winsorize_stats",
    "user_activity_overlap_pairs",
    # round 4: Hilbert layout, Bloom semi-join reduction, k-core
    # peeling, KS/PSI drift monitor
    "hilbert_layout_stats",
    "bloom_semijoin_reduction",
    "kcore_copurchase",
    "ks_psi_drift_events",
    # round 4: normal-equations regression, CUSUM changepoint, ACF,
    # stratified sampling
    "regression_normal_equations",
    "cusum_changepoint_daily",
    "acf_daily_counts",
    "stratified_sample_exact",
    # round 4: join-view maintenance, SCD-2 time travel, skyline,
    # sketch set algebra
    "incremental_join_view",
    "scd2_asof_snapshot",
    "skyline_pareto_parts",
    "hll_intersection_bounds",
    # round 4: association rules, FD profiling, session path mining
    "market_basket_rules",
    "fd_discovery_profile",
    "session_path_conversion",
    # round 4: centroid geometry, interval union, join pricing
    "label_centroid_similarity",
    "interval_union_coverage",
    "join_explosion_profile",
    # round 4: seasonal decomposition, FD repair
    "seasonal_decompose_weekday",
    "fd_repair_majority",
    # round 4: streaming mergeable-sketch maintenance
    "streaming_cms_heavy_hitters",
    # round 4: LM perplexity filter, categorical association
    "bigram_lm_perplexity",
    "categorical_association_battery",
    # round 4: community-quality scoring
    "graph_modularity_brands",
    # round 4: stateful fold replay + sequence pattern matching
    "rate_limit_token_bucket",
    "sequence_pattern_funnel",
    # round 4: funnel latency, per-segment trend sweep
    "funnel_latency_percentiles",
    "trend_by_priority_ols",
    # round 4: exact WAU, schema integrity, corpus composition
    "sliding_distinct_users_7d",
    "referential_integrity_audit",
    "source_vocab_overlap",
    # round 4: seasonal-adjusted anomaly screen
    "seasonal_adjusted_anomalies",
    # round 4: Benford audit, time-in-state accounting
    "benford_digit_audit",
    "state_duration_accounting",
    # round 4: tokenizer serving (BPE encode)
    "bpe_encode_stats",
    # round 4: entity-resolution clustering
    "fuzzy_er_clusters",
    # round 5: substring-span dedup, temperature mixture weights,
    # MI/entropy battery, pair-explosion guard
    "dedup_repeated_ngram_spans",
    "corpus_temperature_mixture",
    "column_mutual_information",
    "overlap_pair_explosion_guard",
    # round 5: in-engine quality evaluation of the approximate indexes
    "ann_recall_eval",
    "dedup_lsh_recall_eval",
    # round 5: exact two-pass order statistics + dedup application
    "exact_percentiles_two_pass",
    "dedup_apply_keep_canonical",
    # round 5: multimodal decode->transform->encode round trips
    "multimodal_image_resize",
    "multimodal_audio_resample",
    # round 5: schema-evolution scan + ANSI try_* error-safety battery
    "schema_evolution_read",
    "try_arithmetic_battery",
    # round 5: deterministic negative sampling for contrastive pairs
    "negative_sample_pairs",
    # round 5: certified bucketed co-located fact-fact join
    "bucketed_join_revenue",
    # round 5: classifier evaluation battery over the NB matrix
    "classifier_eval_metrics",
    # round 5: per-group exact median, fully partitioned two-pass
    "grouped_exact_median_two_pass",
    # round 5: probability calibration of the trained classifier
    "logreg_calibration_report",
    # round 5: ER survivorship merge (match -> cluster -> golden record)
    "fuzzy_er_survivorship",
    # round 5: sketch-served retention with compounded error bound
    "hll_retention_estimate_bounds",
    # round 5b: statistics / graph / temporal / dedup / recommend /
    # search widening
    "spearman_rank_correlation",
    "graph_bfs_distance",
    "peak_concurrency_by_day",
    "dedup_ngram_containment",
    "markov_attribution_removal",
    "item_item_cosine_neighbors",
    "phrase_search_positional",
    "feature_store_pit_join",
    "twap_value_by_type_day",
    "conformal_trend_intervals",
    "grouped_weighted_median_two_pass",
    "analyze_column_stats",
    "parts_personalized_pagerank",
    "kaplan_meier_survival",
    "theil_sen_trend_robust",
    "events_hits_hubs_authorities",
    "k_anonymity_audit",
    "join_size_estimate_cms",
    "rfm_customer_segments",
    "mann_whitney_value_shift",
    "kneser_ney_bigram_lm",
    "embedding_truncation_recall",
    "benjamini_hochberg_nations",
    "textrank_keywords",
    "holt_winters_weekly_revenue",
]


def bench_names(reg) -> list[str]:
    """Historical order first, then every other registry entry —
    the full registry, always."""
    seen = set(_HEADLINE)
    return [n for n in _HEADLINE if n in reg] + [
        n for n in reg if n not in seen
    ]


# Host-load gate (r9 VERDICT item 2): the r9 driver bench ran at
# loadavg 12.8 and produced 12 uniform 3-6x false flags on sub-second
# queries; the r9-close's own first attempt under load 7-10 showed the
# same signature and was discarded. Recording load at the END (r9,
# commit f4d1240) documents contamination after the fact — this gate
# decides it BEFORE the first query.
LOADAVG_MAX_DEFAULT = 2.0


def host_quiet_check(now_loadavg=None):
    """Return (loadavg_at_start, comparable, threshold).

    ``comparable`` is False when the 1-minute loadavg at start exceeds
    the threshold (env ``SPARK_GRAFT_LOADAVG_MAX``, default 2.0) — the
    artifact is stamped so regression flags taken under contention are
    never mistaken for code drift. With
    ``SPARK_GRAFT_BENCH_REQUIRE_QUIET=1`` the caller should refuse to
    run instead (the builder's close-run mode; the driver's default
    keeps producing a stamped artifact). ``now_loadavg`` is injectable
    for tests.
    """
    threshold = float(
        os.environ.get("SPARK_GRAFT_LOADAVG_MAX", str(LOADAVG_MAX_DEFAULT))
    )
    if now_loadavg is None:
        try:
            now_loadavg = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            return None, True, threshold  # no measurement -> no verdict
    else:
        now_loadavg = [round(float(x), 2) for x in now_loadavg]
    return now_loadavg, now_loadavg[0] <= threshold, threshold


# The benchmark process itself keeps up to 32 executor threads busy, so
# the loadavg SEEN MID-RUN includes our own work. Measured own-work
# midrun peaks on fully QUIET runs: 16.0 (r11 open, 417 s) and 19.53
# (r11 close, 397.8 s — the committed BENCH_DETAIL receipt). The
# allowance defaults to that measured ceiling plus margin, NOT the CPU
# count: the r11 ADVICE showed threshold+32 only fires above loadavg
# ~34 and so missed the documented load-7-10 contention window, while
# the suggested 16 would retro-downgrade the very receipt that
# calibrated it (19.53 own-work peak). 22 ≈ max measured own-work +
# 12% margin; the gate now fires at ~24, catching moderate outside
# load during our own parallel peaks without false-flagging any quiet
# run on record. SPARK_GRAFT_LOADAVG_OWN_WORK stays the override.
MIDRUN_OWN_WORK_DEFAULT = 22.0


def midrun_quiet_threshold(threshold: float) -> float:
    own = os.environ.get("SPARK_GRAFT_LOADAVG_OWN_WORK")
    if own is not None:
        return threshold + float(own)
    return threshold + MIDRUN_OWN_WORK_DEFAULT


# End-of-run check: the final loadavg is sampled with our own pool idle
# (after the last query + cache sweep), so only the 1-minute DECAY of
# our own tail work remains. Allowance 8 splits the two anecdotes on
# record: the contaminated r10 close ended at 14.58 (outside load),
# the clean r11 run at 4.84 (own decay after its streaming tail).
def end_quiet_threshold(threshold: float) -> float:
    decay = float(os.environ.get("SPARK_GRAFT_LOADAVG_END_DECAY", "8.0"))
    return threshold + decay


# CPU-throttle probe (r12 VERDICT item 2): loadavg gates cannot see CPU
# throttling — the r12 close host ran 2.5-4x slow at loadavg 11.98 under
# a 24.0 allowance (burst-credit-style capping; verified with fixed
# single-core probes: 1.28 s idle vs 2.55 s degraded on identical code).
# A fixed single-core calibration kernel timed at run start / middle /
# end measures the host's instantaneous speed DIRECTLY; when the slowest
# sample exceeds the fastest by more than the drift allowance, the run
# was throttled mid-flight and its numbers are not comparable. The
# kernel is pure-Python fixed work (no I/O, no Spark), ~0.5 s idle, and
# each sample is taken while the executor pool is idle (between
# queries), so it measures the host, not our own parallel load.
CALIBRATION_LOOP_N = 4_000_000
PROBE_DRIFT_MAX_DEFAULT = 1.3


def calibration_probe(reps: int = 3) -> float:
    """Min-of-``reps`` timing of the fixed kernel: scheduler jitter on
    a single ~0.3 s sample measured up to 1.3x between ADJACENT samples
    on an idle host, which would false-flag quiet runs — the min is
    robust to upward noise while genuine throttling raises every rep
    (the same estimator argument as the bench's own min-of-3)."""
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        s = 0
        for i in range(CALIBRATION_LOOP_N):
            s += i * i
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def probe_drift_max() -> float:
    return float(
        os.environ.get(
            "SPARK_GRAFT_PROBE_DRIFT_MAX", str(PROBE_DRIFT_MAX_DEFAULT)
        )
    )


# Contamination signature (r10 VERDICT item 1): a quiet-start run that
# got contended mid-run shows MANY uniform multi-x cross-round flags on
# sub-second queries across unrelated families (r10 close: 28 flags; r9
# driver: 12). A real code regression flags the touched queries only —
# every genuine regression on record flagged 1-2 names. 6+ flags in one
# run has only ever meant host contention — but per the r11 ADVICE the
# count alone must not downgrade comparability: a genuine WIDE code
# regression (a shared helper slowing 6+ queries) would otherwise be
# permanently mislabeled as contention. The signature downgrades only
# when corroborated by an elevated load measurement; uncorroborated it
# stamps the run comparable with an explicit adjudicate-me note.
CONTAMINATION_FLAG_COUNT = 6


def comparability_downgrade(
    comparable: bool,
    midrun_load_max: float,
    midrun_threshold: float,
    load_threshold: float,
    end_loadavg,
    n_cross_flags: int,
    probe_times=None,
    drift_max: float | None = None,
):
    """Retroactive comparability downgrade (r10 VERDICT item 1): a run
    that started quiet but got contended mid-run must NOT be stamped
    comparable (and must not overwrite the consecutive-run regression
    baseline). Returns (comparable, reason, wide_regression_note).

    Downgrades, in order:
      (a) measured: max mid-run loadavg exceeded threshold + own-work
          allowance;
      (b) measured: end loadavg exceeded threshold + decay allowance;
      (b2) measured: the single-core calibration probe (r12 VERDICT
          item 2) drifted more than ``drift_max`` between its fastest
          and slowest sample — CPU throttling that loadavg cannot see;
      (c) signature: cross-round flag count >= CONTAMINATION_FLAG_COUNT
          — but per the r11 ADVICE only when CORROBORATED by an
          elevated load sample (above half the respective allowance:
          elevated, yet under the hard gates that didn't fire).
          Uncorroborated, the run STAYS comparable and carries an
          explicit adjudicate-me note, so a genuine wide code
          regression (a shared helper slowing 6+ queries) can still
          produce a comparable artifact instead of being permanently
          mislabeled as host contention.
    """
    if comparable and midrun_load_max > midrun_threshold:
        return False, (
            "midrun loadavg %.2f exceeded %.2f (start threshold %.2f + "
            "own-work allowance)" % (
                midrun_load_max, midrun_threshold, load_threshold)
        ), None
    end_threshold = end_quiet_threshold(load_threshold)
    if comparable and end_loadavg and end_loadavg[0] > end_threshold:
        return False, (
            "end loadavg %.2f exceeded %.2f (start threshold %.2f + "
            "own-decay allowance) — the r10-close contamination shape"
            % (end_loadavg[0], end_threshold, load_threshold)
        ), None
    if comparable and probe_times:
        samples = [t for t in probe_times.values() if t and t > 0]
        if len(samples) >= 2:
            drift = max(samples) / min(samples)
            allowed = drift_max if drift_max is not None else probe_drift_max()
            if drift > allowed:
                return False, (
                    "calibration probe drifted %.2fx (%s; allowance "
                    "%.2fx) — CPU throttling invisible to loadavg "
                    "(the r12-close signature)" % (
                        drift,
                        ", ".join(
                            "%s %.3fs" % (k, v)
                            for k, v in probe_times.items()
                        ),
                        allowed,
                    )
                ), None
    if comparable and n_cross_flags >= CONTAMINATION_FLAG_COUNT:
        midrun_elevated = midrun_load_max > (
            load_threshold + (midrun_threshold - load_threshold) / 2
        )
        end_elevated = bool(end_loadavg) and end_loadavg[0] > (
            load_threshold + (end_threshold - load_threshold) / 2
        )
        if midrun_elevated or end_elevated:
            return False, (
                "%d cross-round flags matches the host-contention "
                "signature (threshold %d), corroborated by elevated "
                "load (midrun %.2f, end %s); re-run on a quiet host to "
                "adjudicate" % (
                    n_cross_flags, CONTAMINATION_FLAG_COUNT,
                    midrun_load_max,
                    "%.2f" % end_loadavg[0] if end_loadavg else "n/a",
                )
            ), None
        return comparable, None, (
            "%d cross-round flags with NO elevated load measurement "
            "— possible wide code regression (shared-helper "
            "slowdown); adjudicate with isolated re-times before "
            "trusting or refreshing the baseline" % n_cross_flags
        )
    return comparable, None, None


def receipt_paths(
    root: str, sf, cpus: int, record_sf=None, record_cpus: int | None = None
) -> tuple[str, str | None]:
    """Detail receipts a comparable run writes, as (per_core, main).

    The SF of record and its core count are those of the main
    ``BENCH_DETAIL.json`` (``None`` when there is none: any run may
    establish them). The per-core receipt is always written (r12
    VERDICT item 7: the c8 scaling run overwrote the c32 detail):
    ``BENCH_DETAIL_c<cpus>.json`` at the SF of record,
    ``BENCH_DETAIL_sf<sf>_c<cpus>.json`` at any other SF, so a
    verify/debug run at another SF neither clobbers the record nor
    goes unrecorded. The main receipt, the consecutive-run baseline,
    is refreshed only at the SF of record AND its core count
    (``None`` otherwise)."""
    at_record_sf = record_sf is None or sf == record_sf
    per_core = (
        "BENCH_DETAIL_c%d.json" % cpus
        if at_record_sf
        else "BENCH_DETAIL_sf%s_c%d.json" % (sf, cpus)
    )
    main = None
    if at_record_sf and (record_cpus is None or record_cpus == cpus):
        main = os.path.join(root, "BENCH_DETAIL.json")
    return os.path.join(root, per_core), main


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    loadavg_start, comparable, load_threshold = host_quiet_check()
    # settle-wait: the 1-minute average decays slowly after other work
    # (the close checklist's own pytest/audit runs; in driver context,
    # whatever ran before the bench), so give it up to N seconds to
    # fall below the threshold before deciding comparability. Default
    # 240 s (r11 VERDICT "What's wrong" item 2: the driver-side bench
    # had NEVER produced a comparable artifact — r9 start 8.97, r10
    # 8.97, r11 3.91, every one discarded; a bounded self-delay lets a
    # driver-context run become comparable instead of burning the only
    # independent timing receipt). A quiet host pays nothing — the
    # loop is skipped when the first sample is already below threshold.
    wait_budget = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "240"))
    while not comparable and wait_budget > 0:
        step = min(15.0, wait_budget)
        time.sleep(step)
        wait_budget -= step
        loadavg_start, comparable, load_threshold = host_quiet_check()
    if not comparable and os.environ.get("SPARK_GRAFT_BENCH_REQUIRE_QUIET"):
        # builder close-run mode: a contaminated close baseline is worse
        # than no run — refuse before paying the session startup
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total_wall",
                    "error": "host not quiet",
                    "loadavg_at_start": loadavg_start,
                    "loadavg_threshold": load_threshold,
                    "comparable": False,
                }
            )
        )
        raise SystemExit(2)

    # single-core speed sample BEFORE any Spark work (r12 VERDICT item 2)
    probe_times = {"start": calibration_probe()}

    from ytspark import get_spark
    from ytspark.plans.scale import release_all_cached
    from ytspark.queries import registry

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("ytspark-bench")
    reg = registry()

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm-up: session, parquet footer caches, codegen paths
    force(reg["limit_head"].fn(spark, sf_dir))

    # 3 runs per query: this virtualized host shows 2-3x run-to-run
    # variance on single measurements (see SCALE.md). min is the primary
    # estimator (steady-state, codegen-cached latency, comparable to
    # prior rounds); the per-query median is recorded alongside so the
    # noise floor is visible instead of hidden.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    # Mid-run load sampling (r10 VERDICT item 1: the start-only gate
    # stamped a run that started at 0.37 and ended at 14.58 as
    # comparable). Sample the 1-minute loadavg after every query and
    # keep the max; the mid-run threshold allows for our own worker
    # threads (midrun_quiet_threshold above).
    midrun_load_max = 0.0
    midrun_threshold = midrun_quiet_threshold(load_threshold)
    names = bench_names(reg)
    # 7 mid-run probe samples (~0.3 s each): the r13 baseline run showed
    # EPISODIC contention windows (order-buckets at 2-2.4x while
    # adjacent buckets sat at 1.3-1.4x) that a single mid-run sample
    # straddled without seeing — sample every ~1/8 of the run so a
    # window has to be shorter than ~5 minutes to hide.
    probe_every = max(1, len(names) // 8)
    for qi, name in enumerate(names):
        if qi and qi % probe_every == 0:
            # executor pool idle between queries: the sample times the
            # host, not our own load
            probe_times[f"q{qi}"] = calibration_probe()
        q = reg[name]
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            force(q.fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        try:
            midrun_load_max = max(midrun_load_max, os.getloadavg()[0])
        except OSError:
            pass
        # full release between queries: operators now free their own
        # persisted intermediates (finish/unpersist), and this sweeps
        # the eager-checkpoint result blocks those helpers leave for
        # the caller — so a 250-query session ends with ZERO cached
        # blocks (r5 ADVICE/VERDICT item 3). Swept AFTER the runs so
        # intra-query cache reuse stays as measured in prior rounds.
        release_all_cached(spark)
        samples.sort()
        timings[name] = round(samples[0], 3)
        mid = len(samples) // 2
        med = (
            samples[mid]
            if len(samples) % 2
            else (samples[mid - 1] + samples[mid]) / 2
        )
        medians[name] = round(med, 3)

    probe_times["end"] = calibration_probe()

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    # Regression guard: diff per-query mins against the previous run's
    # committed detail (same sf only) and surface anything >2.5x slower,
    # so a perf regression is caught by the tool, not by archaeology.
    # 2.5x sits just inside this host's documented 2-3x noise band —
    # expect occasional false positives on sub-second queries; the
    # medians are printed alongside for exactly that arbitration.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    # Per-core-count receipts (r12 VERDICT item 7): a low-core scaling
    # run must neither diff against nor overwrite the main-core-count
    # baseline. Receipts predating r13 carry no "cpus" key; all of them
    # were taken at 32 cores (historical fact, not a tuning knob).
    regressions: list[dict] = []
    prev_cpus = None
    prev_sf = None
    try:
        with open(detail_path) as fh:
            prev = json.load(fh)
        prev_cpus = int(prev.get("cpus", 32))
        prev_sf = prev.get("sf", sf_val)
        if prev.get("sf") == sf_val and prev_cpus == cpus:
            for name, t in timings.items():
                p = prev.get("queries", {}).get(name)
                if p and p > 0 and t / p > 2.5:
                    regressions.append(
                        {"query": name, "prev": p, "now": t,
                         "ratio": round(t / p, 2)}
                    )
    except (OSError, ValueError):
        pass
    # CROSS-ROUND guard (r6 VERDICT item 2): the consecutive-run diff
    # above cannot see drift that spans a round boundary (that is how
    # the pre-r6 warm-cache artifact hid). BENCH_BASELINE_ROUND.json is
    # the FROZEN per-query detail of the last round's close, refreshed
    # only at round close; every run diffs against it too.
    cross_round: list[dict] = []
    baseline_origin = None
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_BASELINE_ROUND.json",
            )
        ) as fh:
            base = json.load(fh)
        if base.get("sf") == sf_val and int(base.get("cpus", 32)) == cpus:
            baseline_origin = base.get("origin")
            for name, t in timings.items():
                p = base.get("queries", {}).get(name)
                if p and p > 0 and t / p > 2.5:
                    cross_round.append(
                        {"query": name, "baseline": p, "now": t,
                         "ratio": round(t / p, 2)}
                    )
    except (OSError, ValueError):
        pass
    # end-of-session hygiene receipt: after the final sweep the JVM
    # must hold no cached blocks at all (the r5 judge's "done" check)
    leftover_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    # host-load receipt (r9): a bench taken under outside-VM contention
    # is garbage (a load-7-10 window inflated one run 15% with 9
    # spurious early-order flags) — record 1/5/15-min loadavg so any
    # run's numbers carry their own contamination evidence
    try:
        loadavg = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg = None
    comparable, comparable_reason, wide_regression_note = (
        comparability_downgrade(
            comparable, midrun_load_max, midrun_threshold,
            load_threshold, loadavg, len(cross_round),
            probe_times=probe_times,
        )
    )
    verbose = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "runs_per_query": runs,
        "estimator": "min",
        "sf": sf_val,
        "cpus": cpus,
        "calibration_probe_sec": probe_times,
        "regressions": regressions,
        "cross_round_regressions": cross_round,
        "cross_round_baseline": baseline_origin,
        "leftover_cached_rdds": leftover_cached,
        "loadavg_at_start": loadavg_start,
        "loadavg_at_end": loadavg,
        "loadavg_midrun_max": round(midrun_load_max, 2),
        "loadavg_midrun_threshold": round(midrun_threshold, 2),
        "loadavg_threshold": load_threshold,
        "comparable": comparable,
        "comparable_downgrade_reason": comparable_reason,
        "wide_regression_note": wide_regression_note,
    }
    # Full per-query detail: one JSON line on stdout plus a file artifact,
    # so the numbers are auditable even when a log-tail capture truncates
    # long lines. A non-comparable (loaded-host) run must NOT become the
    # next run's regression baseline.
    print(json.dumps(verbose))
    detail_written = None
    if comparable:
        for path in receipt_paths(
            os.path.dirname(detail_path), sf_val, cpus, prev_sf, prev_cpus
        ):
            if path is None:
                continue
            try:
                with open(path, "w") as fh:
                    json.dump(verbose, fh, indent=2)
                detail_written = os.path.basename(path)
            except OSError:
                pass
    # Surface the last committed full-registry oracle_check summary so
    # the uncapped correctness counts ride along in the recorded bench
    # artifact (VERDICT r3 item 7: externally record the full-registry
    # result, not just the 50-query driver window).
    oracle_summary = None
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "ORACLE_LOCAL.json"
            )
        ) as fh:
            ol = json.load(fh)
        oracle_summary = {
            k: ol.get(k)
            for k in ("sf_dir", "n_queries", "n_hash_match", "n_rows_only", "n_fail")
        }
    except (OSError, ValueError):
        pass
    # The LAST line is deliberately compact (~300 bytes, no per-query
    # dicts) so a bounded tail capture always contains one complete,
    # parseable JSON line (round-2 lesson: the verbose line alone
    # outgrew the capture window and the bench went unscored).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "runs_per_query": runs,
                "estimator": "min",
                "cpus": cpus,
                "n_regressions": len(regressions),
                "n_cross_round_regressions": len(cross_round),
                "calibration_probe_sec": probe_times,
                "leftover_cached_rdds": leftover_cached,
                "loadavg_at_start": loadavg_start,
                "loadavg_at_end": loadavg,
                "loadavg_midrun_max": round(midrun_load_max, 2),
                "comparable": comparable,
                "comparable_downgrade_reason": comparable_reason,
                "oracle_local": oracle_summary,
                # ADVICE r10: a non-comparable run does NOT rewrite the
                # detail file — don't point auditors at a stale one.
                "detail": detail_written,
            }
        )
    )


if __name__ == "__main__":
    main()
