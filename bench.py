#!/usr/bin/env python
"""Engine benchmark: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing excludes SparkSession startup. Each query is materialized end
to end through the ``noop`` sink (computes every operator, discards
rows at the executor — the standard engine-throughput harness), so the
number measures the engine, not py4j row serialization into the Python
driver: result cardinality is data-dependent (the round-3 documents
table yields 271k simhash near-dup pairs at sf0.1) and collect() of
such results would time the transfer, which no 100 TB deployment does.
A full warmup pass at sf0.01 primes JVM/codegen/Arrow paths first.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from epl_cas_etl_2026_spark import get_spark
from epl_cas_etl_2026_spark.plans import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the scan/agg/join/window/dedup/similarity workhorses.
#
# FROZEN at 126 entries as of round 9 (verdict item 6). The list below
# must not grow, shrink, or reorder: every r{N}_queries_noop_sec
# subtotal is a POSITIONAL prefix of it, and cross-round comparability
# dies the moment a prefix member moves. New engine-scale queries from
# r9 onward enter via the ROTATING tail (below the frozen list):
# capped at 4 slots, newest-in/oldest-out, never touching the frozen
# 126. The headline `value` covers frozen + rotating (n_queries stays
# ~126-130 and the driver-visible summary line stays parseable);
# `frozen126_noop_sec` is the permanent cross-round comparison basis.
HEADLINE = [
    "pricing_summary",
    "rank_nations_by_custbal",
    "region_revenue_join_chain",
    "latest_order_per_customer",
    "region_segment_matrix",
    "orders_period_range_join",
    "events_tumbling_hourly",
    "events_user_sessions",
    "docs_token_stats",
    "docs_near_dup_pairs",
    "docs_language_id",
    "embedding_topk_cosine",
    "embedding_near_dup_cosine",
    "region_nation_rollup",
    # round-2 additions: corpus capstone, sampling/splitting, native
    # session windows, approx-distinct, two-phase global rank
    "docs_clean_corpus_pipeline",
    "docs_stratified_sample",
    "docs_train_val_test_split",
    "events_session_windows_native",
    "orders_approx_distinct",
    "orders_global_rank_two_phase",
    "top_unshipped_orders_q3",
    "purchase_attribution_asof",
    "events_user_moving_sum",
    "docs_simhash_near_dup",
    "large_orders_q18",
    "lineitem_moments_stats",
    # round-2 late additions: disjunctive pushdown, per-user anomaly scan
    "disjunctive_revenue_q19",
    "events_user_zscore_outliers",
    # round-3 additions: span-level dedup, entropy quality, vocab
    # induction, sharding, column profile, relative-standing windows.
    # embedding_dup_clusters (iterative CC) is deliberately NOT here:
    # at local scale its wall time is ~95% per-job scheduler floor
    # (6+ rounds × several jobs on a ~100-edge graph), which measures
    # the scheduler, not the engine — it stays driver-gated for
    # correctness instead.
    "docs_span_dedup_stats",
    "docs_char_entropy",
    "docs_vocab_topk",
    "docs_shard_assignment",
    "docs_column_profile",
    "customer_balance_standing",
    # round-4 additions (appended AFTER the frozen prefix slices the
    # r1/r2/r3 subset subtotals are computed from): incremental-index
    # dedup, unigram-LM surprisal scoring, auto-sized banded LSH
    "docs_incremental_near_dup",
    "docs_unigram_surprisal",
    "embedding_lsh_auto_params",
    # round-4 late additions: the TPC-H completion suite + BM25
    "min_cost_supplier_q2",
    "market_share_q8",
    "product_profit_q9",
    "important_stock_q11",
    "priority_lines_q12",
    "top_supplier_q15",
    "supplier_variety_q16",
    "promotion_candidates_q20",
    "global_sales_opportunity_q22",
    "docs_bm25_topk",
    "docs_winnow_fingerprints",
    "docs_winnow_overlap_pairs",
    "events_heavy_hitters_cms",
    "docs_word_bfs_distance",
    "parts_fuzzy_probe_match",
    "events_hourly_gap_fill",
    "docs_jaccard_prefix_join",
    "events_bitmap_distinct_rollup",
    "events_scd2_compress",
    # round-5 additions (after the frozen 56-entry r4 prefix): the
    # endpoint-parity layer at fact scale (branch ranking window,
    # densified heatmap pivot) and the Misra-Gries candidate path
    # (Arrow mapInPandas summaries + broadcast-semi-join recount)
    "api_ranking_sucursales_all",
    "api_heatmap_wide",
    "events_mg_topk",
    "orders_cdc_apply_state",
    "orders_interval_overlap_join",
    "orders_zorder_pruning_stats",
    "orders_join_view_delta_maintenance",
    "customers_fastss_editdist_pairs",
    "lineitem_salted_skew_join_rollup",
    # late-round-5 additions (appended — earlier rounds' subset sums
    # are PREFIX slices of this list and must not shift).
    # docs_leakage_safe_split is deliberately absent: its cost is the
    # CC iteration already benched via the near-dup cluster path, and
    # its 9 s would crowd the budget.
    "customer_balance_distribution_ranks",
    "orders_trailing_30d_range_frame",
    "docs_pmi_collocations",
    "lineitem_ols_price_on_qty",
    "docs_quality_resample_stats",
    "events_robust_outliers_mad",
    "events_user_ewma_dyadic",
    # round-6 additions (appended — prefix subsets stay valid): the
    # composed IVF-PQ serving path (coarse k-means + residual PQ fit
    # + probed ADC scan + exact rerank — the full ANN build+serve
    # cost) and the quirk-complete branch ranking after the r6
    # reference-parity transcriptions
    "embedding_ivfpq_topk",
    # round-6 mid-round additions: decontamination (broadcast semi-
    # join gram scrub), E-S weighted sampling (TakeOrdered, zero
    # exchanges), KMV/theta sketch (partial-minima mapInPandas)
    "docs_benchmark_decontaminate",
    "orders_weighted_sample_noreplace",
    "events_kmv_theta_intersection",
    "docs_stratified_weighted_sample",
    "embedding_jl_projection",
    "docs_bloom_novelty_check",
    "customers_k_anonymity_audit",
    # round-6 late additions: the dataprep governance layer (appended
    # — prefix subsets stay valid).
    "events_psi_drift",
    "orders_label_majority_vote",
    "orders_target_encoding_oof",
    "lineitem_key_skew_gini",
    "catalog_joinability_profile",
    "customers_kaplan_meier_lifetime",
    "docs_bigram_lm_perplexity",
    "orders_market_basket_rules",
    "events_markov_transitions",
    # round-6 final additions (appended — prefix subsets stay valid):
    # hybrid retrieval + eval harness, feature screening, ER golden
    # record (FastSS blocking + CC + survivorship), seeded-Laplace DP
    "docs_hybrid_rrf_fusion",
    "embedding_retrieval_eval_ndcg",
    "orders_woe_iv_binning",
    "customers_golden_record",
    "events_dp_histogram",
    "docs_rag_context_pack",
    "events_multitouch_attribution",
    "docs_tfidf_top_terms",
    "customers_decile_lift_table",
    # round-7 additions (appended — prefix subsets stay valid):
    # DOULION sparsified triangles (the sf1-runnable twin of the exact
    # count) and batch PQ-ADC serving (16 queries, one plan).
    "docs_near_dup_triangles_doulion",
    "embedding_pq_batch_topk",
    # round-7 mid-round additions: Holt linear-trend smoothing (exact
    # dyadic unrolling), Kneser-Ney bigram LM scoring, the ANN
    # recall@k eval curve, and Fleiss' kappa annotator agreement.
    "events_user_holt_dyadic",
    "docs_kneser_ney_bigram",
    "embedding_ann_recall_curve",
    "orders_label_fleiss_kappa",
    # round-7 late additions: SCD2 point-in-time lookup (as-of
    # composition) and the Matryoshka dim-truncation recall sweep.
    "events_scd2_temporal_join",
    "embedding_dim_truncation_recall",
    # bit-identical 2-iteration Newton logistic regression (one
    # map-side-combined aggregation per iteration), its reliability
    # bins, and contrastive hard-negative mining
    "lineitem_logreg_newton",
    "lineitem_logreg_calibration",
    "embedding_hard_negatives",
    # grouped quantile normalization (two-phase grouped + global ranks)
    "orders_quantile_normalize_stats",
    # robust frame statistics + bounded-staleness attribution
    "events_user_rolling_median",
    "purchase_attribution_bounded_asof",
    # caliper matching (bucket-blocked, lossless under the caliper)
    # and the mergeSchema landing-zone roundtrip
    "orders_caliper_match_stats",
    "orders_schema_evolution_stats",
    # point-in-time-correct feature-store training-set assembly
    "events_pit_training_set",
    # index-quality evals: semantic decontamination sweep + simhash
    # banding precision/recall tradeoff table
    "embedding_semantic_decontaminate",
    "docs_simhash_band_sweep",
    # error-tolerant CSV ingestion (PERMISSIVE + corrupt-record triage)
    "orders_csv_malformed_stats",
    # small-file compaction maintenance cycle
    "orders_compaction_stats",
    # exact sliding-window distinct via bucketed day-bitmap OR-merge
    "events_sliding_distinct_users",
    # time-bounded strict funnel + point-process rate estimation
    "events_bounded_funnel_conversion",
    "events_interarrival_rate",
    # round-8 additions (appended — prefix subsets stay valid):
    # persisted-index PQ serving (reads ONLY the committed artifacts;
    # the in-gate refit comparison is part of the gated query, so the
    # benched cost includes it) and Lee-et-al exact substring dedup
    # (two-phase hash-lossless 50-gram detection + island merge +
    # HOF-fold rewrite).
    "embedding_pq_index_serve",
    "docs_exact_substring_dedup",
    # round-8 continuation (appended): the distributed BPE trainer
    # (8 vocab-bounded merge rounds) and DSIR importance selection —
    # both engine-throughput queries that scale with sf.
    "docs_bpe_train_merges",
    "docs_dsir_topk_select",
]

# Rotating tail (round-9 rotation rule — see the freeze note above):
# at most 4 entries, newest addition evicts the oldest once full; the
# frozen 126 are never evicted.
ROTATING = [
    # r11 rotation: embedding_lsh_estimate_error in (the embedding
    # estimator-calibration twin — banded candidates + Arrow pairwise
    # verify, engine throughput), the oldest entry out.
    "docs_gopher_repetition_stats",
    "docs_ccnet_perplexity_buckets",
    # r10: estimator-calibration audit (banded candidates + per-pair
    # array verify — engine throughput, benchable)
    "docs_minhash_estimate_error",
    "embedding_lsh_estimate_error",
]
BENCHED = HEADLINE + ROTATING

# Freeze invariants, ENFORCED (round-9 ADVICE): an accidental append,
# removal, or reorder of the frozen list silently corrupts every
# positional r{N} prefix subtotal and frozen126_noop_sec — fail at
# import instead. The sentinels pin the r1 prefix boundary (index 13),
# the r8 prefix boundary (index 123), and the frozen tail.
assert len(HEADLINE) == 126, f"HEADLINE frozen at 126, got {len(HEADLINE)}"
assert len(ROTATING) <= 4, f"ROTATING capped at 4, got {len(ROTATING)}"
assert len(set(BENCHED)) == len(BENCHED), "duplicate benched query"
_unknown = set(BENCHED) - set(QUERIES)
assert not _unknown, f"benched but not registered: {sorted(_unknown)}"
assert HEADLINE[0] == "pricing_summary"
assert HEADLINE[13] == "region_nation_rollup"
assert HEADLINE[123] == "docs_exact_substring_dedup"
assert HEADLINE[125] == "docs_dsir_topk_select"


def sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def run_once(spark, fn, sf_dir: str) -> None:
    """Materialize the full query through the noop sink (every operator
    executes; no rows cross into the Python driver)."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def cpu_calibration() -> float:
    """Fixed single-thread workload (~0.1 s on an idle host): the
    measured time is a host-condition constant emitted alongside the
    query timings, because this machine shows external contention
    windows that inflate identical runs ~2× (observed 0.09 s ↔ 0.15 s
    on this loop while our processes were idle). Normalize cross-round
    comparisons by the calib ratio before judging a regression."""
    import hashlib

    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"x" * 1000
        for _ in range(200000):
            h = hashlib.sha256(h).digest()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def main() -> None:
    spark = get_spark(app_name="epl-cas-bench")
    import gc

    # Full warmup pass at sf0.01: compiles the codegen classes / primes
    # the Arrow Python-worker pool for every headline plan shape, so the
    # measured sf0.1 runs see steady-state JIT instead of paying C2
    # compilation inside the first few timed queries (observed as 8-11 s
    # "cold" outliers on sub-second plans).
    QUERIES["segment_counts"](spark, SF_DIR).collect()
    for name in BENCHED:
        run_once(spark, QUERIES[name], "/root/testdata/sf0.01")
    spark.catalog.clearCache()
    gc.collect()

    timings: dict[str, float] = {}
    t_measure = time.perf_counter()
    for name in BENCHED:
        fn = QUERIES[name]
        # UNIFORM run policy (round-4 advice: a speed-dependent retry
        # count biases reported times downward for slow queries): every
        # query gets min-of-3 identical runs — steady-state engine
        # throughput, not the JIT / GC / IO noise of whichever run a
        # compile or a host-IO burst lands on (observed 1.4s ↔ 9.2s on
        # the same query+plan across identical runs). The only cut-down
        # is a GLOBAL wall budget (not a per-query condition): past
        # 360 s of measurement, remaining queries drop to min-of-2 so a
        # noisy host can't push the process past the driver's budget.
        best = None
        runs = 0
        while runs < 2 or (
            runs < 3 and time.perf_counter() - t_measure < 360.0
        ):
            t0 = time.perf_counter()
            run_once(spark, fn, SF_DIR)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            runs += 1
            # Reclaim per-query internals between measurements:
            # LSH/minhash queries persist signature frames (intra-query
            # reuse); accumulating them across 20+ queries drives
            # old-gen GC pressure that distorts later timings.
            # gc.collect() drops Python refs so the ContextCleaner can
            # also reap checkpoints.
            spark.catalog.clearCache()
            gc.collect()
        timings[name] = round(best, 3)

    # Interference-window rescue (round-8 continuation, widened per the
    # round-10 verdict item 3): this host shows multi-second
    # interference windows that can swallow an entire min-of-3 for ONE
    # query — BENCH_r10 recorded docs_exact_substring_dedup at 8.05 s
    # where a serialized re-run measured 4.72 s, and that one-off now
    # pollutes every cross-round per-query comparison in the permanent
    # record. A genuine regression survives a retry; a window does not.
    # So: any query whose best-of-N exceeds 1.5x its budget-normalized
    # expectation (the same overhead+calib model check_budgets uses)
    # gets exactly one more timed run, keep the min. Bounded extra
    # wall: at most 10 re-runs, worst offenders first. Every re-run is
    # NAMED in the emitted `rescued` map (was/now), so the record shows
    # which walls were re-measured rather than silently smoothing them.
    calib = cpu_calibration()
    rescued: dict[str, dict] = {}
    bpath = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tools",
        "bench_budgets.json",
    )
    if os.path.exists(bpath):
        with open(bpath) as fh:
            _pin = json.load(fh)
        budgets = _pin["budgets"]
        base_calib = _pin.get("cpu_calib_sec") or calib
        scale = max(calib / base_calib if base_calib else 1.0, 0.9)
        overhead = _pin.get("overhead_sec")
        if overhead is None:
            overhead = min(budgets.values())
        cands = []
        for name, t in timings.items():
            b = budgets.get(name)
            if b is None:
                continue
            model = overhead + scale * max(0.0, b - overhead)
            if t > 1.5 * model:
                cands.append((t - model, name))
        for _excess, name in sorted(cands, reverse=True)[:10]:
            t0 = time.perf_counter()
            run_once(spark, QUERIES[name], SF_DIR)
            dt = round(time.perf_counter() - t0, 3)
            spark.catalog.clearCache()
            gc.collect()
            rescued[name] = {"was": timings[name], "now": min(dt, timings[name])}
            if dt < timings[name]:
                timings[name] = dt

    report(timings, calib=calib, rescued=rescued)


def report(
    timings: dict[str, float],
    calib: float | None = None,
    rescued: dict[str, dict] | None = None,
) -> None:
    """Emit the results in two pieces (round-7 fix for the driver's
    2000-char stdout-tail capture, which truncated the HEAD of the
    round-4..6 single-line records and left BENCH_r0N.json
    ``parsed: null``):

    * ``BENCH_FULL.json`` at the repo root — the complete record
      (every per-query timing, subset rollups, scale-artifact
      ride-alongs, budget check detail);
    * stdout — ONE compact JSON line (< 1900 chars, asserted) whose
      keys are the driver-spec head (metric/value/unit/queries/sf)
      plus the budget-check verdict; ``queries`` carries the slowest
      entries that fit, ``full`` points at the complete file.
    """
    total = round(sum(timings.values()), 3)
    # Historical subsets, named for what they are: noop-sink timings
    # over the query scope of each earlier round's headline set. The
    # r1/r2 rounds themselves timed collect()-based materialization, so
    # those BENCH files are NOT directly comparable — compare r3+ files
    # (noop methodology) and normalize by the cpu_calib_sec ratio first
    # (the host shows multi-second external-contention windows).
    r1_subset = round(sum(timings[n] for n in HEADLINE[:14] if n in timings), 3)
    r2_subset = round(sum(timings[n] for n in HEADLINE[:28] if n in timings), 3)
    r3_subset = round(sum(timings[n] for n in HEADLINE[:34] if n in timings), 3)
    r4_subset = round(sum(timings[n] for n in HEADLINE[:56] if n in timings), 3)
    r5_subset = round(sum(timings[n] for n in HEADLINE[:65] if n in timings), 3)
    r6_subset = round(sum(timings[n] for n in HEADLINE[:73] if n in timings), 3)
    r7_subset = round(sum(timings[n] for n in HEADLINE[:98] if n in timings), 3)
    r8_subset = round(sum(timings[n] for n in HEADLINE[:124] if n in timings), 3)
    # the permanent cross-round basis from r9 on: the full frozen 126
    # (ROTATING entries are intentionally excluded — they come and go)
    frozen126 = round(sum(timings[n] for n in HEADLINE if n in timings), 3)
    # round-6 scale rehearsal artifacts (committed JSON, produced by
    # tools/rehearse_sf1.py and tools/bench_skew.py on this host):
    # ride along in the bench record so BENCH_r06 carries the
    # 0.1 -> 1 scaling curve and the skew-join ratios.
    here = os.path.dirname(os.path.abspath(__file__))
    extras = {}
    for key, path in (
        ("sf1_scaling", "SCALE_sf1.json"),
        ("skew_join_bench", "SKEW_BENCH.json"),
    ):
        p = os.path.join(here, path)
        if os.path.exists(p):
            with open(p) as fh:
                extras[key] = json.load(fh)
    if calib is None:
        calib = cpu_calibration()
    budget_check = check_budgets(timings, calib)
    full = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "methodology": (
            "noop-sink, uniform min-of-3 per query (global 360s "
            "budget degrades trailing queries to min-of-2); "
            "r1/r2 rounds used collect() timing - not "
            "comparable without the calib ratio"
        ),
        "r1_queries_noop_sec": r1_subset,
        "r2_queries_noop_sec": r2_subset,
        "r3_queries_noop_sec": r3_subset,
        "r4_queries_noop_sec": r4_subset,
        "r5_queries_noop_sec": r5_subset,
        "r6_queries_noop_sec": r6_subset,
        "r7_queries_noop_sec": r7_subset,
        "r8_queries_noop_sec": r8_subset,
        "frozen126_noop_sec": frozen126,
        "rescued": rescued or {},
        "budget_check": budget_check,
        **extras,
        "cpu_calib_sec": calib,
        "sf": sf_from_dir(SF_DIR),
    }
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    # compact stdout line: driver-spec head keys first, slowest queries
    # only as far as the 1900-char budget allows (tail capture is 2000)
    slowest = sorted(timings, key=lambda n: -timings[n])
    summary = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "sf": sf_from_dir(SF_DIR),
        "cpu_calib_sec": calib,
        "subtotals_noop_sec": {
            "r1": r1_subset, "r2": r2_subset, "r3": r3_subset,
            "r4": r4_subset, "r5": r5_subset, "r6": r6_subset,
            "r7": r7_subset, "r8": r8_subset, "f126": frozen126,
        },
        "budget_violations": budget_check.get("violations", None),
        # compact [was, now] pairs — full dicts live in BENCH_FULL.json;
        # keeping this small preserves room for the queries map below
        "rescued": {
            n: [v["was"], v["now"]] for n, v in (rescued or {}).items()
        },
        "full": "BENCH_FULL.json",
    }
    # top-25 by wall only (round-9 verdict item 6): the map exists to
    # show where the time goes, not to enumerate 130 queries; keeping
    # it small guarantees the summary keys above survive the driver's
    # 2000-char tail capture with margin
    for name in slowest[:25]:
        summary["queries"][name] = timings[name]
        if len(json.dumps(summary)) > 1750:
            del summary["queries"][name]
            break
    line = json.dumps(summary)
    assert len(line) < 1900, f"summary line {len(line)} chars"
    print(line)


def check_budgets(
    timings: dict[str, float], calib: float, pinned: dict | None = None
) -> dict:
    """Per-query regression budgets (round-6 verdict item 2, model fixed
    per the round-7 verdict): compare each timing against the pinned
    median in tools/bench_budgets.json.

    The round-6 model scaled the WHOLE budget by the host CPU-calib
    ratio — wrong for sub-second queries, whose wall time is dominated
    by fixed Spark job-scheduling overhead that does not vary with
    single-thread CPU speed (a 26%-faster driver host shrank every
    budget to 0.74x and reported 37 violations on an unchanged tree,
    all false: raw-ratio median was 1.06x). The fixed model:

        budget(q) = overhead + scale * max(0, pinned(q) - overhead)

    where ``overhead`` is the pinned per-job scheduling floor (the
    fastest pinned query is essentially a pure noop job) and ``scale``
    is the calib ratio floored at 0.9 (faster hosts barely shrink
    budgets; slower hosts still grow them). A query violates only when
    ALL of:

      * model ratio  > 1.5x   (the calib-adjusted budget), and
      * raw ratio    > 2.0x   (the unscaled pinned median — the
        driver's own performance bar; min-of-3 noise on this host has
        been observed at 1.64x of a pinned median on an unchanged
        tree, so 1.5x raw would still false-alarm), and
      * absolute excess > 0.5 s  (a real regression worth alarming on
        is not 0.2 s on a 0.3 s query)

    so a host with calib anywhere within ±35% of the pin reports zero
    violations on an unchanged tree, while an artificially slowed
    query (e.g. 3x or +2 s) still trips (tests/test_bench_budgets).
    """
    if pinned is None:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "tools",
            "bench_budgets.json",
        )
        if not os.path.exists(path):
            return {"status": "no_budget_file"}
        with open(path) as fh:
            pinned = json.load(fh)
    base_calib = pinned.get("cpu_calib_sec") or calib
    raw_scale = calib / base_calib if base_calib else 1.0
    scale = max(raw_scale, 0.9)
    budgets = pinned["budgets"]
    overhead = pinned.get("overhead_sec")
    if overhead is None:  # pre-r8 pin file: derive from the floor
        overhead = min(budgets.values())
    viol = {}
    ratios = []
    for name, t in timings.items():
        if name not in budgets:
            continue
        b = budgets[name]
        model = overhead + scale * max(0.0, b - overhead)
        ratios.append(t / b)
        if t > 1.5 * model and t > 2.0 * b and t - model > 0.5:
            viol[name] = {
                "sec": t,
                "budget_sec": round(model, 3),
                "raw_budget_sec": b,
                "model_ratio": round(t / model, 2),
                "raw_ratio": round(t / b, 2),
            }
    ratios.sort()
    return {
        "status": "checked",
        "n_checked": len(ratios),
        "calib_scale": round(scale, 4),
        "calib_scale_raw": round(raw_scale, 4),
        "overhead_sec": round(overhead, 3),
        "raw_ratio_median": (
            round(ratios[len(ratios) // 2], 3) if ratios else None
        ),
        "raw_ratio_max": round(ratios[-1], 3) if ratios else None,
        "violations": len(viol),
        "violating": viol,
    }


if __name__ == "__main__":
    main()
