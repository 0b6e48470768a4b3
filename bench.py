"""Benchmark suite — driver contract.

Runs the headline catalog queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed end-to-end with the noop sink (full computation, no
driver-side collect cost). Times are wall-clock per query after a session
warm-up so JVM/codegen startup isn't billed to the first query.

$SPARK_GRAFT_BENCH_REPS (default 3) repetitions are run and the per-query
MINIMUM is reported — min-of-N filters sandbox/load variance so
round-over-round deltas are signal, not noise. A query that raises is
recorded as -1 rather than aborting the suite (an earlier successful rep's
timing is kept). The extended tier runs once, then (when reps >= 2) its 20
slowest entries are re-run and the minimum kept — min-of-2 where one-shot
load noise actually distorts the record, without doubling the whole tier.

The first rep also records per-query shuffle/input VOLUME deltas
(plans.metrics over AppStatusStore) under "shuffle" — the scale regression
guard: wall-time hides a corpus-sized shuffle at sf0.1, bytes don't.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from prajna_spark.operators.lifecycle import persist_scope  # noqa: E402
from prajna_spark.plans.metrics import stage_totals, totals_delta  # noqa: E402
from prajna_spark.queries import queries  # noqa: E402
from prajna_spark.session import get_spark  # noqa: E402

# Representative slice of the catalog: one per operator family, weighted
# toward the shuffle/join/text tiers that dominate at scale.
HEADLINE = [
    "pricing_summary",
    "fold_global_stats",
    "flatmap_wordcount",
    "groupbykey_lines",
    "join_inner_region_rollup",
    "join_left_customer_orders",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "binsort_topk_orders",
    "zip_index_orders",
    "window_rank_orders",
    "telemetry_hourly_rollup",
    "telemetry_sliding_rollup",
    "cascade_rollup_events",
    "session_window_users",
    "asof_join_purchase_view",
    "range_join_open_orders",
    "window_ntile_dense_rank",
    "dedup_minhash_signatures",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "knn_bruteforce_cosine",
    "srp_lsh_buckets",
    "ann_ivf_topk",
    "multimodal_frame_sample",
    "window_zscore_events",
    "curate_training_corpus",
]

# Timed once, reported under "extended" (not in the headline total):
# the round-4 persisted/streaming/pipeline tier.
EXTENDED = [
    "dedup_lsh_verified",
    "dedup_connected_components",
    "corpus_build_pipeline",
    "decontaminate_train_docs",
    "text_repetition_bigram",
    "chunk_documents_windows",
    "quantize_embeddings_int8",
    "asof_join_bucketed_clicks",
    "sample_topk_per_lang",
    "profile_orders_columns",
    "q2_min_cost_supplier",
    "q9_profit_by_nation_year",
    "q11_important_stock",
    "q21_waiting_suppliers",
    "redact_pii_documents",
    "sample_weighted_docs",
    "profile_events_quantiles",
    "split_train_val_test",
    "upsert_orders_snapshot",
    "snapshot_diff_orders",
    "validate_fk_integrity",
    "stats_corr_lineitem",
    "dedup_canonical_docs",
    "funnel_signup_view_purchase",
    "cohort_weekly_retention",
    "funnel_conversion_latency",
    "histogram_order_totals",
    "cdc_apply_orders_stream",
    "mix_corpus_temperature",
    "telemetry_gapfilled_hours",
    "telemetry_distinct_users_hll",
    "q7_volume_shipping",
    "q19_disjunctive_revenue",
    # round-5 additions: retrieval, sketches, graph, audio, collocations
    "bm25_topk_docs",
    "hybrid_rrf_search",
    "heavy_hitters_users",
    "markov_event_transitions",
    "anomaly_mad_events",
    "pagerank_part_supplier",
    "audio_chunk_plan",
    "audio_chunk_rms",
    "pmi_collocations",
    "dedup_sorted_neighborhood",
    "bm25_persisted_search",
    "bm25_stream_search",
    "hashed_tf_features",
    "dedup_jaccard_exact_join",
    "triangle_count_parts",
    "resolve_part_entities",
    "histogram_quantile_sketch",
    "scd2_user_state_history",
    "max_concurrent_intervals",
    # round-5 continuation: image/graph/bloom/classifier/smoothing tiers
    "image_dhash_hamming_pairs",
    "bfs_hops_from_nation",
    "bloom_prune_orders",
    "nb_lang_confusion",
    "ewma_hourly_value",
    "ohlc_hourly_bars",
    "rolling_distinct_users_24h",
    "pca_top_component_embeddings",
    "digest_orders_table",
    "join_size_lineitem_orders",
    "kanon_release_customers",
    "dp_noisy_priority_counts",
    # round-5 analytics/feature tier
    "skyline_pareto_parts",
    "winsorized_totals_by_priority",
    "kmv_distinct_users_daily",
    "standardize_embeddings_z",
    "vocab_frequency_ranked",
    "encode_documents_ids",
    "cm_frequency_users",
    "bigram_lm_doc_nll",
    "lsh_stream_candidates",
    "asof_join_forward_views",
    "asof_join_nearest_views",
    "kmv_overlap_orders_customers",
    "top_event_paths",
    "clustering_coeff_parts",
    "debounce_user_events",
    "trend_hourly_events",
    "quantile_map_doclen",
    "psi_price_drift",
    "source_overlap_matrix",
    "kmv_stream_distinct_daily",
    "dedup_cluster_size_histogram",
    "ndcg_bm25_queries",
    "telemetry_interpolated_hours",
    "join_view_orders_customer",
    "sssp_supplier_costs",
    "chunk_sentences_budget",
    "image_resize_half_meta",
    "kcore_parts_dense",
    "hrw_shard_orders",
    "top_event_types_with_other",
    # round-5 final wave: experiments, changepoints, recommendations,
    # UDTF chunking, product quantization, spatial, communities
    "ab_test_purchase_conversion",
    "cusum_event_bursts",
    "copurchase_similar_parts",
    "cdc_chunk_documents",
    "pq_encode_embeddings",
    "pq_adc_knn_recall",
    "geo_near_users",
    "telemetry_locf_hours",
    "labelprop_part_communities",
    "cusum_stream_alarms",
    # round-5 third wave: attribution, semantic dedup, forecasting,
    # streamed sketches, native stateful dedup, outer stream joins, video
    "attribution_last_touch",
    "attribution_linear",
    "semdedup_embeddings",
    "autocorr_hourly_counts",
    "seasonal_forecast_mae",
    "benford_first_digit",
    "quantile_bins_totalprice",
    "heavy_hitters_stream",
    "dedup_stream_watermark",
    "stream_stream_left_outer",
    "video_keyframe_dhash",
    "target_encode_priority",
    "twa_daily_value",
    "tfidf_keywords_docs",
    "ivf_pq_search_topk",
    # round-5 fourth wave: statistics, attribution family, tokenizer,
    # serving, audits
    "attribution_markov_removal",
    "attribution_time_decay",
    "cuped_adjusted_value",
    "bootstrap_ci_total_price",
    "gini_customer_spend",
    "lorenz_spend_deciles",
    "survival_user_retention",
    "session_stats_gap30",
    "chi2_type_by_weekday",
    "ks_price_drift",
    "sequence_pair_support",
    "modularity_part_communities",
    "ivm_agg_priority_revenue",
    "ldiversity_audit_customers",
    "rfm_customer_segments",
    "recommend_parts_customers",
    "phrase_search_docs",
    "anomaly_stream_alerts",
    "bpe_learn_merges",
    "bpe_encode_docs",
    "forecast_conformal_coverage",
    "mann_kendall_trend",
    "hist_stream_quantiles",
    # round-6: stdlib PNG codec tier
    "image_png_roundtrip_meta",
]


def main() -> None:
    # Quiet-machine gate (r9 VERDICT item 1): sample load BEFORE the Spark
    # session exists — end-of-run loadavg is dominated by bench's own
    # local[32] work, so only the start sample measures pre-existing
    # contention. A run started above the threshold is tagged
    # reference_grade=false in its sidecar and tools/bless_bench.py
    # refuses to bless it.
    raw_quiet = os.environ.get("SPARK_GRAFT_QUIET_LOAD_MAX", "4.0")
    try:
        quiet_max = float(raw_quiet)
    except ValueError:
        # malformed env var must not kill the whole run (r10 advisory)
        print(
            f"bench: ignoring malformed SPARK_GRAFT_QUIET_LOAD_MAX="
            f"{raw_quiet!r}; using default 4.0",
            file=sys.stderr,
        )
        quiet_max = 4.0
    # r10 VERDICT item 4: also gate on the 5-minute average (with a 2x
    # allowance — the machine may legitimately be winding down from a
    # prior run). The r10 blessing passed at start-1m 1.67 while 5m read
    # 9.24: the instant was quiet but page cache / disk state was still
    # settling. When the two averages disagree by >2x, settle and
    # resample once before stamping.
    def _sample_load() -> tuple[float, float]:
        try:
            l1, l5, _ = os.getloadavg()
            return l1, l5
        except OSError:  # pragma: no cover
            return -1.0, -1.0

    load_start, load_start_5m = _sample_load()
    settled = False
    if 0.0 <= load_start <= quiet_max and load_start_5m > 2 * load_start:
        print(
            f"bench: 1m/5m loadavg disagree ({load_start:.2f} vs "
            f"{load_start_5m:.2f}) — settling 60s and resampling",
            file=sys.stderr,
        )
        time.sleep(60)
        load_start, load_start_5m = _sample_load()
        settled = True
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # SPARK_GRAFT_BENCH_SMOKE=N: run only the first N queries of each
    # tier — a fast end-to-end check of the OUTPUT contract (line order,
    # tail parseability) used by tools/driver_sim.py, never by the driver.
    headline, extended_names = HEADLINE, EXTENDED
    smoke = int(os.environ.get("SPARK_GRAFT_BENCH_SMOKE", "0"))
    if smoke > 0:
        headline, extended_names = HEADLINE[:smoke], EXTENDED[:smoke]
    spark = get_spark("prajna-bench")
    spark.sparkContext.setLogLevel("ERROR")

    catalog = queries()
    # Warm up: JVM, codegen, parquet footer caches.
    catalog["fold_global_stats"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    # rep-1 timings, recorded separately (r11 VERDICT item 2): min-of-N
    # deliberately leaks headline persists across reps, so the headline
    # map only ever sees WARM floors — structurally blind to cold-path
    # regressions (e.g. first-compile cost of large constant-folded
    # expression trees). first_rep makes the cold-ish first pass visible
    # WITHOUT touching the headline methodology: it is written to the
    # sidecar and to the "shuffle" stdout line; the last stdout line (the
    # headline record) is unchanged. A failed rep 0 records -1.0, as in
    # ``timings``.
    first_rep: dict[str, float] = {}
    shuffle: dict[str, dict] = {}
    for rep in range(max(1, reps)):
        for name in headline:
            t0 = time.time()
            before = stage_totals(spark) if rep == 0 else None
            try:
                # NO persist_scope here, deliberately: the headline
                # methodology (min-of-N with operators' persists left
                # cached across reps) has been identical since r1 — the
                # round-over-round comparison depends on it. The leaked
                # frames are small at sf0.1; the heavy extended tier
                # below IS scoped (measured: its accumulation made
                # triangle_count 2x slower by the end of the run).
                catalog[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = round(time.time() - t0, 3)
            except Exception as exc:  # record, don't abort the suite
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                # keep an earlier successful minimum if one exists: a flaky
                # later rep must not evict a valid timing from the total
                timings.setdefault(name, -1.0)
                if rep == 0:
                    first_rep[name] = -1.0
                continue
            if before is not None:
                # shuffle/input VOLUME per query (first rep): the scale
                # regression guard — a query whose plan passes the shape
                # lints but starts shuffling the corpus shows up here.
                d = totals_delta(before, stage_totals(spark))
                shuffle[name] = {
                    k: d[k]
                    for k in (
                        "shuffle_write_bytes",
                        "shuffle_read_bytes",
                        "shuffle_write_records",
                        "input_bytes",
                    )
                } if d["available"] else {}
            if rep == 0:
                first_rep[name] = dt
            prev = timings.get(name)
            timings[name] = dt if prev is None or prev < 0 else min(prev, dt)

    total = round(sum(t for t in timings.values() if t > 0), 3)

    # Secondary tier: heavier/newer operators, reported under "extended"
    # WITHOUT entering the headline total — keeps the headline comparable
    # round-over-round while still publishing these numbers.
    def run_extended(name: str) -> float:
        t0 = time.time()
        try:
            with persist_scope():
                catalog[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                return round(time.time() - t0, 3)
        except Exception as exc:
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            return -1.0

    extended: dict[str, float] = {}
    for name in extended_names:
        extended[name] = run_extended(name)

    # Load-robust extended readings (r7 VERDICT item 5): one-shot timings
    # of the slowest entries swing 2-3x with machine load, which made the
    # extended map useless for regression detection. When reps >= 2, the
    # TOP-20 slowest entries (plus any failures, which get a retry) are
    # re-run once and the per-query MINIMUM kept — the same min-of-N
    # variance filter the headline tier has always used, bounded to the
    # entries where noise actually distorts the record.
    if max(1, reps) >= 2 and smoke == 0:
        slowest = sorted(
            (n for n in extended if extended[n] > 0),
            key=lambda n: -extended[n],
        )[:20]
        retries = [n for n in extended if extended[n] < 0]
        for name in slowest + retries:
            dt = run_extended(name)
            if dt > 0:
                prev = extended[name]
                extended[name] = dt if prev < 0 else min(prev, dt)

    # Output contract (round-6 fix): the driver records only a ~2 KB TAIL
    # of stdout and parses the timing JSON out of it. The extended map
    # (~140 entries) and the shuffle-volume map are each several KB, so
    # they are printed as EARLIER stand-alone lines (and persisted whole
    # to the untracked BENCH_full.latest.json); the LAST line is the compact
    # (~1.1 KB) that is guaranteed to fit in the tail. Only the last line
    # starts with the "metric" key, so tail-greps can't latch onto a
    # truncated sidecar line.
    ext_total = round(sum(t for t in extended.values() if t > 0), 3)
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:  # pragma: no cover
        load1 = load5 = -1.0
    full = {
        "metric": "headline_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "first_rep": first_rep,
        "extended": extended,
        "extended_total_sec": ext_total,
        "shuffle": shuffle,
        "sf": sf,
        # Provenance so a committed copy is provably a quiet-machine
        # reference. loadavg_start_1m is the gate (sampled before the
        # session started — pre-existing contention); the end-of-run
        # samples are informational only (bench's own local[32] work
        # dominates them). reference_grade is what bless_bench.py checks.
        "provenance": {
            "loadavg_start_1m": round(load_start, 2),
            "loadavg_start_5m": round(load_start_5m, 2),
            "settled_before_start": settled,
            "loadavg_1m": round(load1, 2),
            "loadavg_5m": round(load5, 2),
            "quiet_load_max": quiet_max,
            # both start averages must be quiet: 1m at the threshold, 5m
            # at a 2x allowance (winding-down tolerance). bless_bench.py
            # enforces this stamp.
            "reference_grade": (
                0.0 <= load_start <= quiet_max
                and 0.0 <= load_start_5m <= 2 * quiet_max
            ),
            "reps": max(1, reps),
            "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        },
    }
    if not full["provenance"]["reference_grade"]:
        print(
            f"bench: NOT reference grade — loadavg at start 1m="
            f"{load_start:.2f} (max {quiet_max}) 5m={load_start_5m:.2f} "
            f"(max {2 * quiet_max}); sidecar tagged, bless_bench.py "
            f"will refuse it",
            file=sys.stderr,
        )
    # Self-annotate vs the committed quiet reference (r10 VERDICT item 2):
    # a loaded run (like the driver's r10, started at load 7.15) should
    # carry its own expected-inflation note instead of reading as a code
    # regression in the round-over-round table.
    try:
        blessed_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"
        )
        with open(blessed_path) as f:
            blessed = json.load(f)
        ref_total = blessed.get("value")
        ref_prov = blessed.get("provenance", {})
        # only when comparable: same scale factor, not a smoke run
        if (
            isinstance(ref_total, (int, float))
            and ref_total > 0
            and blessed.get("sf") == sf
            and smoke == 0
        ):
            delta_pct = 100.0 * (total - ref_total) / ref_total
            print(
                f"bench: headline {total:.2f}s vs committed quiet "
                f"reference {ref_total:.2f}s ({delta_pct:+.0f}%); this "
                f"run start-load 1m={load_start:.2f}/5m="
                f"{load_start_5m:.2f}, reference start-load "
                f"1m={ref_prov.get('loadavg_start_1m', '?')} — "
                + (
                    "quiet-to-quiet comparable"
                    if full["provenance"]["reference_grade"]
                    else "NOT quiet: expect contention inflation, "
                    "adjudicate regressions via tools/bench_ab.py"
                ),
                file=sys.stderr,
            )
    except (OSError, ValueError):
        pass  # no committed reference yet — nothing to annotate
    if smoke == 0:  # don't let a smoke run clobber a real run's sidecar
        try:
            # Untracked path (gitignored): a driver bench run never dirties
            # the working tree or silently replaces the committed
            # quiet-machine reference. Blessing a run is a deliberate step:
            #   cp BENCH_full.latest.json BENCH_full.json && git commit
            sidecar = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_full.latest.json",
            )
            with open(sidecar, "w") as f:
                json.dump(full, f, indent=1)
        except OSError:
            pass  # read-only checkout: stdout lines still carry everything
    print(json.dumps({"shuffle": shuffle, "first_rep": first_rep, "sf": sf}))
    print(json.dumps({"extended": extended, "extended_total_sec": ext_total, "sf": sf}))
    print(
        json.dumps(
            {
                "metric": "headline_suite_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extended_total_sec": ext_total,
                "sf": sf,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
