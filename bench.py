"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each row times `QUERIES[name]` — the same callable the parity gate checks —
run to completion (collect), wall-clock; warm-up passes first absorb
JVM/session startup so per-query numbers measure the plans, not the JVM boot.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ophidia_server_spark import session  # noqa: E402
from ophidia_server_spark.registry import QUERIES  # noqa: E402
from ophidia_server_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_nation_revenue",
    "tpch_q6_forecast_revenue",
    "cube_build",
    "cube_reduce_sum",
    "cube_reduce2_quarter_avg",
    "cube_aggregate_sum",
    "cube_apply_moving_avg",
    "cube_intercube_div",
    "mf_level_container",
    "events_tumbling_1h",
    "events_sessionize",
    "text_quality",
    "text_fingerprint",
    "dedup_exact_groups",
    "dedup_minhash_pairs",
    "sim_topk_cosine",
    "multimodal_binary_meta",
    "workflow_q1",
    # round-1 additions: semi-join, zscore primitive, IVF ANN, streaming window
    "tpch_q4_order_priority",
    "cube_apply_zscore",
    # round-4: build-once/probe-many ANN — the build row pays codebook
    # training + the partitioned-store write; the topk rows then measure
    # partition-pruned probe cost only (the serving-path number)
    "sim_ivf_build",
    "sim_ivf_topk",
    # round-5: query-many serving — 8 concurrent partition-pruned probes
    # against the one shared IVF store under per-query FAIR pools (the
    # reference's 128-thread farm shape); measures the real serving path
    # under contention (the exhaustive oracle-exact twin stays in the gate)
    "sim_probe_concurrent_pruned",
    "sim_lsh_build",
    "sim_lsh_topk",
    "events_sliding_1h30m",
    # round-1 flagship extensions: point-in-time/range joins, chunking,
    # contamination scan, exact embedding near-dup
    "events_asof_join",
    "events_range_join",
    "text_chunking",
    "text_contamination",
    "dedup_embedding_cosine",
    # deterministic corpus mixing (hash-based stratified sampling + audit)
    "sample_stratified_mix",
    # flagship composite: filter -> dedup -> decontaminate -> split -> audit
    "pipeline_corpus_end_to_end",
    # multi-join breadth: nation-pair volume, promo share
    "tpch_q7_nation_volume",
    "tpch_q14_promo_share",
    # round-3 additions: remaining TPC-H breadth + NetCDF ingest/export path
    "tpch_q10_returned_items",
    "tpch_q12_shipmode",
    "io_nc_roundtrip",
    # round-4 additions: TPC-H breadth (order rollup + join top-k, left-join
    # distribution shape)
    "tpch_q18_large_volume_customers",
    "tpch_q13_customer_distribution",
    # round-5: TPC-H set completed via the lineitem-derived partsupp stand-in;
    # q9 is the heaviest new shape (fact self-derived dim + orders join)
    "tpch_q9_product_profit",
    # round-4 additions: netCDF-4 (HDF5) + Zarr codecs, PII scrub pass,
    # bigram language-model quality scoring (join-heavy text shape)
    "io_nc4_roundtrip",
    "io_zarr_roundtrip",
    # round-5: Zarr v3 (zarr.json layout) with the bytes+zstd codec chain,
    # and the packed-cube ORC write/read path (JVM-native columnar sink)
    "io_zarr_v3_roundtrip",
    "io_orc_roundtrip",
    "text_pii_signals",
    "text_bigram_logprob",
    # round-5: BM25 corpus search (query-term tf + broadcast stats)
    "text_bm25_search",
    # round-6: skew stress — half the fact rows on one hot key, joined via
    # manual salting (functions/skew.py) and via the AQE shuffle path
    "skew_hot_key_join_salted",
    "skew_hot_key_join_aqe",
    # round-6: unlimited-dim netCDF-4 with the Extensible Array chunk index
    # (the libver-latest appended-records ingest path)
    "io_nc4_unlimited_roundtrip",
    # round-6: training-batch preparation — concat-and-chunk sequence packing
    # (per-bucket running sum, no global order), cross-doc repeated-span
    # stats (term-keyed gram join), and SemDeDup cluster-confined pruning
    "pack_sequences",
    "text_repeated_ngrams",
    "dedup_semantic",
    # round-6: funnel (k-1 user-keyed joins) and the deterministic HLL
    # sketch (map + m-row aggregate + per-day merge)
    "events_funnel_conversion",
    "events_hll_sketch",
    # round-6: the other two sketch families (count-min frequency, DDSketch
    # quantiles), the both-sides-ranges overlap join, and the Arrow IPC
    # sharded export/import path
    "events_cms_heavy_hitters",
    "events_dds_quantiles",
    "events_interval_overlap_join",
    "io_arrow_roundtrip",
    # round-6: time-series diagnostics (seasonal split + level-shift
    # detection) and the single-pass data-quality contract check
    "events_seasonal_decompose",
    "events_cusum_changepoint",
    "corpus_audit_documents",
    # round-7: real BPE tokenization (broadcast-rank Arrow map stage; the
    # merge training is amortized once per session via the registry cache),
    # the Bloom set-membership sketch, and the continuous-ingest novelty
    # gate against the materialized MinHash index
    "text_bpe_apply",
    "events_bloom_bits",
    "dedup_incremental_novelty",
    # round-7: DSIR importance weighting (one tokenization explode + an
    # m-row broadcast ratio join) and the temperature-flattened corpus mix
    "dsir_logweights",
    "sample_temperature_mix",
    # round-7: Gopher rule battery (pure map stage) and the CMS inner-product
    # join-size estimate (two map-side sketches instead of a dry-run join)
    "text_gopher_rules",
    "join_cardinality_cms",
    # round-7: C4 line-level dedup (line-keyed shuffle + per-doc rebuild),
    # the mergeable-rollup maintenance pass, per-group DDSketch quantiles,
    # and the versioned-store upsert + dual-version read
    "text_dedup_lines",
    "incremental_aggregate_merge",
    "events_dds_quantiles_by_type",
    "layout_time_travel",
    # round-7 second flagship: the training-data release chain (gopher ->
    # dedup -> DSIR select -> temperature mix -> interleave) in one plan
    "pipeline_release_end_to_end",
    # round-7 tail: sequence-model pair extraction over sessions, and
    # rolling WAU from mergeable daily HLL sketches
    "events_next_event_pairs",
    "events_rolling_wau",
    # round-8: the de-skewed ECDF rank (agg+join, no per-group sort), the
    # shortlist-bounded contrastive miner, stats-pruned versioned reads,
    # and the from-spec baseline JPEG decode chain
    "events_percentile_rank",
    "train_contrastive_triplets",
    "layout_snapshot_pruned_read",
    "multimodal_decode_jpeg",
    "layout_change_feed",
    "events_percentile_rank_bucketed",
    "layout_incremental_rollup",
    # round-8 statistical feature prep: exact KS drift, equal-frequency
    # deciles, median/IQR scaling — all distinct-value-table shapes
    "events_drift_ks",
    "events_quantile_bins",
    "events_robust_scale",
    "text_strip_markup",
    "io_safetensors_roundtrip",
    "pack_bins_grade",
    "graph_pagerank_grade",
    "layout_stream_append",
    "layout_stream_backfill",
    # round-8 data-profiling wave
    "corpus_profile_documents",
    "audit_fk_integrity",
    "events_rate_spikes",
    "events_ab_test",
    "events_attribution_last_touch",
    "events_ewma_daily",
    "orders_benford_digits",
    "sim_int8_topk",
    "sim_index_append_recall",
    "sample_weighted_reservoir",
    "audit_k_anonymity",
    "dedup_blocked_link",
    "multimodal_dhash_pairs",
    "text_template_prefixes",
    "layout_snapshot_analyze",
    "events_interpolate_linear",
    "sample_token_budget",
    "text_canonical_urls",
    "audit_l_diversity",
    "graph_bfs_distances",
    "events_quantile_normalize",
    "sim_index_append_lsh_recall",
    "dedup_url_groups",
    "dedup_jaccard_join",
    "dedup_keep_best_vocab",
    "graph_triangle_counts",
    "sim_random_project",
    "text_collocations",
    "text_chi2_by_source",
    "cube_apply_fit_linear",
    "graph_item_similarity",
    "events_out_of_order",
    "events_forward_fill",
    "events_session_stats",
    "ml_als_grade",
    "dedup_containment_join",
    "text_ngram_novelty",
    "orders_abc_classification",
    "orders_gini_customers",
    "events_period_deltas",
    "events_bootstrap_ci",
    "events_transition_matrix",
    "events_funnel_latencies",
    "multimodal_dhash",
    "text_encoding_artifacts",
    "text_url_domains",
    "audit_fd_check",
    "search_hybrid_rrf",
    "events_grouped_trend",
    "events_autocorrelation",
    "cube_apply_histogram",
    "events_cube_lattice",
    "text_zipf_exponent",
    "corpus_source_scorecard",
    "events_did_estimate",
    "events_neyman_allocation",
    "events_cuped",
    "events_kaplan_meier",
    "graph_kcore_grade",
    "events_attribution_position",
    "sim_label_separation",
    "corpus_source_overlap",
    "events_debounce",
    "parts_price_volume_mix",
    "sim_whiten",
    "events_behavior_entropy",
    "events_seasonal_naive_error",
    "events_interarrival_stats",
    "orders_fulfillment_lag",
    # round-10: the snapshot-backed massive-filter catalog, the quantized
    # qnorm scale lever (the sf10 protocol's flattening twin)
    "mf_snapshot_pruned",
    "events_qnorm_quantized",
    "dedup_duplicate_spans",
    "dedup_span_coverage",
    "dedup_excise_spans",
    "text_contamination_spans",
    "pack_fim_split",
    # round-11: the composed IVF-PQ store — the build row pays PQ training
    # + encode + partitioned write; the topk row is the pruned code-column
    # ADC scan + shortlist rerank, to be read against sim_ivf_topk (same
    # nprobe — the code-scan-vs-float-scan comparison)
    "sim_ivfpq_build",
    "sim_ivfpq_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # SPARK_GRAFT_ONLY=q1,q2,... restricts the suite (the sf1 scale-up run
    # times the 10 genuinely data-proportional flagships, not the bounded
    # gate fixtures); the driver's per-round run leaves it unset.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    global HEADLINE
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            raise SystemExit(f"unknown queries in SPARK_GRAFT_ONLY: {unknown}")
        HEADLINE = names
    spark = get_spark("bench")
    # Warm-up: run every headline query once at the smallest SF so the JVM
    # JIT-compiles each plan's generated code (whole-stage codegen classes are
    # per-plan-shape). The timed pass then measures steady-state throughput —
    # what a long-lived cluster executor delivers — instead of one-shot JIT
    # cost, and run-to-run variance drops several-fold. Falls back to the
    # target SF when sf0.001 is absent.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        try:
            QUERIES[name](spark, warm_dir).collect()
        except Exception:  # noqa: BLE001 - warm-up is best-effort
            pass
    # Pre-touch the target-SF parquet bytes: this microVM reclaims page cache
    # aggressively, and a cold first scan dominates small queries' timings
    # (measured 2-5x swings). Reading the files once makes the timed pass
    # measure the engine, not the disk.
    for fn in sorted(os.listdir(sf_dir)):
        if fn.endswith(".parquet"):
            p = os.path.join(sf_dir, fn)
            paths = (
                [os.path.join(p, f) for f in os.listdir(p)] if os.path.isdir(p) else [p]
            )
            for f in paths:
                if os.path.isfile(f):
                    with open(f, "rb") as fh:
                        while fh.read(1 << 22):
                            pass
    # Second warm-up at the TARGET SF: AQE picks different physical plans at
    # different data sizes, so the sf0.001 pass doesn't JIT the sf0.1 plan
    # shapes (measured 2-3x first-run swings on the codegen-heavy queries).
    for name in HEADLINE:
        try:
            QUERIES[name](spark, sf_dir).collect()
        except Exception:  # noqa: BLE001 - warm-up is best-effort
            pass
    # the warm pass populated the build-once vector-store cache; clear it so
    # the timed sim_*_build rows measure a REAL build (training + partitioned
    # write), not a cache hit — the probes then repopulate it in plan order.
    # The other session caches (tables, PQ, BPE, MinHash index) stay warm.
    session.clear("vstore")
    # SPARK_GRAFT_BENCH_REPEATS=k timed interleaved passes (default 2),
    # per-query minimum as the headline number: this microVM's CPU
    # allocation swings run-to-run (identical code has measured 26-72 s for
    # the same suite across a day — see BASELINE.md), and single-record
    # tails have whipsawed 0.91x-1.72x across rounds on ~1.0x real change.
    # The min of k passes is the standard steady-state estimator; the
    # per-query min/median/max spread is ALSO emitted ("spread" key) so a
    # regression ruling can be checked against the measured variance band
    # (BASELINE.md "Variance band") instead of a coin flip. The build rows
    # (sim_*_build) stay single-pass: a second pass would hit the
    # build-once cache and time a no-op.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    once = {"sim_ivf_build", "sim_lsh_build", "sim_ivfpq_build"}
    for rep in range(repeats):
        for name in HEADLINE:
            if rep and name in once:
                continue
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).collect()
            samples[name].append(round(time.perf_counter() - t0, 3))
    timings = {n: min(s) for n, s in samples.items()}

    def _median(s: list[float]) -> float:
        s = sorted(s)
        m = len(s) // 2
        return s[m] if len(s) % 2 else round((s[m - 1] + s[m]) / 2, 3)

    spread = {
        n: {"min": min(s), "median": _median(s), "max": max(s), "n": len(s)}
        for n, s in samples.items()
    }
    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": repeats,
    }
    # Full record (incl. per-query spread) goes to a sidecar the driver /
    # next round can read whole (BENCH_r11/r12 carried "parsed": null
    # because the driver only captured a truncated stdout tail); stdout
    # gets ONE compact totals-first line WITHOUT the spread map so the
    # headline survives any tail truncation.
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json")
    try:
        with open(sidecar, "w") as fh:
            json.dump(record, fh, separators=(",", ":"))
            fh.write("\n")
    except OSError:
        pass
    line = dict(record)
    del line["spread"]
    sys.stdout.flush()
    print(json.dumps(line, separators=(",", ":")), flush=True)
    # The driver records only the LAST 2000 stdout chars; the full line
    # above (~90 queries) exceeds that, so its head — metric/value — is
    # what gets truncated away. Emit a guaranteed-small FINAL line: the
    # totals plus the heaviest queries, trimmed to always fit the window.
    heavy = sorted(timings.items(), key=lambda kv: -kv[1])
    summary = {
        "metric": record["metric"], "value": total, "unit": "sec",
        "sf": record["sf"], "repeats": repeats,
        "n_queries": len(timings), "queries_file": "BENCH.json",
        "queries": {},
    }
    for k, v in heavy:
        summary["queries"][k] = v
        if len(json.dumps(summary, separators=(",", ":"))) > 1800:
            del summary["queries"][k]
            break
    print(json.dumps(summary, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
