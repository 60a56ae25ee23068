"""Three-decade scale ladder: headline queries at sf0.1 / sf1 / sf10.

The per-round bench (sf0.1) and the sf1 sweep verify two rungs; this
script adds a third decade (.sf10 = 100x sf0.1 by key-shifted
replication, ~60M lineitem rows) and reports the per-decade scaling
exponent alpha = log10(t_next / t_prev) for each query. On fixed
cores, a plan whose work is linear in rows measures alpha <= 1
(fixed costs amortize); alpha meaningfully above 1 flags a shape that
would NOT survive the next 10x — the local proxy for the 100 TB
question. No oracle at sf10: correctness is pinned at the lower rungs
(sf0.001-sf0.1 by DuckDB, sf1 by the full differential); this rung
measures plan shape only.

Usage: python scripts/scale_ladder.py [out_json] [--only n1,n2]
Builds .sf10 on first run (scripts/make_sf1.py with 100 replicas).
``--only`` re-measures just those families and MERGES their rows into
the existing json — the incremental mode for re-laddering the handful
of queries a round actually touched.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_ml_pipeline_spark.session import get_spark  # noqa: E402

REPO = Path(__file__).resolve().parents[1]
RUNGS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", str(REPO / ".sf1")),
    ("sf10", str(REPO / ".sf10")),
]

QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q21_waiting_supplier",
    "agg_distinct_parts",
    "dedup_exact_documents",
    "dedup_minhash_documents",
    "text_token_stats",
    "sessionize_events",
    "window_topk_orders_per_customer",
    "sketch_cms_frequency",
    "asof_click_purchase",
    # round-5 operators
    "bloom_prune_brand_revenue",
    "dedup_segments_documents",
    "text_bpe_train_merges",
    "feature_winsorize_events",
    "sample_source_cap_documents",
    # round-5 fourth session
    "kmeans_lloyd_embeddings",
    "ml_group_ols_trend",
    "forecast_holt_events",
    "changepoint_cusum_events",
    "drift_psi_events",
    "markov_transitions_events",
    "anomaly_mad_events",
    "hist_equidepth_prices",
    "hybrid_search_rrf",
    "privacy_k_anonymity",
    # round-6: the last round-5 family missing from the ladder
    # (VERDICT r05 #5) — micro-cent multi-touch attribution
    "attribution_linear_events",
    # round-7: the round-6 families (VERDICT r06 #5) — two-phase epoch
    # shuffle, perceptual image near-dup, event-time RANGE rolling,
    # line-frequency boilerplate strip, and the top-k replay's stream
    # path driven end-to-end at each rung
    "shuffle_epoch_documents",
    "multimodal_image_ahash_dedup",
    "window_time_range_rolling",
    "boilerplate_strip_documents",
    "stream_topk_multibatch_replay",
    # round-7 additions: cluster-bounded semantic dedup (capped slice —
    # expect flat), DSIR weighting, sweep-line concurrency, RFM grid,
    # exact-allocation sampling, BPE round-trip
    "dedup_semantic_clusters",
    "sample_dsir_weights",
    "concurrency_peak_events",
    "rfm_segmentation_events",
    "sample_exact_allocation",
    "text_bpe_roundtrip",
    # round-8 additions: repeated-window (ExactSubstr-style) dedup,
    # token-budget mixture over the grouped two-phase prefix sum, and
    # the sketch-only theta overlap production path
    "dedup_exact_substring",
    "sample_token_budget_mixture",
    "sketch_theta_overlap_matrix",
    # round-8 late-session additions: LPA communities (per-round
    # join+agg), CCNet perplexity tertiles (token-scale shuffle +
    # grid-walk cuts), Pareto skyline (grid suffix-min, no all-pairs),
    # incremental MinHash-index streaming dedup (3-batch survivorship),
    # bucketed co-located join (one-time layout shuffle, zero-Exchange
    # join)
    "graph_label_propagation",
    "sample_perplexity_buckets",
    "skyline_parts_pareto",
    "stream_dedup_index_replay",
    "layout_bucketed_join_stats",
    # round-10 families: URL canonicalization + page-key dedup (map
    # algebra + one groupBy), the persisted and incremental IVF index
    # paths (partitioned index write + probe-join serve), and the
    # chained clean->gate->dedup->sample->pack governance plan over the
    # pinned two-phase prefix sum.
    "url_canonical_dedup",
    "ann_ivf_persisted_topk",
    "ann_ivf_incremental_topk",
    "training_data_prep_e2e",
    # round-11 families: the tombstone-serve privacy-erasure path of
    # the persisted IVF index (broadcast anti-join ahead of the probe
    # join) and the two late-data watermark-correctness replays (state
    # eviction + late-drop are the per-batch work being measured).
    "ann_ivf_delete_topk",
    "ann_ivf_update_topk",
    "stream_late_data_window_replay",
    "stream_late_dedup_eviction_replay",
    "stream_late_join_replay",
    "stream_late_outer_join_replay",
    "url_blocklist_stats",
    # round-12 families: metadata-filtered ANN (broadcast semi-join
    # ahead of assignment), cross-split 5-gram decontamination (one
    # token-scale gram join), per-label snapshot drift (posexplode
    # partials), score-calibration bins (token explode + broadcast
    # weights), compaction planning (manifest-scale prefix sum),
    # DP count release (one groupBy + map-side noise), and per-user
    # episode construction (one user-key shuffle + bounded collect).
    "ann_filtered_topk",
    "split_decontamination_stats",
    "embedding_drift_snapshots",
    "quality_calibration_bins",
    "layout_compaction_plan",
    "privacy_dp_group_counts",
    "sft_episode_construction",
    # round-12 late addition: incremental ingest decontamination — the
    # per-batch gram explode + stream-static hash join is the work
    # being measured; flag state is keyed per doc (watermark/TTL in
    # production).
    "stream_decontam_replay",
    # round-12 flagship: the decontamination-gated governance chain
    # (adds one gram join + one anti-join to the e2e budget) and the
    # stored-lists observability scan (index write + map-side-combined
    # groupBy on the partition column).
    "training_data_prep_decontam_e2e",
    "ann_index_stats",
    # round-12 final additions: multi-horizon feature materialization
    # (one (user, epoch) sort shared by three RANGE frames + the
    # snapshot row_number) and the one-pass Heaps-law vocab curve
    # (token -> min-bucket shuffle + a 10-row window).
    "feature_store_snapshot",
    "text_vocab_growth_curve",
    # round-12 closing additions: the join-skew pre-flight (one
    # map-side-combined groupBy + 10-row TakeOrdered) and the
    # cross-snapshot delta (distinct-fingerprint build side + one
    # fingerprint equi-join).
    "skew_key_diagnosis_events",
    "dedup_cross_snapshot_delta",
    # round-13 families: the persisted-gram-index decontamination
    # replay (build + incremental append + one gate join per run) and
    # segment-sharded exact FFD packing (one segment-hash shuffle +
    # Arrow-batched per-segment packing state).
    "decontam_gram_index_replay",
    "pack_ffd_documents",
    # round-14 families: banded Hamming-ball image near-dup (fixed
    # 120-doc slice — expect flat; the measured work is the band join
    # machinery not corpus scans) and packing loss accounting (the
    # corpus-scale FFD shuffle + two narrow aggregates).
    "dedup_images_phash",
    "pack_attention_boundary_stats",
    # round-14 late addition: the persisted dHash index lifecycle
    # (index write + append + two banded gates + a retention delete
    # per run — fixed 120-image slice, so expect flat like its batch
    # twin; the measured work is the index IO + gate machinery).
    "dedup_images_phash_replay",
    # round-14 batch 2: preference-pair assembly (map-side score + one
    # group-key exchange, linear), semantic decontamination (broadcast
    # 40-vector benchmark x corpus scan, linear in corpus), SFT mask
    # accounting (one user_id exchange over the bounded episode pool —
    # expect flat-ish: the <300-user filter prunes at the scan),
    # DoReMi reweighting (one corpus pass + |domains|-row iterations),
    # MMR re-rank (one corpus scan into a 12-candidate pool; the
    # greedy stages are k-bounded), retrieval eval (one scan, ranked
    # per 20 queries), crawl frontier (one groupBy(host) closed form).
    "preference_pair_construction",
    "semantic_decontam_stats",
    "sft_loss_masking_stats",
    "mixture_doremi_weights",
    "ann_mmr_rerank_topk",
    "retrieval_eval_metrics",
    "crawl_frontier_schedule",
]


def main() -> None:
    args = [a for a in sys.argv[1:]]
    only: list[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = [n.strip() for n in args[i + 1].split(",") if n.strip()]
        del args[i : i + 2]
    out_path = Path(args[0]) if args else REPO / "SCALE_LADDER.json"
    queries_to_run = QUERIES if only is None else only
    unknown = [n for n in queries_to_run if n not in QUERIES]
    if unknown:
        sys.exit(f"--only names not in the ladder family list: {unknown}")
    sf10 = REPO / ".sf10"
    if not sf10.exists():
        print("building .sf10 (make_sf1.py x100)...", flush=True)
        subprocess.run(
            [
                sys.executable,
                str(REPO / "scripts" / "make_sf1.py"),
                str(sf10),
                "100",
            ],
            check=True,
        )

    from etl_ml_pipeline_spark.queries import all_queries

    qs = all_queries()
    # Pin the resources the report claims: get_spark's default master is
    # local[$SPARK_GRAFT_CPUS] with a 4-core fallback, which silently
    # quartered earlier ladder runs when the env var was unset (q1@sf10
    # read 22.6s on 4 cores vs ~2s on 32 — an artifact, not a plan
    # property).
    spark = get_spark(
        app_name="scale_ladder", master="local[32]", shuffle_partitions=64
    )

    results: dict[str, dict[str, float]] = {q: {} for q in queries_to_run}
    for rung, sf_dir in RUNGS:
        for q in queries_to_run:
            fn = qs[q]
            # Full materialization via toPandas(), same as bench.py — a
            # count() trigger would let Catalyst prune the aggregate
            # expressions (counting an aggregate's rows only needs the
            # grouping keys) and time a gutted plan.
            len(fn(spark, sf_dir).toPandas())  # untimed warm pass
            times = []
            for _ in range(2):
                t0 = time.perf_counter()
                len(fn(spark, sf_dir).toPandas())
                times.append(time.perf_counter() - t0)
            results[q][rung] = round(min(times), 3)
            print(f"{rung:6s} {q:35s} {results[q][rung]:8.3f}s", flush=True)

    report = {}
    for q, r in results.items():
        a01 = math.log10(max(r["sf1"], 1e-3) / max(r["sf0.1"], 1e-3))
        a110 = math.log10(max(r["sf10"], 1e-3) / max(r["sf1"], 1e-3))
        report[q] = {
            **r,
            "alpha_sf0.1_to_sf1": round(a01, 2),
            "alpha_sf1_to_sf10": round(a110, 2),
        }
    if only is not None and out_path.exists():
        prior = json.loads(out_path.read_text())
        merged = prior.get("queries", {})
        merged.update(report)
        report = merged
    out = {
        "rungs": {r: d for r, d in RUNGS},
        "queries": report,
        "note": "alpha = log10 wall-time ratio per data decade on fixed "
        "local[32]; <=1 is linear-or-better",
    }
    out_path.write_text(json.dumps(out, indent=1))
    print("wrote", out_path)


if __name__ == "__main__":
    main()
