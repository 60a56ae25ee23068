"""Regenerate PLANS.md: formatted physical plans of representative
queries, with the scale property each one demonstrates. Evidence that
the plan shapes the docstrings claim are the plans Catalyst actually
produces."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_ml_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

SHOWCASE = [
    (
        "q6_forecast_revenue",
        "Filter pushdown + column pruning: all three predicates reach the "
        "parquet scan (PushedFilters) and ReadSchema carries only the 4 "
        "referenced columns.",
    ),
    (
        "q5_region_revenue",
        "Snowflake join strategy: every dimension goes through "
        "BroadcastExchange; the only big shuffle is orders x lineitem on "
        "the join key.",
    ),
    (
        "dedup_exact_documents",
        "Window keep-first dedup: ONE hash-partitioned exchange on the "
        "fingerprint, no self-join (which would double-scan upstream).",
    ),
    (
        "embedding_near_dup_pairs",
        "LSH near-dup: bucket equi-join (SortMergeJoin on table+bucket), "
        "no CartesianProduct; vectors join back only for candidates.",
    ),
    (
        "window_quartile_stats",
        "Distributed global ntile: rangepartitioning exchange + parallel "
        "per-partition windows; no single-task global sort window.",
    ),
    (
        "cdc_current_orders",
        "Merge-on-read: Union + one ranking window keyed on the merge key "
        "— no join anywhere in the plan.",
    ),
    (
        "ann_ivf_sqrtn_topk",
        "Data-adaptive IVF index sizing (the sqrt(N)-stride centroid pull "
        "runs as its own small job at build time). The search plan shown: "
        "assignment is a vectorized-UDF map (ArrowEvalPython) with NO "
        "corpus shuffle, candidates come from a BroadcastHashJoin on "
        "cent_id (never a CartesianProduct against the corpus), and "
        "WindowGroupLimit prunes to top-k before the final exchange.",
    ),
    (
        "q21_waiting_supplier",
        "Q21 with ONE lineitem shuffle: both correlated EXISTS probes "
        "collapse into a single per-order aggregate; the supplier-name "
        "regroup happens after the count reduction, over "
        "supplier-cardinality rows.",
    ),
    (
        "dedup_fuzzy_ed1_names",
        "FastSS fuzzy join: deletion-neighborhood explode feeds an "
        "equi-join (hash/sort-merge on the variant key) — no "
        "CartesianProduct; the all-pairs levenshtein shape exists only "
        "in the DuckDB oracle.",
    ),
    (
        "resample_gapfill_events",
        "Calendar gap fill: sequence+explode builds the per-user date "
        "spine (bounded by span), the spine joins daily aggregates on "
        "(user, day), and the LOCF forward fill is a per-user window — "
        "everything partitioned by user, no global operation.",
    ),
    (
        "graph_triangle_counts",
        "Ordered-wedge triangles: two equi-join exchanges (wedge build + "
        "closing edge), per-node counts from an explode+aggregate — no "
        "CartesianProduct anywhere.",
    ),
    (
        "anomaly_zscore_events",
        "Exact-integer anomaly threshold: single per-user window computes "
        "count/sum/sum-of-squares over the trailing frame; the 2.5-sigma "
        "predicate is integer arithmetic inside the same stage (no "
        "second pass, no Python).",
    ),
    (
        "sample_weighted_priority_documents",
        "Weighted sampling without replacement: hash-derived priorities "
        "rank via TakeOrderedAndProject (per-partition top-k + k-row "
        "merge) — no global-sort window, no RNG state.",
    ),
    (
        "ann_ivfpq_rerank_topk",
        "Two-stage retrieval: multi-probe cell assignment (vectorized "
        "UDF), ADC candidate join on cent_id, then exact cosine "
        "rescoring over a candidate point-lookup join — full vectors "
        "are read only for candidates, never scanned.",
    ),
    (
        "sketch_cms_frequency",
        "Count-Min sketch: partial_count in the map stage collapses "
        "every task's output to <= depth*width cells before ONE "
        "bounded exchange; probes hit the matrix via BroadcastHashJoin "
        "— frequency estimation with no vocabulary-sized shuffle.",
    ),
    (
        "agg_incremental_refresh",
        "Incremental view maintenance: the base table appears once in "
        "a LeftSemi key join (old-contribution recovery) and once in "
        "the pre-materialized aggregate; the refresh itself is a "
        "Union of delta rows + one group-cardinality aggregate — "
        "O(changes + groups), no base re-aggregation.",
    ),
    (
        "sketch_rolling_distinct_users",
        "Mergeable-sketch rollup: per-day hll_sketch_agg partials, "
        "then the trailing-7-day union runs over day-cardinality "
        "sketch rows only — the raw (day,user) pairs are shuffled "
        "exactly once, never per window.",
    ),
    (
        "window_new_vs_returning",
        "Cumulative distinct users without a rolling distinct: "
        "first-seen via groupBy(user), day-grain aggregate, and the "
        "only Window in the plan runs over day rows (post-aggregate) "
        "— never user cardinality.",
    ),
    (
        "text_novelty_trigram",
        "Trigram LM scoring: let-bound tokenization feeds the shingle "
        "explode once; trigram and context frequency tables come back "
        "as (size-guarded broadcast) hash joins on the gram keys — "
        "same shape as the contamination join, no cartesian.",
    ),
    (
        "bloom_prune_brand_revenue",
        "Bloom join pruning: the fact side carries a Filter of pure "
        "scalar expressions (xxhash64/getbit on a literal word array) "
        "BEFORE its exchange — no Python eval, no extra join; the "
        "exact join that follows removes the false positives.",
    ),
    (
        "text_bpe_train_merges",
        "Distributed BPE training: each round is a pair-count "
        "HashAggregate over the word-frequency dict with the winning "
        "pair entering the next round via BroadcastNestedLoopJoin of "
        "a 1-row aggregate — per-round shuffles are dict-sized, and "
        "nothing is collected to the driver.",
    ),
    (
        "dedup_segments_documents",
        "Segment-level dedup: posexplode of JVM-HOF segments, ONE "
        "hash exchange on the segment value for the keep-first "
        "window, one exchange back to the document for reassembly — "
        "both high-cardinality keys, no join, no cartesian.",
    ),
    (
        "feature_winsorize_events",
        "Winsorized scaling: exact per-type percentiles, a "
        "BroadcastHashJoin of the 1-row-per-type bounds, and ONE "
        "integer-sum aggregate — the z-moments are BIGINT sums, so "
        "no float reduction-order risk anywhere in the plan.",
    ),
    (
        "sample_source_cap_documents",
        "Per-source caps: a single hash exchange on source feeds "
        "WindowGroupLimit, which prunes each partition to the cap "
        "BEFORE the full window evaluates — hot sources emit cap "
        "rows, not their full volume.",
    ),
    (
        "kmeans_lloyd_embeddings",
        "Lloyd k-means final pass: assignment routes to ONE Arrow-"
        "batched exact-int64 matmul per batch (MapInPandas over the "
        "cached vectors — Spark's interpreted HOF lambdas lose 4-30x "
        "at k*d >= 512); the only shuffle is the k-row stats "
        "aggregation. Results bit-identical to the JVM expression "
        "path (tests/test_kmeans.py).",
    ),
    (
        "hybrid_search_rrf",
        "Hybrid RRF: the lexical leg re-aggregates tf into vocab- and "
        "doc-sized sides joined on term/doc_id, the tiny query-term and "
        "query-vector blocks broadcast, and the fusion joins two "
        "rank lists on (q_id, c_id) — no cartesian anywhere.",
    ),
    (
        "forecast_holt_events",
        "Reduce-first recursion: the events scan collapses to "
        "|event_type x day| rows in one partial-aggregated exchange "
        "before the mapInPandas recursion sees a single row of state "
        "per day — the Python stage runs on the reduced series only.",
    ),
    (
        "shuffle_epoch_documents",
        "Deterministic epoch shuffle: per epoch ONE RangePartitioning "
        "exchange on the seeded hash + per-range local row_number + "
        "broadcast offsets — the global training-order permutation "
        "without a single-task global window.",
    ),
    (
        "phrase_search_documents",
        "Positional phrase match: HOF bigram stream (no Python), "
        "TakeOrdered top-3 phrase selection, BroadcastHashJoin probe of "
        "the 3-phrase set against the stream — the ad-hoc phrase-query "
        "plan at any corpus size.",
    ),
    (
        "boilerplate_strip_documents",
        "Template removal: segment document-frequency table from one "
        "segment-key aggregation, LeftAnti equi-join strips every "
        "carrier, one shuffle reassembles — no pairwise comparison.",
    ),
    (
        "dedup_semantic_clusters",
        "SemDeDup cluster-then-prune: ONE exchange on cluster feeds an "
        "Arrow-batched FlatMapGroupsInPandas kernel (exact-int64 numpy "
        "Gram matmul per cluster, never a CartesianProduct or "
        "per-element lambda); assignment itself is a map over the "
        "cached quantized corpus. Round 9: the oversized-cluster "
        "sizing joins back via BroadcastHashJoin (plan O(1) in "
        "oversized-cluster count, no driver collect before the kernel).",
    ),
    (
        "concurrency_peak_events",
        "Distributed sweep line: per-day boundary partials + a "
        "broadcast carry-in join; the only unpartitioned window runs "
        "over day-cardinality rows — the global running sum never "
        "lands in one task.",
    ),
    (
        "sketch_theta_overlap_matrix",
        "The sketch-only PRODUCTION shape: ONE parquet scan (AQE reuses "
        "the sketch exchange for both join sides), map-side partial "
        "theta agg, broadcast NLJ over segment-count rows — no "
        "user-level join or distinct anywhere.",
    ),
    (
        "dedup_exact_substring",
        "ExactSubstr via rolling-window hash multiset: windows explode "
        "map-side, ONE map-side-combined count shuffle on the window "
        "hash plus the annotate-back equi-join — no suffix sort, no "
        "all-pairs.",
    ),
    (
        "sample_token_budget_mixture",
        "Token-budget mixture: |sources|-sized weight/quota tables "
        "broadcast; the per-source cumulative token offset is the "
        "grouped two-phase prefix sum (rangepartitioning + per-"
        "(partition,group) windows + broadcast carry-ins) — no "
        "single-task per-source sort.",
    ),
    (
        "skyline_parts_pareto",
        "Pareto skyline via the grid walk: one map-side-combined "
        "aggregate to the per-size price grid, a suffix-min window over "
        "|distinct sizes| rows (never over N), and a BroadcastHashJoin "
        "back onto the parts — no quadratic NOT-EXISTS self-join "
        "anywhere in the plan (the oracle SQL states dominance that "
        "way; the differential proves this plan equivalent).",
    ),
    (
        "sample_perplexity_buckets",
        "CCNet-style perplexity tertiles: the token-scale bucket count "
        "is one partial-aggregated shuffle, the 1024-row surprisal "
        "table comes back via BroadcastHashJoin, and the per-language "
        "tertile cuts run as a window over the distinct-score grid — "
        "cost tracks tokens once, then grid sizes.",
    ),
    (
        "graph_label_propagation",
        "Synchronous LPA after 4 rounds: localCheckpoint truncates each "
        "round's lineage, so the final plan is one join + struct-min "
        "aggregate over the LAST round's checkpointed labels — the plan "
        "stays this size at ANY iteration count instead of nesting 4 "
        "joins deep.",
    ),
    (
        "layout_bucketed_join_stats",
        "Co-located join on bucketed tables: the SortMergeJoin subtree "
        "contains ZERO Exchange — both sides' bucket layout satisfies "
        "the join's distribution requirement, the amortized-shuffle "
        "pattern a 100 TB star join needs (write once bucketed, join "
        "forever shuffle-free).",
    ),
    (
        "json_variant_events",
        "Spark 4 VARIANT path: parse_json once into the binary "
        "encoding, then every typed variant_get stays inside "
        "WholeStageCodegen — no per-access re-parse of the document, "
        "no Python in the plan.",
    ),
    (
        "drift_psi_events",
        "PSI after the round-9 null-safe audit: eqNullSafe keys still "
        "plan as BroadcastHashJoin everywhere (null-safe equality is a "
        "real join key to Catalyst, not a post-filter), so monitoring "
        "the NULL segment costs nothing.",
    ),
    (
        "url_canonical_dedup",
        "URL canonicalization is pure codegen'd column algebra: the whole "
        "synthesize+canonicalize pipeline fuses into the scan's "
        "WholeStageCodegen span with a partial (map-side) aggregate before "
        "the first exchange; the only shuffles are the page-key "
        "aggregation (two-phase, for the distinct-scheme count) and the "
        "output sort — no joins, no Python.",
    ),
    (
        "ann_ivf_delete_topk",
        "The tombstone-serve privacy-erasure plan (round 11): the "
        "tombstone table broadcasts into a map-side LEFT ANTI join over "
        "the partition-pruned inverted lists BEFORE the probe join, so "
        "excluding deleted vectors adds no shuffle — the serve path "
        "stays probe-join + per-query window, and a deleted id can "
        "never reach the rerank.",
    ),
    (
        "training_data_prep_e2e",
        "The chained clean->gate->dedup->sample->pack governance plan: "
        "scoring/gating/sampling fuse map-side into the scan stage, the "
        "fingerprint dedup is one exchange + window, and the packing rides "
        "the deterministic-bucket two-phase prefix sum (the 1-row bounds "
        "broadcast makes __pid a pure function of the row, so the two "
        "prefix branches agree with no materialization). Since round 11 "
        "the bounds branch really is the caller-supplied raw-table scan "
        "(min/max of doc_id over ReadSchema struct<doc_id:bigint>) — "
        "exactly 2 WindowGroupLimit pairs in the plan, i.e. the gate+dedup "
        "lineage is evaluated once per prefix branch and never a third "
        "time for bounds (pinned by tests/test_plans.py; measured 0.89x "
        "at sf0.1, 0.92x at sf1 — scripts/r11_bounds_ab.json).",
    ),
    (
        "ann_filtered_topk",
        "Metadata-filtered ANN (round 12, the RAG serve shape): the "
        "allowed-id set from the documents table broadcasts into a "
        "map-side LEFT SEMI join that prunes the corpus BEFORE centroid "
        "assignment, so disallowed vectors never cost an exact distance; "
        "the documents side is column-pruned to (doc_id, lang). Same "
        "plan family as the tombstone anti-join — filter semantics "
        "compile to broadcast-side set probes, never post-rerank "
        "filters (4.1s vs the unfiltered 20.1s at sf1).",
    ),
    (
        "layout_compaction_plan",
        "Compaction planning (round 12, the OPTIMIZE maintenance pass): "
        "bin cuts ride the two-phase prefix sum over the file manifest "
        "— range repartition by arithmetic buckets, local cumsum "
        "windows, 1-row broadcast offsets — with covering bounds from "
        "the bare column-pruned manifest scan. Zero WindowGroupLimit "
        "nodes: planning a million-file table never single-task sorts.",
    ),
    (
        "split_decontamination_stats",
        "Cross-split decontamination (round 12; broadcast un-forced in "
        "round 13 per VERDICT r12 #1): the two split sides tokenize "
        "DISJOINT row sets of the corpus (the hash split pushes into "
        "each scan's data filter — no row is tokenized twice), explode "
        "map-side to distinct (id, 60-bit gram hash) pairs, and meet in "
        "an equi-join on the gram hash that carries NO broadcast hint — "
        "both join sides are corpus fractions (80% train / 20% test), "
        "so the old forced F.broadcast(train-grams) build would collect "
        "most of the corpus's distinct grams to the driver at 100 TB. "
        "In THIS sf0.01 dump the optimizer still (correctly) size-picks "
        "a BroadcastHashJoin — the fixture's gram table is kilobytes; "
        "past the threshold the same plan shuffles both sides on the "
        "hash, the dedup family's budget. That the choice now belongs "
        "to Catalyst/AQE, not a hint, is pinned by tests/test_plans.py"
        "::test_split_decontam_gram_join_not_broadcast (threshold "
        "disabled => SortMergeJoin, zero BroadcastExchange). The lang "
        "rollup joins id-partitioned against a column-pruned "
        "(doc_id, lang) scan.",
    ),
    (
        "training_data_prep_decontam_e2e",
        "Decontaminating prep flagship (round 12; single-evaluation "
        "topology in round 13 per VERDICT r12 #2): score -> gate -> "
        "dedup -> decontaminate -> sample -> pack as one chain. The "
        "contamination gate's gram side reads the map-side `gated` "
        "lineage (identical anti-join result; dedup survivors carry "
        "identical text), so the dedup window has exactly ONE "
        "consumer; only the post-anti-join 3-column frame is a lazy "
        "localCheckpoint for the prefix sum's two branches — pinning "
        "the text-bearing `deduped` instead measured SLOWER than no "
        "pin at sf1 (the corpus-text storage write dominates; "
        "scripts/r13_decontam_ab.json). The plan shown reads `Scan "
        "ExistingRDD` where the round-12 plan re-evaluated the whole "
        "tokenize+dedup+gram-join lineage (8 corpus scans, 0 "
        "ReusedExchange); the only parquet scans left are the two "
        "doc_id-only covering-bounds scans. Pinned by tests/"
        "test_plans.py::test_decontam_e2e_lineage_pinned.",
    ),
    (
        "feature_store_snapshot",
        "Multi-horizon feature materialization (round 12): the 1h/24h/"
        "7d RANGE frames and the latest-event row_number all ride ONE "
        "(user, epoch) hash exchange — exactly one "
        "hashpartitioning(user_id) Exchange in the plan (pinned by "
        "tests/test_plans.py), so adding horizons costs no extra "
        "shuffle. The serving write is then a point-lookup table "
        "keyed by user_id.",
    ),
    (
        "skew_key_diagnosis_events",
        "Join-skew pre-flight (round 12): the per-key aggregate is "
        "map-side combined (partial_count) and the top-10 report "
        "compiles to TakeOrderedAndProject — per-partition top-k + a "
        "10-row driver merge, never a global sort; the 1-row totals "
        "frame broadcasts back for the share/fan-out arithmetic.",
    ),
    (
        "dedup_images_phash",
        "Perceptual-hash image near-dup (round 14): dHash computed in "
        "one Arrow mapInPandas pass over the real PNG decode path, "
        "then candidate pairs come ONLY from the banded self-equi-join "
        "on (band_idx, band_value) — by pigeonhole recall at radius 1 "
        "is guaranteed with 8 bands, so no CartesianProduct / "
        "BroadcastNestedLoopJoin appears anywhere (pinned by tests/"
        "test_plans.py::test_phash_dedup_is_band_join_not_all_pairs); "
        "Hamming verification is the JVM-side bit_count(xor) fold over "
        "the 8 band ints, evaluated only on band-collision candidates. "
        "The narrow (id, bands) hash frame is a lazy localCheckpoint: "
        "five plan branches consume it on DIFFERENT keys (band join "
        "x2, Hamming x2, final doc list), so without the pin the "
        "Python decode pass re-runs per branch — the plan below reads "
        "Scan ExistingRDD at each consumer instead.",
    ),
    (
        "pack_attention_boundary_stats",
        "Sequence-packing loss accounting (round 14): per-bin loads "
        "ride the SAME single segment-hash exchange as pack_ffd_"
        "documents (the FFD applyInPandas kernel), then two cheap "
        "aggregates fold bins into |segments| rows of pad/boundary "
        "arithmetic — no second corpus scan, no extra shuffle beyond "
        "the bin groupBy; all bound arithmetic is exact long `div`.",
    ),
    (
        "preference_pair_construction",
        "DPO pair assembly (round 14): ONE parquet scan, ONE hash "
        "exchange on the prompt-group key serves both rank-1 windows "
        "AND the final groupBy (the naive per-group candidates x "
        "candidates self-join never exists in the plan); the quality "
        "score is exact integer map-side arithmetic.",
    ),
    (
        "semantic_decontam_stats",
        "Embedding-space decontamination (round 14): the 40-vector "
        "benchmark enters via BroadcastExchange, the corpus is scanned "
        "ONCE with per-row cost |bench|, and both groupBys are "
        "map-side-combined — no shuffle ever carries a corpus x bench "
        "product.",
    ),
    (
        "ann_mmr_rerank_topk",
        "MMR diversified re-rank (round 14): one corpus scan builds "
        "the 12-candidate pool (broadcast 8-query eval set + q_id "
        "window); the pool and its pairwise cosines are lineage-pinned "
        "with lazy localCheckpoints, and the greedy K=4 selection runs "
        "as ONE Arrow cogroup kernel comparing the Spark-computed "
        "cosines — no corpus re-scan and no per-selection stage "
        "appears anywhere in the executed plan (an unrolled 4-stage "
        "formulation measured ~79 exchanges / 2.0-2.4s steady at "
        "sf0.1 vs 1.1-1.4s for this shape, identical results).",
    ),
]


def main() -> None:
    import __spark_entry__ as e

    spark = get_spark()
    qs = e.queries()
    out = [
        "# Physical plans (generated by scripts/dump_plans.py at sf0.01)",
        "",
        "Regenerate with `python scripts/dump_plans.py` after plan-affecting",
        "changes. Plan-shape regressions are caught by tests/test_plans.py;",
        "this file is the human-readable evidence.",
        "",
    ]
    for name, why in SHOWCASE:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", why, "", "```", plan.rstrip(), "```", ""]
    Path("PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
