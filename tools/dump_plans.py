"""Dump .explain("formatted") for flagship queries + automated plan
assertions (pushdown present, no cartesian products, broadcasts on
dims) into docs/PLANS.md.

With an output directory and a suffix, it instead writes each named
query's formatted plan (from either registry tier; default: every
driver-facing query) to <outdir>/<query>_<suffix>.txt — before/after
evidence for a plan change. A query that fails to build records a
SKIP line instead of a plan.

Usage: python tools/dump_plans.py [sf_dir]
       python tools/dump_plans.py <sf_dir> <outdir> <suffix> [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kaylee_spark.operators.skew import scoped_conf  # noqa: E402
from kaylee_spark.queries import load_all, load_everything  # noqa: E402
from kaylee_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("q01_pricing_summary", "filter pushdown + map-side partial aggregation"),
    ("q03_top_orders", "broadcast dim joins + TakeOrderedAndProject top-k"),
    ("q05_region_revenue", "star join: all three dims broadcast, one fact pass"),
    ("q04_order_priority", "EXISTS as BroadcastHashJoin LeftSemi"),
    ("q19_theta_join", "theta join keyed on equi component, range as residual"),
    ("a09_range_join", "bucketed range join: equi hash join, no nested loop"),
    ("a08_asof_join", "as-of via union + single window sort, no row explosion"),
    ("q02_min_cost_supplier", "correlated MIN as window-min: one shuffle on partkey"),
    ("q09_nation_year_profit", "filtered dims broadcast; single fact-fact shuffle"),
    ("q10_returned_items", "pushed filters + TakeOrderedAndProject top-20"),
    ("q26_volume_shipping", "one dim joined twice (roles), inequality as residual"),
    ("q27_market_share", "share-of-total in ONE hash agg (two accumulators)"),
    ("d01_exact_dedup", "hash-first dedup: 32-byte keys through the shuffle"),
    ("d07_decontamination", "bipartite decontamination: shuffle-free shingling, broadcast eval set"),
    ("d08_incremental_dedup", "incremental ingest: anti-join on the corpus hash set, text never shuffles"),
    ("d04_minhash_lsh", "MinHash LSH: one agg pass, band-bucket self-join, exact verify on candidates only"),
    ("s01_cosine_topk", "broadcast query set, per-partition top-k rank"),
    ("s02_lsh_ann_topk", "LSH ANN: bucket equi-join candidates, broadcast probes, exact re-rank"),
    ("w01_rank_orders", "five window functions over ONE shuffle (shared window spec)"),
    ("e01_tumbling_window", "tumbling window agg: partial agg before the one shuffle"),
    ("m01_wordcount", "column pruning: scan reads only the text column"),
    ("d09_snapshot_upsert", "CDC upsert: payload-free broadcast key anti-join for base survivors"),
    ("a16_fuzzy_join", "fuzzy join: q-gram bucket candidates, threshold-levenshtein verify, no cross join on the long path"),
    ("t12_token_budget_mix", "token-budget mix: one per-stratum running-sum window, no global sort"),
    ("a19_dq_report", "DQ rule suite: null/range/accepted/unique fused in ONE scan agg; FK as broadcast anti-join"),
    ("t13_bm25_topk", "BM25: row-local tf arrays, 1-row stats broadcast, TakeOrdered — corpus never shuffles"),
    ("e17_rollup_cascade", "rollup cascade: coarser levels read the materialized finer level, not raw"),
    ("d10_snapshot_diff", "snapshot diff: payload pruned to 8-byte hashes before the full-outer join"),
    ("g01_pagerank", "pagerank: cached loop invariants, per-iteration shuffle join + partial-agg bigint sums"),
    ("d11_line_dedup", "segment dedup: row-local segmentation, anti-join vs small boilerplate set, windowless reassembly"),
    ("t16_stratified_sample", "portable-hash sampling: 2-column pruned scan, membership predicate in codegen"),
    ("a21_mad_outliers", "MAD outliers: two tiny holistic aggs broadcast back onto one event scan"),
    ("t17_unigram_logprob", "unigram LM: term-keyed count, 1-row total broadcast, decimal per-doc fold"),
    ("t18_tfidf_keywords", "TF-IDF keywords: one explode feeds tf and df, per-doc top-k window"),
    ("a22_equidepth_histogram", "equi-depth histogram: percentile boundaries broadcast, assignment in codegen, no NTILE sort"),
    ("d05_simhash_pairs", "portable SimHash: 62 bit-votes in ONE hash agg, pigeonhole chunk join, arithmetic first-agree dedup"),
    ("s03_embedding_neardup", "sign-LSH near-dups: fixed-point bigint signatures at scan speed, cached 16-byte rows into the hamming join"),
    ("t19_bpe_pair_counts", "BPE pair counts: row-local array pairing, one pair-keyed partial-agg shuffle, TakeOrdered top-n"),
    ("t20_sequence_packing", "sequence packing: group-partitioned integer cumsum window into one group-keyed agg"),
    ("d12_incremental_neardup", "incremental near-dup: broadcast hot-set anti-join + broadcast increment-shingle semi-join drive the corpus side"),
    ("d13_lsh_index_probe", "persisted-index probe: broadcast increment buckets against band-partitioned parquet, verify on candidate postings only"),
    ("e22_interpolate", "linear interpolation: both anchor frames share ONE user-keyed sort, no second exchange"),
    ("a24_spearman_corr", "spearman: both rank axes + final agg ride ONE group-keyed exchange; tie peers via RANGE frame"),
    ("a25_association_rules", "association rules: broadcast frequent-item prune BEFORE the basket-keyed pair expansion"),
    ("e25_markov_transitions", "markov transitions: lag on one user sort; probability window over the |types|^2 aggregate"),
    ("s09_kmeans", "broadcast-Lloyd k-means: centroids as codegen literals, cached integer lattice, k-row agg per iteration"),
    ("s10_pq_encode", "product quantization: 4 subspace codebooks trained off one cached lattice; all 4 argmins in one column-pruned select"),
    ("d16_containment_pairs", "asymmetric containment: d03's df-capped inverted index; both directions projected from one symmetric candidate agg"),
    ("t22_bigram_logprob", "bigram LM: row-local pairing, one (a,b) model count, context totals derived from it, V folded as a literal"),
    ("g06_kcore_peel", "k-core peel: per-round semi-joins against the checkpointed shrinking alive set, one degree count each"),
    ("e28_scd2_history", "SCD2 history: change lag + version cumsum on ONE sort, run-sized collapse before the valid_to lead"),
    ("e29_seasonal_anomaly", "seasonal baseline: (type, hour) moments broadcast back onto the scan — no window sort at all"),
    ("t25_repeated_ngrams", "repetition filter: row-local array ops only — zero Exchange, a scan-speed predicate"),
    ("s13_hard_negatives", "hard negatives: broadcast anchors, label-mismatch filter BEFORE the per-anchor rank window"),
    ("e30_pit_join", "point-in-time join: SCD2 build + as-of union ride the SAME user-keyed sort-merge shape"),
    ("a30_ks_test", "KS test: broadcast arm fan-out; CDF sort, both cumulative windows, and max-agg share ONE group-keyed exchange"),
    ("a31_psi_drift", "PSI drift: 16 pivoted bin counts in one map-side-combined agg; flat literal PSI chain"),
    ("d19_duplicate_windows", "duplicated windows: map-side (doc, window) collapse; support join co-partitioned on the window key"),
    ("p02_pretraining_mix", "pretraining mix: zero-shuffle repetition gate fused into the scan + one lang-keyed budget window"),
    ("q30_large_volume_orders", "Q18 shape: HAVING-pruned quantity agg feeds the joins; top-100 is TakeOrderedAndProject"),
    ("q31_dormant_rich_customers", "Q22 shape: global average folded to a literal (no BNLJ); anti-join on a payload-free projection"),
    ("s14_pq_adc_topk", "ADC search: melted 3-int code rows join the broadcast query lookup table; one map-side sum + rank"),
    ("q32_sole_fault_suppliers", "Q21 shape: fact self-joined twice as LeftSemi + LeftAnti on one order key, top-100 via TakeOrdered"),
    ("a34_polymorphic_udtf", "polymorphic UDTF: analyze-time schema plans typed columns; one Python eval feeds a JVM hash agg"),
    ("a35_arrow_batch_stats", "mapInArrow: 2-column pruned scan into one Arrow-kernel batch op — no pandas, no shuffle"),
    ("d20_bloom_prescreen", "bloom pre-screen: int-position semi-joins; text never shuffles"),
    # the per-round count+rank lives BEHIND the per-round
    # localCheckpoints (lineage deliberately truncated) — the final
    # plan shows only the checkpointed label frame
    ("g07_label_propagation", "label propagation: checkpointed label frames, per-round count + rank on one node-keyed exchange"),
    ("w07_gini_concentration", "gini: rank window and 3-scalar close share ONE nation-keyed exchange"),
    ("t27_heavy_phrases", "heavy hitters: MG candidate sketch in mapInPandas, broadcast semi-join, exact count — the one exchange carries candidates only"),
    ("d21_topk_neighbors", "top-k neighbors: d03's capped inverted index feeds a doc-keyed rank window — output bounded at k rows/doc"),
    ("d22_containment_topk", "containment top-k: d16's symmetric candidate agg feeds a src-keyed rank window — bounded directional output"),
    ("a32_png_pixel_stats", "PNG pixel stats: generate + decode stay inside ONE mapInPandas pair; 3 integer rows per image leave the executor"),
    ("a33_wav_sample_stats", "WAV sample stats: RIFF decode inside mapInPandas; one integer row per clip leaves the executor"),
    ("t29_weighted_sample", "weighted sample: codegen score, TakeOrderedAndProject top-k — no shuffle of the data"),
    ("e33_variant_extract", "variant extract: parse_json once, binary variant accesses; same single map-side-combined agg as e04"),
    # the per-round argmax actions live BEHIND the per-round
    # localCheckpoints (the g07 pattern) — the final plan is the
    # driver-built merge table
    ("t28_bpe_train", "BPE train: per-round pair count + TakeOrdered(1) behind checkpoints; output is the learned merge table"),
    ("t31_bpe_apply", "BPE apply: learned rules folded to literals — tokenization is one narrow chained-replace projection, zero exchange"),
    ("q33_front_loaded_supply", "Q20 shape: both correlated scalar sums DECORRELATED into one conditional aggregate — one fact scan, one (part,supp) exchange"),
    ("q34_bucketed_colocated_join", "bucketed co-located join: both scans Bucketed: true — SortMergeJoin with zero Exchange before it"),
    ("w08_sliding_distinct_users", "sliding distinct users: lag-bounded contribution explode (<=7 rows per first-activity run), plain SUM per window end — no range join, no distinct agg"),
    ("e34_last_touch_attribution", "last-touch attribution: one user-keyed IGNORE-NULLS window carry; the lookback cutoff is a row-local predicate"),
    ("a36_mann_whitney", "Mann-Whitney: rank-free U from per-value histograms — the cumulative window runs over distinct VALUES, never the fact table; integer-exact significance"),
    ("q35_dynamic_partition_pruning", "dynamic partition pruning: runtime dynamicpruningexpression partition filter on the fact scan, fed by the reused dim broadcast"),
    ("a37_hll_distinct_store", "portable HLL store: integer register pipeline in map-side-combined aggs; day shards merged by MAX; one tiny per-group close"),
    ("a38_interval_overlap_join", "interval overlap join: exploded-bucket equi-join + first-overlap-bucket dedup — no nested loop, no distinct pass"),
    ("d23_semantic_decontamination", "semantic decontamination: eval chunk keys broadcast against the streaming corpus side — bipartite probe, no corpus x corpus term"),
    ("t32_curriculum_bins", "curriculum bins: map-side entropy collapse, lang-partitioned NTILE (distributed range sort), 15-row close"),
    ("q36_top_supplier", "Q15 shape: global-max window over the |suppliers|-row AGGREGATE, never the fact table; broadcast name join"),
    # EM rounds live BEHIND per-round localCheckpoints (the t28/g07
    # pattern): the final plan is the trained-vocab projection
    ("t33_unigram_lm_train", "unigram-LM train: per-EM-round Viterbi scan of the distinct-word table behind checkpoints; one scan per round, score dict broadcast in the UDF closure"),
    ("w09_weekly_rank_movers", "rank movers: two window axes (within-week rank, per-type lag) over ONE tiny weekly aggregate"),
    ("q37_zorder_box_scan", "Z-order box scan: both box predicates pushed to the clustered layout's parquet footer stats — scan cost tracks selectivity, not table size"),
    ("q38_small_quantity_revenue", "Q17 shape: correlated 0.2·AVG decorrelated onto a window over the SAME partkey exchange the filtered rows need — ONE fact scan, broadcast part dim"),
    ("q39_important_part_values", "Q11 shape: global (total, count) scalar pair aggregated from a localCheckpointed per-part frame and broadcast back — the scalar branch never re-scans the fact"),
    ("a39_moment_store", "moment store: exact cents power sums in map-side-combined aggs; day shards merged by ADDITION; tiny per-group close"),
    ("a40_quantile_store", "quantile store: fixed-fencepost counts merged by addition; cumulative picks, full-outer merge proof, rank-r bracket — all on group-keyed exchanges"),
    ("a41_comoment_store", "co-moment store: six integer registers in ONE map-side agg; DECIMAL(38,0) merges emitted string-exact past 2^53"),
    # the min-label passes live BEHIND the pinned-width materialization
    # (the g01/g07 pattern) — the final plan is the cached label frame
    ("g08_connected_components", "connected components: hash-min passes behind the pinned-width cache; histogram + converged flag over the cached label frame"),
    ("a42_quantile_store_compact", "store compaction (SUM monoid): day->month->merged is three stacked map-side-combined HashAggregates — compaction is the merge applied at rest, no extra scan shape"),
    ("a43_hll_store_compact", "store compaction (MAX monoid): register MAX folds day->month->merged; idempotent re-aggregation, same one-scan register build as a37"),
    ("a45_comoment_store_compact", "co-moment compaction month->quarter: DECIMAL(38,0) lifted at the compaction grain, shard-count riding as an additive register"),
    ("e44_quantile_store_reopen", "cross-session reopen: the closure's shard side is a bare parquet scan of the persisted day-partitioned store — no lineage back to events"),
]


# plan property each showcase demonstrates — checked to be PRESENT
MUST_CONTAIN = {
    "q01_pricing_summary": ("PushedFilters: [IsNotNull(l_shipdate)",),
    "q03_top_orders": ("BroadcastHashJoin", "TakeOrderedAndProject"),
    "q05_region_revenue": ("BroadcastHashJoin",),
    "q04_order_priority": ("LeftSemi",),
    "q02_min_cost_supplier": ("Window",),
    "q09_nation_year_profit": ("BroadcastHashJoin",),
    "q10_returned_items": ("TakeOrderedAndProject", "PushedFilters: [IsNotNull(l_returnflag)"),
    "q26_volume_shipping": ("BroadcastHashJoin",),
    "d01_exact_dedup": ("HashAggregate",),
    "d07_decontamination": ("BroadcastHashJoin",),
    "d08_incremental_dedup": ("LeftAnti",),
    "s01_cosine_topk": ("BroadcastExchange",),
    "s02_lsh_ann_topk": ("BroadcastHashJoin",),
    "w01_rank_orders": ("Window",),
    "e01_tumbling_window": ("HashAggregate",),
    "m01_wordcount": ("ReadSchema: struct<text:string>",),
    "d09_snapshot_upsert": ("LeftAnti", "BroadcastExchange"),
    "a16_fuzzy_join": ("levenshtein",),
    "t12_token_budget_mix": ("Window",),
    "a19_dq_report": ("LeftAnti",),
    "t13_bm25_topk": ("TakeOrderedAndProject", "BroadcastExchange"),
    "e17_rollup_cascade": ("InMemoryTableScan",),
    "d10_snapshot_diff": ("xxhash64", "FullOuter"),
    "g01_pagerank": ("InMemoryTableScan",),
    "d11_line_dedup": ("LeftAnti",),
    "t16_stratified_sample": ("ReadSchema: struct<doc_id:bigint,lang:string>",),
    "a21_mad_outliers": ("BroadcastHashJoin", "percentile"),
    "t17_unigram_logprob": ("InMemoryTableScan",),
    "t18_tfidf_keywords": ("Window",),
    "a22_equidepth_histogram": ("BroadcastHashJoin", "percentile"),
    "d05_simhash_pairs": ("bit_count", "HashAggregate"),
    "s03_embedding_neardup": ("bit_count", "InMemoryTableScan"),
    "t19_bpe_pair_counts": ("TakeOrderedAndProject", "HashAggregate"),
    "t20_sequence_packing": ("Window", "ReadSchema: struct<doc_id:bigint,text:string,lang:string>",),
    "d12_incremental_neardup": ("LeftSemi", "LeftAnti", "BroadcastExchange"),
    "d13_lsh_index_probe": ("LeftSemi", "BroadcastExchange"),
    "e22_interpolate": ("Window",),
    "a24_spearman_corr": ("Window",),
    "a25_association_rules": ("BroadcastHashJoin", "LeftSemi"),
    "e25_markov_transitions": ("Window", "HashAggregate"),
    "s09_kmeans": ("InMemoryTableScan",),
    # containment_pairs materializes its scores with an eager
    # localCheckpoint inside pin_width, so the query's plan reads the
    # checkpoint (Scan ExistingRDD), not the shingle aggregate
    "d16_containment_pairs": ("Scan ExistingRDD",),
    "t22_bigram_logprob": ("InMemoryTableScan", "HashAggregate"),
    # the per-round semi-joins live BEHIND the per-round
    # localCheckpoints (deliberate: the loop's lineage is truncated),
    # so the final plan shows only the checkpointed legs + union
    "g06_kcore_peel": ("localCheckpoint", "Union"),
    # deliberately window-only: the run collapse is a (key, version)
    # count window + run-start filter, NOT a groupBy — one exchange
    # end-to-end (a groupBy formulation planned three)
    "e28_scd2_history": ("Window",),
    "e29_seasonal_anomaly": ("BroadcastHashJoin",),
    "t25_repeated_ngrams": ("Scan parquet",),
    "s13_hard_negatives": ("BroadcastNestedLoopJoin", "Window"),
    "e30_pit_join": ("Window", "Union"),
    "a30_ks_test": ("Window", "HashAggregate"),
    "a31_psi_drift": ("HashAggregate",),
    "d19_duplicate_windows": ("HashAggregate",),
    "p02_pretraining_mix": ("Window",),
    "q30_large_volume_orders": ("TakeOrderedAndProject",),
    "q31_dormant_rich_customers": ("BroadcastHashJoin",),
    "s14_pq_adc_topk": ("BroadcastHashJoin", "Window"),
    "q32_sole_fault_suppliers": ("LeftSemi", "LeftAnti", "TakeOrderedAndProject"),
    "a34_polymorphic_udtf": ("HashAggregate",),
    "a35_arrow_batch_stats": ("MapInArrow", "ReadSchema: struct<doc_id:bigint,text:string>"),
    "d20_bloom_prescreen": ("HashAggregate",),
    "d22_containment_topk": ("Window", "HashAggregate"),
    "g07_label_propagation": ("localCheckpoint",),
    "w07_gini_concentration": ("Window",),
    "q33_front_loaded_supply": ("LeftSemi", "HashAggregate"),
    "q34_bucketed_colocated_join": ("SortMergeJoin", "Bucketed: true"),
    "w08_sliding_distinct_users": ("Window", "Generate"),
    "e34_last_touch_attribution": ("Window",),
    "a36_mann_whitney": ("Window", "HashAggregate"),
    "q35_dynamic_partition_pruning": ("dynamicpruningexpression", "PartitionFilters"),
    "a37_hll_distinct_store": ("HashAggregate",),
    "d23_semantic_decontamination": ("BroadcastHashJoin", "localCheckpoint"),
    "t32_curriculum_bins": ("Window", "HashAggregate"),
    "t33_unigram_lm_train": ("Scan ExistingRDD",),
    "q36_top_supplier": ("Window", "BroadcastHashJoin"),
    "w09_weekly_rank_movers": ("Window", "HashAggregate"),
    "q37_zorder_box_scan": ("PushedFilters", "GreaterThanOrEqual(l_partkey"),
    # the equi component on the bucket id must carry the join — a bare
    # inequality would plan BNLJ/cartesian on two fact sides. At
    # fixture scale the tiny incidents side makes it a BroadcastHASH
    # join (SMJ at 100 TB — same bucket key either way); "HashJoin"
    # matches broadcast/shuffled-hash and excludes BNLJ
    "a38_interval_overlap_join": ("HashJoin", "Generate"),
    "q38_small_quantity_revenue": ("BroadcastHashJoin", "Window"),
    # localCheckpointed per-part aggregate surfaces as Scan ExistingRDD
    "q39_important_part_values": ("Scan ExistingRDD",),
    "a39_moment_store": ("HashAggregate",),
    "a40_quantile_store": ("Window", "FullOuter"),
    "a41_comoment_store": ("HashAggregate",),
    "g08_connected_components": ("InMemoryTableScan",),
    "a42_quantile_store_compact": ("HashAggregate",),
    "a43_hll_store_compact": ("HashAggregate",),
    "a45_comoment_store_compact": ("HashAggregate",),
    # the reopened store must scan the persisted parquet files
    "e44_quantile_store_reopen": ("Scan parquet", "FullOuter"),
}


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def dump_each(spark, reg, sf_dir: str, outdir: str, suffix: str, names: list[str]) -> None:
    os.makedirs(outdir, exist_ok=True)
    for name in names or sorted(load_all()):
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        try:
            plan = _formatted(reg[name].fn(spark, sf_dir))
        except Exception as exc:
            plan = f"SKIP: {type(exc).__name__}: {exc}"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}", flush=True)


def main() -> None:
    if len(sys.argv) == 3:
        raise SystemExit("an output directory needs a suffix: see the module docstring")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reg = load_everything()
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 3:
        dump_each(spark, reg, sf_dir, sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    out = ["# Physical plans (generated by tools/dump_plans.py)\n"]
    problems = []
    for name, note in SHOWCASE:
        p = _formatted(reg[name].fn(spark, sf_dir))
        if "CartesianProduct" in p:
            problems.append(f"{name}: CartesianProduct in plan")
        # s01/q17 intentionally cross-join against a tiny broadcast side
        # (query set / 1-row aggregate) — BNLJ is the right plan there;
        # a16's BNLJ is the gram-poor sidecar (both sides bounded small
        # by construction, right side broadcast — see fuzzy_join doc);
        # t13's BNLJ is the 1-row corpus-stats broadcast
        # a36's BNLJ is the control-histogram fan-out against the
        # broadcast handful of group NAMES (|arms| rows)
        # q39's BNLJ is the 1-row (total, count) scalar broadcast;
        # g08's is the 1-row converged-flag broadcast
        if "BroadcastNestedLoopJoin" in p and name not in ("q17_above_avg_parts", "s01_cosine_topk", "s02_lsh_ann_topk", "a16_fuzzy_join", "t13_bm25_topk", "s13_hard_negatives", "a30_ks_test", "a36_mann_whitney", "q39_important_part_values", "g08_connected_components"):
            problems.append(f"{name}: BroadcastNestedLoopJoin in plan")
        # positive assertions: the plan property each showcase exists
        # to demonstrate must actually be in the plan, so a regression
        # (lost broadcast, unpushed filter, global sort for top-k)
        # fails this tool instead of only showing up at 100 TB
        for needle in MUST_CONTAIN.get(name, ()):
            if needle not in p:
                problems.append(f"{name}: expected '{needle}' in plan")
        out.append(f"## {name}\n\n_{note}_\n\n```\n{p}\n```\n")
    # --- runtime bloom-filter demonstration (the 100 TB shuffle-join
    # configuration): at fixture scale every lineitem⋈orders join
    # BROADCASTS (64 MB threshold), and runtime filters don't apply to
    # broadcast joins — so this section forces the shuffle-join shape a
    # 100 TB run would have and shows Spark injecting a bloom filter
    # (might_contain on the lineitem scan) from q03's selective orders
    # side. Measured at sf0.1 the bloom build/probe overhead exceeds
    # the scan savings (0.91 s vs 0.76 s), so the session does NOT
    # lower the default thresholds: at cluster scale the defaults
    # (10 MB creation / 10 GB application side) trigger it exactly
    # where it pays, with zero config from this engine.
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "128mb",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1kb",
    }
    with scoped_conf(spark, confs):
        p = _formatted(reg["q03_top_orders"].fn(spark, sf_dir))
        if "might_contain" not in p and "bloomfilter" not in p.lower():
            problems.append("bloom-demo: no runtime bloom filter injected into q03 under shuffle-join config")
        out.append(
            "## q03_top_orders under the 100 TB shuffle-join configuration\n\n"
            "_runtime bloom filter injected from the filtered orders side into the lineitem scan "
            "(broadcast disabled to force the at-scale shuffle-join shape; see session.py for why "
            "the defaults are kept at fixture scale)_\n\n"
            f"```\n{p}\n```\n"
        )
    os.makedirs("docs", exist_ok=True)
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    if problems:
        print("PLAN PROBLEMS:")
        for pr in problems:
            print(" -", pr)
        raise SystemExit(1)
    print(f"wrote docs/PLANS.md ({len(SHOWCASE)} plans, no cartesian/NLJ)")


if __name__ == "__main__":
    main()
