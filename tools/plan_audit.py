"""Dump the executed physical plans of headline queries into PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]

Run after changing any operator: the committed PLANS.md is the reviewable
record that scans prune + push down, dimensions broadcast, aggregations are
partial, and top-k avoids global sorts.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_web_mapreduce_spark.queries import REGISTRY  # noqa: E402
from go_web_mapreduce_spark.session import get_spark  # noqa: E402

HEADLINERS = {
    "q_filter_project": "filter + projection pushdown into the parquet scan",
    "q_group_agg": "partial (map-side) + final hash aggregation",
    "q_multi_join": "star join: every dimension broadcast, fact never shuffled pre-join",
    "q_repartition_join": "equi-join under AQE (broadcast at this size; sort-merge at scale)",
    "q_topk": "top-k via TakeOrderedAndProject (per-partition heap, no global sort)",
    "q_window_rank": "ranking window: single shuffle on the partition key",
    "q_similarity_topk": "brute-force cosine: one corpus scan, probe broadcast, no shuffle",
    "q_dedup_minhash": "MinHash LSH: map-side signatures, one shuffle on band keys",
    "q_events_hourly": "time bucketing: partial agg on (window, type)",
    "q_exists_subquery": "correlated EXISTS decorrelated to a semi join",
    "q_range_join": "interval join: broadcast NLJ, fact side never shuffles",
    "q_window_frames": "bounded rows + time-range frames: one shuffle, one sorted pass",
    "q_session_window": "native session windows: single shuffle on (key, session merge)",
    "q_salted_join": "planned skew mitigation: salted big side, exploded small side",
    "q_tfidf": "tf-idf: two aggregations + broadcast-able join on word",
    "q_upsert": "merge/upsert: union + per-key version rank, one shuffle",
    "q_dedup_incremental": "batch vs seen-hash index: left join on hash, no corpus-body shuffle",
    "q_chunk_documents": "context-window chunking: map-side explode, zero exchanges",
    "q_scd2": "SCD2 change intervals: one exchange on user_id reused by both window passes",
    "q_pii_redact": "regex redaction audit: codegen projection, nation dim broadcast",
    "q_zorder_cluster": "Morton clustering key: pure integer codegen + 64-key partial agg",
    "q_top_revenue": "TPC-H Q3 shape: pushdown + partial agg + TakeOrdered top-10",
    "q_skyline": "Pareto frontier: per-size max + running-max window, no quadratic join",
    "q_funnel": "conversion cascade: per-slice shuffles, every exchange keyed on user_id",
    "q_global_sort": "TeraSort shape: range shuffle + local sort + count prefix sum, no global window",
    "q_pagerank": "fixed-iteration PageRank: checkpointed edge fractions, per-round join + agg shuffles",
    "q_ml_linreg": "closed-form regression: decimal moment sums, partial agg, one shuffle",
    "q_knn_graph": "exact kNN graph: block grid + local top-k, window rank on bounded candidates",
    "q_sequence_pack": "sequence packing: per-shard prefix-sum window, parallel across shards, no global sort",
    "q_decontaminate": "eval decontamination: eval shingles broadcast, train corpus never shuffles pre-flag",
    "q_perplexity_filter": "LM rarity filter: two corpus-bounded LM aggs + one doc-bigram join shuffle",
    "q_bpe_merge_step": "BPE merge step: wordcount shuffle, vocab-sized pair agg, TakeOrdered top-20",
    "q_corpus_pipeline": "end-to-end funnel: quality gate map-side, one text shuffle for the keeper, eval broadcast for decontamination",
    "q_dense_grid": "explicit cross join: dimension-only cartesian (BroadcastNestedLoopJoin), facts pre-aggregated",
    "q_unpivot": "wide-to-long melt: Expand node, zero reshaping shuffle, small-key partial agg",
    "q_bloom_join": "manual runtime filter: bloom bit-tests prefilter the fact scan before the broadcast join",
    "q_approx_distinct": "portable HLL: register table partial-aggregated map-side, <=4096 rows/group shuffled",
    "q_triangle_count": "degree-ordered wedges: checkpointed oriented edges, equi-joins only, no unbounded fan-out",
    "q_interval_merge": "interval coalescing: ONE exchange on user_id reused by both windows and both aggs",
    "q_rank_fusion": "hybrid RRF: each leg an independent TakeOrdered retrieval; rank windows + full-outer join touch only two bounded lists",
    "q_weighted_sample": "A-ES weighted sampling: map-side ln(u)/w keys + TakeOrderedAndProject, corpus never shuffles",
    "q_anomaly_mad": "Hampel outlier gate: two percentile aggs with medians broadcast back between passes, zero corpus shuffles",
    "q_substring_dedup": "ExactSubstr span stats: ONE scan + ONE Arrow kernel, global counts via window over the gram hash (no self-join)",
    "q_heavy_hitters_cms": "count-min sketch: fixed-size (j,bucket) partial agg, counter table broadcast to the probe join",
    "q_embed_quantize": "int8 quantization: pure codegen transform+fold, scale materialized as a column, single per-label exchange",
    "q_ngram_diversity": "diversity census: two column-pruned legs (deliberate vs checkpointing tokens), 60-bit gram hashes, 20-row source join",
    "q_source_overlap": "source leakage matrix: one distinct (source,gh) shuffle, in-row pair expansion bounded by the source dimension, sizes broadcast",
    "q_dsir_weights": "DSIR weights: 4096-key bucket stats + (doc,bucket) counts off one gram scan, log-ratio table broadcast back, only integer triples shuffle",
    "q_nearest_centroid": "nearest centroid: exact-decimal centroid agg, labels-x-dim table broadcast, map-side fold distances, tiny-key confusion agg",
    "q_lpa_communities": "label propagation: checkpointed integer-weight edges, per-round src-join + (node,label) vote shuffles, struct-min argmax",
    "q_auc_eval": "exact AUC: (source,score) partial agg, cumulative window over DISTINCT scores only, per-source fold - corpus never sorted",
    "q_jackknife_ci": "jackknife folds: one integer-cent corpus agg to (flag,fold), everything after fold-sized",
    "q_bootstrap_ci": "Poisson bootstrap: ONE scan, 2x32 replicate sums as aggregate columns, stack unpivot of a 3-row result - no explode, no 32x shuffle",
    "q_chi2_tokens": "chi2 selection: one distinct presence shuffle feeding three shared aggs, lang totals broadcast, vocab-sized window",
    "q_ks_drift": "KS drift: (source,value) partials, CDF grid = values x sources via broadcast cross join, per-source window cumsum",
    "q_negative_sampling": "inverse-CDF sampling: bucketed range join (bucket count = vocab size), one equi-join shuffle - no nested-loop inequality join",
    "q_markov_transitions": "session transition matrix: ONE user_id exchange reused by the lag and lead windows, |types|^2 normalize window",
    "q_dedup_containment": "containment pairs: same single posting-list shuffle as jaccard, intersection free from the pair count",
    "q_js_divergence": "JS drift: (source,token) agg + vocab-marginal join, absent-token mass folded algebraically - no source x vocab grid",
    "q_ab_ztest": "A/B read-out: one (type,user) corpus shuffle, then types x 2 decimal moments and a types-sized self-join",
    "q_spearman": "Spearman: per-order agg, two midrank windows sharing the flag partitioning, 5-moment reduce",
    "q_trend_mk": "Mann-Kendall: one corpus agg to daily counts, day-pair self-join on the dimension-sized series only",
    "q_cross_entropy": "unigram-LM shift: (source,token) agg + vocab-marginal join, smoothing constant folded out of the join",
    "q_cusum_changepoint": "CUSUM: one corpus agg, decimal-exact cumulative window on the daily series, types-sized argmax",
    "q_gini": "Gini: (nation,customer) agg, per-nation rank window, integer-cent rank-weighted sums",
    "q_benford": "Benford: ONE scan to a 9-row digit census via string head; 9-row arithmetic after",
    "q_winsorized_mean": "winsorized mean: value census + dimension-sized rank selection, cuts broadcast back, one decimal pass",
    "q_pr_curve": "PR curve: (source,score) partials, cumulative windows over DISTINCT scores, source-sized AP reduce",
    "q_self_bleu": "self-BLEU: three explode scans to (source,n,gram) counts, marginal join, sources x 3 reduce - no pairwise sources",
    "q_kaplan_meier": "KM survival: one user agg, then everything on the distinct-duration grid; log-space decimal cumulative",
    "q_lift_association": "basket lift: one user_id sessionize shuffle, within-basket pair join bounded by sessions x types^2",
    "q_autocorrelation": "ACF: one corpus agg to the daily grid; lag self-join and moments on the dimension-sized series",
    "q_mcnemar": "McNemar: ONE scan computing both verdicts + truth, integer discordance partials per source",
    "q_group_split": "group split: map-side bucket from md5(user), one (split,user) agg",
    "q_theil_sen": "Theil-Sen: one corpus agg; the definitional days^2 pair join runs on the dimension-sized series",
    "q_seasonal_profile": "seasonality: one corpus agg to the daily grid; profile/moments/residuals on types x 7 tables",
    "q_conformal_threshold": "conformal: centroids from decimal sums, broadcast scoring scan, per-label rank threshold on calibration only",
    "q_adamic_adar": "link prediction: checkpointed distinct edges, center-keyed wedge self-join, anti-join vs edges, TakeOrdered top-20",
    "q_passage_dedup": "passage keep-first dedup: map-side explode, one hash groupBy with partial min, equi-join back",
    "q_naive_bayes": "naive Bayes: (class,word) model groupBy map-side combined, 5-row prior/total/vocab broadcasts, doc-keyed argmax",
    "q_image_dedup_phash": "perceptual image dedup: one decode+hash mapInPandas, pinned (hash,source) census, source rollup",
    "q_profile_table": "table profiler: one column-pruned single-row aggregate per column, unioned; per-column DISTINCT is the only wide agg",
    "q_holt_forecast": "Holt forecast: one corpus agg to the (type,day) grid, fold + forecasts on the dimension-sized series",
    "q_item_cf": "item-item CF: distinct baskets (shared with copurchase_edges), orderkey-keyed pair join (bounded fan-out), degree joins, per-item window top-k",
    "q_ctfidf_terms": "c-TF-IDF: pinned (source,token) census, class totals broadcast, vocab-sized token-total join + window",
    "q_classification_report": "classification report: ONE confusion census behind a checkpoint read by both marginals, broadcast join, classes^2 arithmetic",
    "q_readability": "Flesch banding: three codegen regex counters map-side, (source,band) partial agg, zero Python",
    "q_stl_decompose": "seasonal decomposition: one corpus agg to the hourly grid, +/-12h window per event type on the grid, integer detrend",
    "q_itemsets3": "Apriori triples: one basket-key shuffle reused by both levels, broadcast semi-join prunes, ppm thresholds",
    "q_random_projection": "JL projection: zero exchanges, pruned 2-column scan, quantize + 16 signed folds in one codegen pass",
    "q_ohlc_bars": "OHLC bars: min_by/max_by value picks partial-aggregated map-side, one (type,hour) shuffle, no window",
    "q_kcenter_sample": "k-center: per-round map-side least() fold + one-candidate-per-partition argmax, k-row driver state",
    "q_mmr_diversify": "MMR re-rank: map-side probe dots + TakeOrdered top-32 pool; sequential greedy on the bounded collect",
    "q_twap": "TWAP: ONE (user,day) window pass then partial agg on the same key, integer microsecond x value weights",
    "q_graph_modularity": "modularity: one edge pass, broadcast brand labels, community census with exact bigint contributions",
    "q_graph_assortativity": "assortativity: degree census + two node-keyed joins, five integer moments to a single row",
    "q_l_diversity": "l-diversity: custkey join, QI-bounded count_distinct census, nation rollup - only QI keys shuffle",
    "q_stream_sliding": "sliding stream: in-batch window expansion, state = windows x types, watermark-bounded",
    "q_target_encoding": "LOO target encoding: segment census broadcast back, (sum-own)/(n-1) map-side - the per-row window algebraically removed",
    "q_weighted_median": "weighted median: (brand,price) value census, cumulative window over distinct prices only, integer threshold pick",
    "q_als_user_step_bcast": "ALS user step, production shape: per-part factor table broadcast into lines, per-order Gram fold, per-user resum",
    "q_similarity_ivfpq_scaled": "IVFPQ at the 200k operating point: same list-pruned ADC + rerank plan, fraction-scaled knobs from pick_config",
    "q_kmv_distinct": "KMV bottom-k sketch: one distinct shuffle, WindowGroupLimit rank<=k, (k-1)M/h_k estimate",
    "q_hhi": "HHI concentration: per-supplier partial fold, broadcast dims, decimal(38) sum of squares, two IEEE divisions",
    "q_cramers_v": "Cramer's V: one census aggregation, 5x25 margin grid cross join (dimension-only), decimal-cast chi^2 fold",
    "q_kruskal_wallis": "Kruskal-Wallis: one (group,value) census, midranks from the <=50-row value grid, decimal tie terms",
    "q_simpson_diversity": "Simpson diversity: (source,lang) census, integer pair counts, three single divisions",
    "q_cuped_adjust": "CUPED: per-user conditional-sum fold, pooled decimal(38) moments, theta broadcast to the arm rollup",
    "q_feature_hashing": "hashing trick: explode + ONE doc-keyed partial-agg shuffle, 16 signed CASE folds, no vocab pass",
    "q_huber_mean": "Huber IRLS x2: corpus re-scans joined to broadcast |brands| estimates, decimal-cast weighted sums",
    "q_kneser_ney": "Kneser-Ney bigrams: one bigram census shuffle, marginals from the census, single integer-ratio division, TakeOrdered 20",
    "q_vocab_coverage": "vocab coverage: token census top-V broadcast back, per-lang membership rollup, two document scans",
    "q_path_analysis": "session paths: one user-time sort serves sessionize + opening rank (WindowGroupLimit), |types|^3 census, TakeOrdered",
    "q_dedup_incremental_minhash": "incremental LSH dedup: batch bands equi-join the seen index's band buckets, disjoint pushed doc_id scans, only (bk,id,sig) rows shuffle",
    "q_cross_rerank": "RAG rerank: fused top-20 checkpointed, candidate ids broadcast into both corpus scans, features + rank on the bounded list",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=4)
    out = [
        "# PLANS — executed physical plans of headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`. Regenerate after",
        "operator changes; tests/test_plans.py asserts the load-bearing",
        "properties mechanically.",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out += [f"## {name}", "", f"*{why}*", "", "```", plan.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
