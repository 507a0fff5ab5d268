"""Shuffle-budget regression guard for every bench-tagged query.

Each entry pins the number of SHUFFLE Exchange operators in the compiled
plan at sf0.001 (engine session, shuffle_partitions=4). A failure means
a code change added a shuffle to a hot query — the exact regression
class that is invisible at test scale and dominant at 100 TB. Budgets
are the MEASURED counts (not aspirational); lowering one is an
improvement, raising one needs a reviewed justification.

Only true shuffles count: the ``\\bExchange `` regex matches the
standalone operator name but not ``BroadcastExchange`` or
``ReusedExchange`` (no word boundary inside an identifier), so replacing
a shuffle with a broadcast — an improvement — can never trip the guard.

pagerank_topk budgets 0 because its returned plan reads the final
localCheckpoint — its per-iteration shuffles (one per round, asserted in
test_graph.py semantics) happen during construction, not in the
returned plan. ivf_kmeans_topk/ivfpq_topk/pq_topk similarly budget 0:
their fits run eagerly during construction (one keyed shuffle per Lloyd
iteration, pinned by the operators' own docs) and the returned plan is
broadcast-assignment + TakeOrderedAndProject.
"""

import re

import pytest

from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, queries

from .conftest import SF_SMALL

queries()  # force registration

BUDGETS = {
    # per-user conversion aggregate materialized once into the 2-row
    # checkpointed arms relation; everything downstream is broadcast.
    "ab_conversion_ztest": 1,
    "acf_lag_profile": 4,
    # token-length scan -> source rollup -> k-row term rollup ->
    # single-row moments.
    "anova_f_sources": 3,
    "active_semijoin": 1,
    "aqi_bundle": 1,
    "aqi_profile": 3,
    "asof_last_purchase": 2,
    # Returned plan is the post-checkpoint histogram (per-round
    # frontier-join shuffles happen during construction, like pagerank).
    "bfs_reachability": 2,
    # bigram explode feeds BOTH the model agg and the scoring join (the
    # model subtree prints under each consumer); real movement is the
    # model count agg + the per-doc rollup + the per-source rollup.
    "bigram_lm_familiarity": 9,
    # One bitmap build replayed per consumer branch (click/view/totals)
    # — identical subtrees, runtime-reused; real movement is the (type,
    # word) aggregate + the exact-audit distincts.
    "bitmap_intersection": 8,
    # +1 r11: spread parallelism floor ahead of the 3x salted-md5
    # membership test (no-op exchange at scale — tables.spread).
    "bloom_semijoin_reduction": 3,
    # spread + (doc,term) tf agg + df re-agg printed once per consumer
    # branch (identical subtrees, runtime-reused) + scalar profile +
    # final TakeOrdered staging.
    "bm25_topk": 8,
    # per-round spelled vocab checkpointed (pair argmax + rewrite both
    # read it); budget = word count + (source, word) count + rollup.
    "bpe_encode_apply": 3,
    # daily count shuffle + the calendar-bounded rolling-window staging
    # (dimension-bounded global frame, cusum waiver).
    "bollinger_bands_daily": 2,
    "bpe_token_stats": 0,
    # the (source, word) count subtree prints under all four consumers
    # (source counts, totals, corpus dim, grand total — identical
    # subtrees, runtime-reused); real movement is the one count shuffle
    # + the per-source rollup.
    "chisq_source_drift": 13,
    # spread + md5-window + per-doc rollup + output sort.
    "chunk_dedup_stats": 4,
    # per-source manifest rollup (countDistinct expand pair) + sort.
    "claim_check_manifest": 3,
    # one collect_set shuffle on user_id + the (cohort, offset) rollup +
    # the final range sort (was 7 with the distinct/re-join/
    # count-distinct formulation).
    # user-keyed capture-flag aggregate + single-row rollup.
    "capture_recapture_estimate": 2,
    # cohort min-week pass + sizes/revenue rollups + the cohort-keyed
    # LTV window + output sort (checkpointed ev feeds both passes).
    "cohort_ltv_curve": 5,
    "cohort_retention": 4,
    "conditional_counts": 2,
    # 1 pair-agg + the (order, part) distinct printed once per join side
    # (identical subplans — AQE ReuseExchange dedups them at runtime).
    # The distinct is the correctness fix: an order holding a part twice
    # must not double-count its pairs.
    # source-keyed cumulative window + per-source audit rollup.
    "compaction_bin_plan": 2,
    "copurchase_pairs": 3,
    # ONE moment-aggregate pass (checkpointed 1-row relation feeds all
    # six pair rows); the only exchange is the final tiny sort.
    "correlation_matrix": 1,
    "corpus_prep_stats": 3,
    # chunk window + per-doc rollup + doc join + per-lang window + final
    # rollup/sort (spread exchange included).
    "corpus_prep_v2": 6,
    # dup window + shingle semi-join/agg + doc re-join + source rollup
    # (spread exchange + eval-dim distinct included).
    "corpus_release_gate": 8,
    "cosine_topk": 0,
    "cube_segments": 1,
    # daily count shuffle + the event_type window layout + final sort;
    # the argmax pick reuses the ordered-window partitioning.
    # cells rollup + broadcast marginal branches (rowm/colm/tot) +
    # final grid rollup; the grid itself rides broadcasts.
    "cramers_v_association": 5,
    "cusum_changepoint": 3,
    "daily_topk": 1,
    "date_partition_rollup": 2,
    # orders-lineitem join on the order key + part rollup; anchor rides
    # a broadcast; TakeOrderedAndProject top-20.
    "decayed_popularity_topk": 2,
    "decontaminate_ngrams": 3,
    "dedup_best_survivor": 2,
    # pairs distinct + degree rollup + two edge-degree joins (degree dim
    # is node-sized, not broadcastable at scale) + moment/node rollups.
    "degree_assortativity": 6,
    "dedup_quality_shift": 4,
    # Returned plan reads the checkpointed pairs/comp/border relations
    # (the star-contraction rounds run during construction, like
    # pagerank); budget = the cluster/border/noise rollups + final sort.
    "dbscan_grid_clusters": 7,
    # daily agg + single-row DW fold off the checkpointed series.
    "durbin_watson_daily": 2,
    "dup_clusters": 1,
    # alias of dup_clusters (one function), so the same measured count
    "dup_clusters_star": 1,
    # spread + content-hash window + per-doc run window + output sort
    # (span and per-doc aggregates fuse into the doc-window stage).
    "duplicate_span_stats": 4,
    "embedding_blocked_topk": 1,
    # posexplode -> (label, dim) aggregate (checkpointed, bounded by
    # labels x dims), global rollup off the checkpoint, label rollup +
    # output sort.
    "embedding_centroid_drift": 3,
    "embedding_dim_profile": 2,
    "enrich_metadata": 1,
    # eval-shingle build replayed per overlap branch (binary + graded);
    # the corpus side is scanned once, eval dim is broadcast.
    "eval_overlap_fraction": 7,
    # daily aggregate + event_type window partitioning + final sort
    # (both ordered windows and the rollup reuse the type layout).
    "event_rate_cusum": 3,
    "exact_dedup": 1,
    "exact_percentiles": 2,
    # Alias of exact_percentiles: percentile partial aggregate + sort.
    # Was 1, but that count excluded the 8 jobs the bisection ran at
    # construction.
    "exact_percentiles_scalable": 2,
    # r08: edge selection runs during construction (profile + one
    # bisection round + wide final pass — all mergeable aggregates);
    # the returned plan is the broadcast-edge bucket aggregate + sort.
    "equi_depth_histogram": 2,
    # 8 FK edges, each: child key rollup + parent distinct + key-dim
    # join; single-row branches union (audit query, key-dim sized).
    "fk_coverage_audit": 24,
    "flagship_top_locations": 1,
    "forecast_revenue": 1,
    "forward_asof_next_purchase": 2,
    "forward_fill": 1,
    "functional_dependency_audit": 2,
    "freq_itemset_pairs": 5,
    "funnel_conversion": 2,
    "grouped_median_approx": 3,
    # Aliases of grouped_median: percentile partial aggregate + sort.
    # Were 1, but that count excluded the 22 (plan_state) and 8
    # (scalable) jobs the bisection ran at construction.
    "grouped_median_plan_state": 2,
    "grouped_median_scalable": 2,
    "grouping_sets_report": 2,
    # spread + (source, token) count + source rollup + token re-agg
    # (ALL row) off the checkpoint.
    "hapax_legomena_rate": 4,
    "hard_negative_mining": 2,
    "hash_split_stats": 3,
    # the explode subtree prints under both consumers (first-occurrence
    # agg + per-decile token counts); real movement is the vocab agg,
    # the two decile rollups, the 10-row window and the final sort.
    "heaps_vocab_growth": 10,
    "hilbert_layout": 2,
    # The distinct-pair subtree prints under every HITS half-round and
    # both top-k branches (runtime-reused); real movement per
    # half-round is one edge⋈score join + one keyed aggregate.
    "hits_topk": 19,
    "hll_distinct_sketch": 4,
    # window-expanded register build + per-window sketch rollup + exact
    # distinct branch + join + output sort.
    "hll_sliding_distinct": 5,
    "hll_union_merge": 5,
    "inactive_antijoin": 0,
    # bucket-keyed pair shuffle + pair dedup + per-doc flag rollup +
    # source rollup + output sort over the checkpointed tag relation.
    "incremental_lsh_dedup": 7,
    # two mart-sized partial aggregates (base/delta legs) + the merge
    # re-aggregate; every exchange moves months x priorities rows.
    "incremental_mart_merge": 3,
    "interarrival_burstiness": 3,
    # daily count shuffle + the days^2-bounded minimax grid join +
    # suffix-min window + fit rollup (calendar-bounded past the first
    # exchange, acf contract).
    "isotonic_daily_trend": 3,
    # The (order, part) distinct subtree prints once per consumer (pair
    # join sides + both frequency dims) — identical, so AQE reuses one
    # materialization; real movement is distinct + pair agg + windows.
    "item_similarity_topk": 9,
    # source rollup (checkpointed) + theta moment rollup; leave-one-out
    # means need no second data pass.
    "jackknife_se_mean": 2,
    "ivf_kmeans_topk": 0,
    "ivf_probe_topk": 0,
    "ivfpq_topk": 0,
    "join_cardinality_audit": 3,
    # as-of join + bounded 73-bucket rollup run during construction
    # (collected bounded table, driver fold); returned plan is the
    # driver-built curve + sort.
    "kaplan_meier_conversion": 1,
    "k_anonymity_audit": 5,
    # Lazy path at test scale (< BOUNDED_STORAGE_MIN_EDGES): per-round
    # peel shuffles against the persisted edge list + the stats branch
    # re-deriving each round's alive set. r05 raised 9 -> 13: the base
    # generation is now PERSISTED instead of localCheckpointed (the
    # checkpoint block copy was a measured 1.5-2 s regression at sf0.1),
    # so its 4 upstream pair-build exchanges stay textually in the plan
    # but are served by InMemoryTableScan at runtime, never re-executed.
    # Above the threshold the peel switches to bounded storage and the
    # returned plan is the collected stats (budget would be 1).
    "kcore_peel_counts": 13,
    # anchor-sampled pair join + per-anchor selection window + bounded
    # histogram rollup + final sort (the checkpointed grid cells serve
    # both join sides and the censored-count branch).
    "kdist_eps_calibration": 4,
    # map-side scoring against the broadcast centroid model (the Lloyd
    # fit runs during construction); budget = the cluster rollup +
    # final sort.
    "kmeans_silhouette_audit": 2,
    # distinct (type, h) + exact-count branch + per-type top-k window +
    # merged TakeOrdered branch + final sort; candidates pre-filtered
    # in plan to ~8k per type.
    "kmv_distinct_sketch": 5,
    # checkpointed distinct/kept relations feed the bounded pair work
    # (pairs x k windows, broadcast sketch joins) + the exact-Jaccard
    # self-join + final sort.
    "kmv_jaccard_types": 8,
    # the (source, len) count subtree prints under all five consumers
    # (srcs/vals/all_c/tot/grid — identical subtrees, runtime-reused);
    # real movement is the count shuffle, the bounded grid build, the
    # per-source cumulative window and the output sort.
    "ks_source_drift": 14,
    # same checkpointed rank-grid shape as ks_source_drift: count agg +
    # grid window pair + per-source rollup + final staging/sort.
    "kruskal_wallis_lengths": 7,
    "l_diversity_audit": 6,
    "lag_lead_delta": 1,
    "lang_confusion_matrix": 3,
    "lang_id": 0,
    "large_volume_customers": 2,
    # shared checkpointed duration relation (as-of join runs at its
    # materialization) + the calendar-bounded suffix windows + rollups.
    "logrank_ab_survival": 3,
    "local_supplier_volume": 2,
    # Per-round LPA shuffles run during construction against
    # checkpointed label state; the returned plan is the final
    # community rollup of the checkpointed (node, label) relation.
    # daily agg + single-row moments fold off the checkpointed series.
    "ljung_box_daily": 2,
    "lpa_communities": 1,
    # Runs the exact PPJoin AND the banded-LSH pipeline once each, then
    # one full-outer pair alignment + one aggregate for all three
    # metrics (was 37 with the count trio replaying both subplans).
    "lsh_quality_eval": 19,
    # Identical pipeline over the 10% md5-bucket sample (the filter is
    # map-side; no extra movement).
    "lsh_quality_eval_sampled": 19,
    # med + mad each need a rank window over events (textually replayed
    # per branch; identical subtrees reuse at runtime) + final rollup.
    # bucketed points (checkpointed once for anchors + selection) +
    # broadcast anchor dims; movement = bucket aggregate, struct-max
    # argmax rollup, output sort.
    "lttb_downsample": 4,
    # med aggregate + MAD aggregate (percentile_disc partials) + the
    # broadcast rollup + sort; the scalable name is an alias. The
    # alias's old 2 excluded the 15 jobs its bisection ran at
    # construction.
    "mad_outliers": 4,
    "mad_outliers_scalable": 4,
    # daily count shuffle (checkpointed once for all four consumers) +
    # the priority-keyed pair join, sign/tie/day aggregates and the
    # 5-row stat joins — all over the calendar-bounded daily relation.
    # +1 r11: spread floor on the pair probe side (_ordered_pairs).
    "mann_kendall_trend": 6,
    "market_share": 2,
    "marts_kernel": 2,
    "matryoshka_recall_at_k": 0,
    # spread + ONE qid window shuffle (both rankings ride it) + final
    # single-partition rollup.
    # user-keyed conversion aggregate + nation-bounded stratum rollup +
    # single-row pooling (customer dim broadcast).
    "mantel_haenszel_uplift": 3,
    # (user, week) rollup + adjacent-week self-join run during
    # construction (collected bounded 5x5 matrix, driver iteration);
    # returned plan is the 5-row result + sort.
    "markov_stationary_activity": 1,
    "map_at_k": 3,
    "mannwhitney_source_test": 7,
    # same count-grid family: count agg + cumulative window + rank
    # broadcast-join + rollup + final sort.
    "median_ci_sources": 7,
    # spread (printed under both consumers) + broadcast query dim; the
    # scored subtree feeds the NN argmax and the rank count; movement is
    # the two qid aggregates.
    # stats reduce inside the Arrow-batched decode UDF (one row per
    # asset); the only exchange is the output sort.
    "multimodal_pcm_decode": 1,
    # zlib+filter decode reduces inside the UDF; only the output sort.
    "multimodal_png_decode": 1,
    # Huffman+IDCT decode reduces inside the UDF; only the output sort.
    "multimodal_jpeg_decode": 1,
    # Rice+LPC decode reduces inside the UDF; only the output sort.
    "multimodal_flac_decode": 1,
    # magic-dispatch mixed decode reduces inside the UDF; only the sort.
    "multimodal_decode_all": 1,
    # returned plan reads the checkpointed final ranks (iterations run
    # during construction, like pagerank); budget = the TakeOrdered
    # staging only.
    "textrank_keywords": 1,
    # (user,type) first-touch agg (the one fact shuffle) + user rollup
    # + path-grid rollup + channel rollup + output sort.
    "shapley_attribution": 5,
    # user-keyed conditional aggregate + 2-row arm rollup (the pooled
    # scalars and t0 ride broadcasts; the 2-row sort is driver-trivial).
    "cuped_variance_reduction": 2,
    # returned plan reads the checkpointed 25-row flagged relation
    # (user agg + nation rollup + rank window run during construction);
    # budget = the k-scalar staging + output sort.
    "bh_fdr_nation_conversion": 2,
    # as-of union window + bucket rollup; risk/cumsum windows run on
    # the bounded 73-row relation (single-partition waiver).
    "nelson_aalen_hazard": 4,
    # returned plan reads the checkpointed 25-row rate relation (user
    # agg + nation rollup run during construction); budget = the prior
    # moment staging + output sort.
    "eb_shrunk_conversion": 2,
    # returned plan reads the checkpointed 2-row arm relation (the user
    # aggregate runs during construction); arm cells ride broadcasts.
    "did_spend_estimate": 0,
    "mrr_prefix_rank": 5,
    # two TakeOrderedAndProject top-20s + bounded 20-row windows +
    # broadcast-only joins — no hash/range exchange anywhere.
    "ndcg_at_k": 0,
    # day-keyed XOR fold + output sort.
    "merkle_partition_diff": 2,
    # +1: the spread parallelism-floor exchange ahead of the
    # CPU-bound signature map (r11 optimization round).
    "minhash_lsh_pairs": 3,
    # the spread parallelism-floor exchange (map-only otherwise).
    "minhash_signatures": 1,
    # cents-grid histogram + single-row cell fold off the checkpoint.
    "mood_median_test": 2,
    "minmax_profile": 3,
    "mom_revenue_growth": 2,
    # checkpointed per-doc lengths (strata pass + draw pass) + the
    # sources-bounded weight rollup, scalar total and drawn-count agg.
    "neyman_allocation_sample": 5,
    "nested_order_lines": 2,
    # Catalyst-decorrelated correlated-scalar Q15: the revenue CTE is
    # inlined into the outer AND the subquery (identical subtrees —
    # ReuseExchange dedups at runtime), so the printed plan carries both
    # aggs + the per-nation max agg + the nation-keyed join pair + sort.
    "nation_top_supplier_scalar": 6,
    "ngram_jaccard_topk": 3,
    # spread + checkpointed shingle pairs + first-occurrence min agg
    # + shingle-keyed join + source rollup.
    "ngram_novelty_rate": 4,

    "normalize_group": 2,
    "ntile_spend_quartiles": 2,
    "null_audit": 2,
    # event (user, ts) dedup + the as-of union's user_id window + the
    # channel rollup + final sort.
    # ONE moment pass; single-row Cramer solve rides the same plan.
    "ols_price_model": 1,
    # 10-cell priority x flag rollup + broadcast cut fold + sort.
    "ordinal_logit_proxy": 3,

    "order_attribution": 4,
    # Daily agg + the checkpointed PH/gap series summary (the
    # calendar-bounded global windows run during construction behind
    # the localCheckpoint, like pagerank).
    "page_hinkley_drift": 2,
    "pagerank_topk": 0,
    # moment passes run during construction (collected d^2 bounded
    # matrix); the returned plan is the driver-built 64-row result +
    # output sort.
    "pca_power_component": 1,
    # (day x 2-type) conditional aggregate + calendar-bounded rollup.
    "paired_sign_test": 2,
    # one event_type partitioning shared by both windows + the peak
    # rollup, then the final sort (sweep-line union is shuffle-free).
    "peak_concurrency": 2,
    # checkpointed 65-row permutation diffs (user-keyed aggregate +
    # salted relabel rollup run at materialization); returned plan is
    # the single extreme-count rollup.
    "permutation_test_ab": 1,
    "percentiles_approx": 3,
    # SCD2 build window/rollup + probe-dim hash join + final rollup.
    "pit_dimension_lookup": 4,
    "pivot_wide": 1,
    # per-user spend shuffle + replicate rollup + bounded 19x19 rank
    # join + final single-row fold.
    "poisson_bootstrap_ci": 4,
    # (type, lo) histogram + merged-ALL re-agg + keyed quantile window.
    "quantile_sketch_merge": 3,

    "pmi_collocations": 8,
    # Returned plan reads the final localCheckpoint (per-round keyed
    # shuffles happen during construction, like pagerank_topk).
    "ppr_topk": 0,
    "pq_topk": 0,
    # feedback/expansion dims are lazily checkpointed TakeOrdered
    # relations (round-1 scoring + term mining run at materialization,
    # like the *_scalable fits); the returned plan is the weighted
    # round-2 rescore: term-pruned (doc,word) agg + df dim + top-20.
    "prf_expansion_topk": 6,
    "pricing_summary": 2,
    "props_flatten": 2,
    "quality_filter_gates": 2,
    "quality_score": 0,
    # The distinct (c,s) pair scan prints under both self-join sides and
    # the degree agg (runtime-reused); real movement is the pair
    # distinct + degree agg + the (supp_a, supp_b) rollup.
    "ra_linkpred_topk": 9,
    # Post-checkpoint walker relation + final sort; per-step
    # frontier-edge join + argmin aggregates run during construction.
    "random_walk_corpus": 1,
    "range_join_windows": 3,
    "repetition_stats": 3,
    "returned_item_losses": 1,
    # r08 (VERDICT r07 #4): quartile boundaries now come from the
    # selection operator DURING CONSTRUCTION (mergeable conditional
    # aggregates over the checkpointed dimension); the returned plan is
    # scalar-max reduce + broadcast-compare scoring + segment rollup +
    # output orderBy — one more printed exchange than the r07 window
    # form, but the single-partition dimension SORT is gone (the r07
    # form's 3 ntile windows all funneled the dimension through one
    # task; asserted in test_plan_shape.py).
    # conditional sums over the checkpointed degree-joined edge
    # relation (built during construction); returned plan is the 5-row
    # k staging + sort.
    "rich_club_coefficient": 1,
    "rfm_segmentation": 3,
    "rolling_range_frame": 3,
    "rollup_orders": 1,
    # Both rankings are TakeOrderedAndProject top-100s (one partition
    # out), so the rank windows and the full-outer fuse need NO
    # exchange: a fully shuffle-free returned plan.
    # per-type daily rollup + the type-partitioned record windows +
    # final rollup/sort.
    "running_records_daily": 3,
    "rrf_fusion_topk": 0,
    "running_sum": 1,
    # daily count shuffle + the calendar-bounded series staging (the
    # lag/run windows ride the single exchange of the <=366-row daily
    # relation — dimension-bounded by the calendar, waived like cusum).
    "runs_test_daily": 2,
    "scd2_dimension": 2,
    # contract checks fold into the scd2 build's keyed window layout;
    # the 4-rule staging reads the checkpointed 1-row aggregate.
    "scd2_interval_audit": 1,
    # daily aggregate + ONE fused stratum window + final range sort
    # (three window aggs share one spec — see the query's projection
    # comment; chained withColumn would cost 5).
    "seasonal_dow_anomalies": 3,
    # Broadcast eval dim + one corpus scan; argmax/count fuse into one
    # eval-keyed aggregate + output sort.
    "semantic_decontamination": 2,
    "session_transitions": 4,
    "sessionize": 2,
    "set_ops": 4,
    # One-sided prefix (contained side) + full-index container side +
    # exact verification legs.
    "setsim_containment_join": 10,
    # PPJoin with the cosine t^2 bound: prefix build + candidate join +
    # verification legs (df dim rebuilt per leg, runtime-reused).
    "setsim_cosine_join": 15,
    # shingle-df/size aggs + rank join/window + prefix self-join +
    # candidate distinct + verify joins/agg + final sort; the dominant
    # subtree (distinct doc-shingle pairs) feeds four consumers, so its
    # exchanges print once per branch.
    "setsim_prefix_join": 15,
    "shard_balance_audit": 2,
    "shipping_priority": 1,
    # spread + (source, word) count + source rollup + output sort.
    "simpson_diversity_sources": 4,
    # +1: the spread parallelism-floor exchange (r11).
    "simhash": 3,
    # Literal-EXISTS Q21 left to RewritePredicateSubquery: lf inlined
    # thrice (l1 + semi + anti, identical subtrees, runtime-reused);
    # orderkey-keyed semi/anti joins + the s_name rollup.
    "supplier_blame_exists": 4,
    # signature shuffle + bucket collect + pair aggregate (+ spread and
    # the token-count agg upstream of the signature).
    "simhash_hamming_pairs": 5,
    # distinct-point aggregate + per-price window + the single-partition
    # dominance pass over distinct prices (final sort folds into it).
    "skyline_pareto": 3,
    # spread + the fingerprint-keyed group aggregate + the bounded
    # scalar rollup (single-partition stage).
    "split_leakage_audit": 4,
    # spend rollup + range exchange (the rank phase-1) + decile rollup;
    # the two SinglePartition exchanges move 10 decile rows (bounded by
    # construction), not dimension rows.
    "spend_lorenz_deciles": 6,
    "sliding_window_rollup": 2,
    # (source, word) counts print under the two self-join sides + the
    # totals dim (runtime-reused); real movement is the count shuffle +
    # the word-key self-join + the pair rollup.
    # checkpointed (fp, source) distinct + fp self-join + pair rollup +
    # output sort; the per-source count dims ride broadcasts.
    "source_overlap_matrix": 4,
    "source_wjaccard": 12,
    "spearman_daily_corr": 3,
    # checkpointed staged events feed cal/test branches; movement is
    # the cal mean agg + residual grid + per-type cumulative window +
    # test conditional agg + final join/sort.
    "split_conformal_interval": 10,
    # distinct-user arm shuffle + single-row chi-square fold.
    "srm_check": 2,
    # three count-distinct column profiles unioned (each an expand
    # pair off the checkpointed scan).
    "storage_layout_advisor": 6,
    "sql_surface": 2,
    # Returned plan is the post-checkpoint distance histogram (per-round
    # frontier-join + min-merge shuffles happen during construction,
    # like bfs_reachability/pagerank).
    "sssp_weighted_hist": 2,
    "table_profile": 2,
    # cells rollup + class/global/total branches off the checkpointed
    # cells + the class-partitioned cumulative window + top-20 sort;
    # the class x bucket grid rides broadcasts.
    "t_closeness_audit": 4,
    "temperature_mixture": 2,
    # The (doc, term) count subtree prints once per consumer branch (df
    # dim, n_docs scalar, ranking window) — runtime ReuseExchange dedups;
    # real data movement is the tf shuffle + window + output sort.
    "tfidf_topk_terms": 9,
    # checkpointed daily count + the priority-keyed pair join, the
    # slope-histogram hash aggregate (map-side partials absorb the
    # days^2 pair fan-out) and the crossing window over the bounded
    # histogram.
    # single-row skill fold off the checkpointed lagged series.
    "theil_u_forecast": 1,
    # +1 r11: spread floor on the pair probe side (_ordered_pairs).
    "theil_sen_slope": 4,
    "time_bucket_rollup": 3,
    # one per-(user, type) lead window + the type rollup + output sort.
    "time_weighted_avg": 3,
    "token_stats": 0,
    "topk_orders": 0,
    # ---- r04: every driver-gated query is now bench-tagged (VERDICT
    # r03 #6) — measured counts at sf0.001, engine session, sp=4. ----
    "topn_with_ties": 3,
    # Edge/sample relations are localCheckpointed (materialized once);
    # the remaining exchanges are the degree build, wedge join, closure
    # probe and the scalar-count branches over the checkpointed RDDs.
    "triangle_count_sampled": 18,
    # (source, word) count (checkpointed once for totals + window
    # branches) + vocabulary-bounded word window + source rollup +
    # output sort; totals ride broadcasts.
    "unigram_tv_drift": 6,
    "unpivot_roundtrip": 1,
    # distinct (user, day) + user window (reused by the islands rollup)
    # + final sort.
    "user_active_streaks": 3,
    "value_histogram": 2,
    "value_stats": 2,
    "vocab_topk": 2,
    "waiting_suppliers": 3,
    # percentile partial aggregate + sort. Was 1, but that count
    # excluded the 11 jobs the bisection ran at construction.
    "weekly_p90_scalable": 2,
    # ONE conditional-aggregate pass; single-row rollup.
    "welch_cohen_effect": 1,
    "weighted_median_price": 2,
    # checkpointed 2-row arms relation like ab_conversion_ztest; the
    # only exchange is the final tiny sort (the user-keyed aggregate
    # runs during checkpoint construction).
    "wilson_conversion_ci": 1,
    "window_dedup": 1,
    # (type, day) count shuffle replayed under both join sides
    # (identical subtrees, runtime-reused) + the pair-moment aggregate
    # + final sort; pair rows are types^2 x days x 8.
    "xcorr_lead_lag": 4,
    "winsorized_scalable": 2,
    "zonemap_pruning_audit": 3,
    "zorder_layout": 2,
    # ---- r10 wave: measured counts at sf0.001, engine session, sp=4 ----
    # daily agg (checkpointed for both self-join sides) + scalar pair
    # rollup; the concordance join itself is broadcast.
    "kendall_tau_daily": 2,
    # per-user conditional aggregate + scalar cell rollup + midpoint
    # scalar (broadcast feeds the crossJoin).
    "mcnemar_paired_conversion": 3,
    # per-doc scoring -> checkpointed cell relation; row/col marginal
    # re-aggs + the scalar total + pe join over |langs|-bounded rows.
    "cohen_kappa_agreement": 4,
    # cell aggregate (checkpointed for both pair-join sides) + scalar
    # totals; the cell-pair join is broadcast.
    "goodman_kruskal_gamma": 2,
    # quantity-bucket aggregate + the <=50-row bounded window stage;
    # final top-1 is TakeOrdered, no sort shuffle.
    "gini_split_stump": 2,
    # token freq agg + spectrum re-agg + scalar moments.
    "yule_k_vocab": 3,
    # per-user aggregate materialized into the checkpointed 2-row arms
    # relation (the ab_conversion_ztest device); the 5-row look join
    # rides a broadcast, final sort is the one exchange.
    "obf_sequential_ab": 1,
    # lineitem-by-orderkey recompute agg + the orders join side + the
    # bounded 6-bucket rollup/sort.
    "order_total_reconciliation": 3,
    # daily agg + the bounded-calendar window/motif stage (rank and
    # lead windows coalesce into one exchange) + motif rollup rides it.
    "sax_motif_counts": 2,
    # ---- r10 wave 2: measured at sf0.001, engine session, sp=4 ----
    # (day,type) cells agg is the only data-sized pass; the scaffold
    # join, day-keyed rank windows, type rollup and moment scalars all
    # run on calendar x |types|-bounded relations.
    "friedman_test_types": 6,
    # two countDistinct aggregates (each expands to partial+final) +
    # the scalar moment rollups; all user/type-keyed, no pair work.
    "cochran_q_types": 6,
    # daily agg feeds the checkpoint during construction; returned plan
    # moves only the week-keyed rank stage + dow rollup.
    "page_trend_dow": 2,
    # broadcast-enriched (nation, supplier) cents agg + nation rollup
    # + output sort.
    "market_hhi_concentration": 3,
    # orders distinct keys + the customer semi-join (both data-sized:
    # one hash shuffle each side is the correct 100 TB shape) + banded
    # rollup + bounded cumulative window + sort.
    "lift_by_score_band": 6,
    # md5-priority rank keyed by lang + class-size/target scalars +
    # the per-class audit rollup.
    "balanced_class_downsample": 4,
    # ---- r10 wave 3: measured at sf0.001, engine session, sp=4 ----
    # cents-grid histogram (checkpointed for cum window + totals) +
    # the bounded-grid window stage + scalar numerator.
    "cvm_two_sample_ab": 3,
    # daily agg once (checkpointed for both lag-7 self-join sides);
    # the eval rollup rides the broadcast join.
    "seasonal_naive_backtest": 1,
    # user-keyed window pass + |types|^3-bounded trigram rollup;
    # top-10 is TakeOrderedAndProject.
    "event_trigram_topk": 2,
    # ---- r11 wave 5 ----
    # daily agg + single-row moments fold off the checkpointed series
    # (ljung_box shape).
    "pacf_daily": 2,
    # block-keyed pair join (sized relation broadcasts back); the two
    # single-row summary branches read the checkpoints.
    "levenshtein_blocked_pairs": 2,
    # spread + (source, token) count + source rollup + token re-agg
    # (hapax shape).
    "chao1_vocab_richness": 4,
    # user-keyed early/late rollup + the 10-bin rollup; activity
    # scalars broadcast.
    "calibration_ece_temporal": 2,
    # (band, pri) cells + band grid; cumulative window and the two
    # single-row folds read the checkpointed grid.
    "jt_trend_priority": 2,
    # ---- r11 wave 6 ----
    # orders⋈customer keyed join + the 25-nation rollup; region fold
    # and scalars are single-row/broadcast.
    "morans_i_region": 5,
    # (user, type) count + distinct-user scalar + k-item fold + user
    # re-aggregate off the checkpoint (each a small keyed exchange).
    "cronbach_alpha_types": 8,
    # (pri, band) cells once (checkpointed); pri-keyed median window +
    # the z fold + single-row anova device.
    "brown_forsythe_var": 3,
    # ---- r11 wave 7 ----
    # regex counters ride the scan (map-only); source rollup + sort.
    "flesch_reading_scores": 2,
    # one fact aggregate to the <=35-row (type, dow) cells; the
    # scaffold/rank/tie/item/judge folds are micro-exchanges on that
    # bounded relation (types distinct, keyed windows, three scalar
    # folds), all post-checkpoint.
    "kendall_w_concordance": 9,
    # (source, n_chars) projection checkpointed once; base rollup
    # broadcasts back, power-sum rollup + sort.
    "moment_shape_profile": 3,
    # part-revenue rollup + with_global_prefix_sum's range exchange +
    # its per-partition partials pass + the 3-row class rollup + sort;
    # prefix offsets broadcast.
    "abc_pareto_parts": 5,
    # (user, day) distinct + days distinct (broadcast back) + the
    # fixed 28x fan-out's two-stage countDistinct + dau rollup.
    "dau_mau_stickiness": 5,
    # ---- r11 wave 8 ----
    # returned plan reads the final multi-BFS checkpoint: seed rollup
    # + the 4-row left join; per-round frontier shuffles happen during
    # construction (bfs_reachability precedent).
    "harmonic_closeness_seeds": 3,
    # degree rollup + corner-credit rollup (closed-triangle subtree
    # checkpointed once) + node join + band rollup; edges checkpoint
    # and wedge/closure joins run at construction.
    "local_clustering_hist": 4,
    # cents-grid histogram (checkpointed for window + totals) + the
    # term fold + single-row assembly (cvm shape).
    "ad_two_sample_ab": 3,
    # (type, user) rollup + per-type rollup + sort.
    "dp_sensitivity_audit": 3,
    # per-user rollup into the checkpointed score grid; window fold
    # and totals are grid-bounded.
    "roc_auc_propensity": 2,
}


def shuffle_count(plan: str) -> int:
    """Standalone ``Exchange`` operators only: no word boundary precedes
    the 'E' inside BroadcastExchange/ReusedExchange, so those (good or
    neutral) operators never count against the budget."""
    return len(re.findall(r"\bExchange ", plan))


def test_budget_covers_every_bench_query():
    bench = {n for n, s in REGISTRY.items() if "bench" in s.tags}
    assert bench == set(BUDGETS), (
        "bench tag set changed — add/remove the measured budget here"
    )


def test_shuffle_count_ignores_broadcast_and_reuse():
    plan = (
        "+- Exchange hashpartitioning(x, 4)\n"
        "   +- BroadcastExchange HashedRelationBroadcastMode\n"
        "      +- ReusedExchange [x]\n"
        "+- Exchange rangepartitioning(x, 4)\n"
    )
    assert shuffle_count(plan) == 2  # hash + range; broadcast/reuse free


def _plan_count(plan: str) -> int:
    return shuffle_count(plan)


@pytest.fixture(scope="module")
def plan_counts(spark, query_df_cache):
    """Compile every budgeted plan ONCE over a thread pool (VERDICT r05
    #5): plan building is driver-side and independent per query, so
    concurrent compilation is safe; iterative operators run their
    construction-time jobs through Spark's thread-safe scheduler. The
    DataFrames come from the session-scoped query_df_cache, so those
    construction jobs are shared with the parity suite instead of
    re-run (pytest runs test_oracle_parity first alphabetically, so
    this module mostly reads warm cache entries)."""
    from concurrent.futures import ThreadPoolExecutor

    def task(name):
        try:
            return _plan_count(query_df_cache(name)[1])
        except Exception as exc:  # surfaced by the owning test
            return exc

    names = sorted(BUDGETS)
    with ThreadPoolExecutor(max_workers=8) as ex:
        return dict(zip(names, ex.map(task, names)))


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(name, plan_counts):
    got = plan_counts[name]
    if isinstance(got, BaseException):
        raise got
    assert got <= BUDGETS[name], (
        f"{name}: {got} shuffle exchanges > budget {BUDGETS[name]} — a "
        "shuffle crept into a hot query"
    )
