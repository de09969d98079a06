"""Central query registry: name → (spark callable, DuckDB oracle SQL).

The driver consumes this through ``__spark_entry__.py``. Oracle SQL is None
for operators that aren't SQL-expressible (the driver then records a weaker
rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import queries_core as core
from . import queries_functions as fn
from . import queries_pipeline as pl
from . import queries_sqlfront as sq
from . import queries_timeseries as ts

QueryFn = Callable[[SparkSession, str], DataFrame]

# name → (fn, oracle_sql | None).
#
# ORDER MATTERS: the correctness harness that consumes ``__spark_entry__``
# checks at most ~50 queries per run, in this order.  Put new or materially
# changed entries first and the longest-verified ones last.
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # staged containment near-dup promoted from bench_scale100 into the
    # library/registry: exact dedup -> guarded candidates -> containment
    # score
    "dedup_containment_staged": (
        pl.dedup_containment_staged,
        pl.DEDUP_CONTAINMENT_STAGED_SQL,
    ),
    # staged keep-best cluster resolution: exact dedup -> guarded Jaccard ->
    # CC -> keep_best_canonical
    "dedup_keep_best_staged": (
        pl.dedup_keep_best_staged,
        pl.DEDUP_KEEP_BEST_STAGED_SQL,
    ),
    # substring-level exact dedup: cross-document verbatim long-span
    # detection — positional 12-token fingerprints, diagonal-island run
    # collapse (distributed Lee et al. 2022)
    "dedup_verbatim_spans": (pl.dedup_verbatim_spans, pl.DEDUP_VERBATIM_SPANS_SQL),
    # perceptual-hash image dedup: dHash over the decoded raster path,
    # grouped exactly — the dedup x multimodal bridge
    "multimodal_dhash_neardup": (pl.multimodal_dhash_neardup, pl.MULTIMODAL_DHASH_SQL),
    # perceptual NEAR-dup: banded Hamming over dHash, LSH discipline
    "multimodal_dhash_hamming": (
        pl.multimodal_dhash_hamming,
        pl.MULTIMODAL_DHASH_HAMMING_SQL,
    ),
    # trained linear corpus classifier: batch-perceptron language filter
    # over hashed unigram counts, exact-integer training — the oracle
    # replays every epoch (margins/misclassified/gradients) as a CTE chain,
    # kmeans/BPE discipline
    "classifier_perceptron_train": (
        pl.classifier_perceptron_train,
        pl.CLASSIFIER_TRAIN_SQL,
    ),
    # serving-side eval of the trained classifier: one map pass with
    # plan-literal weights -> confusion matrix + margin mass
    "classifier_confusion": (pl.classifier_confusion, pl.CLASSIFIER_CONFUSION_SQL),
    # BM25 (Okapi, Lucene positive-idf variant) lexical ranking: 1-row
    # corpus-stats broadcast + map scoring + TakeOrderedAndProject
    "retrieval_bm25_topk": (pl.retrieval_bm25_topk, pl.RETRIEVAL_BM25_SQL),
    # one-pass multinomial Naive Bayes: closed-form counts + decimal
    # log-likelihood-ratio weights — the converging classifier
    "classifier_nb_train": (pl.classifier_nb_train, pl.CLASSIFIER_NB_TRAIN_SQL),
    # NB serving eval: exact-decimal log-odds scoring -> confusion matrix
    "classifier_nb_confusion": (
        pl.classifier_nb_confusion,
        pl.CLASSIFIER_NB_CONFUSION_SQL,
    ),
    # pseudo-relevance-feedback expansion: BM25 top-10 feedback -> top-5
    # expansion terms -> integer-weighted libm-free re-score
    "retrieval_prf_expand": (pl.retrieval_prf_expand, pl.RETRIEVAL_PRF_SQL),
    # MMR diversity re-rank: cosine top-20 shortlist -> greedy rel - max-sim
    # picks; oracle replays every pick as a CTE chain
    "retrieval_mmr_rerank": (pl.retrieval_mmr_rerank, pl.RETRIEVAL_MMR_SQL),
    # ops as SQL table functions: bm25_topk('t','terms',k) /
    # classify_nb('t','pos') in FROM position, exercised with DIFFERENT
    # parameters than the Python-route entries
    "sql_retrieval_table_fns": (
        sq.sql_retrieval_table_fns,
        sq.SQL_RETRIEVAL_TABLE_FNS_SQL,
    ),
    # bigram-LM perplexity filter: the CCNet/KenLM quality scorer — one-pass
    # smoothed LM, decimal-exact per-doc nll sums
    "corpus_perplexity_topk": (pl.corpus_perplexity_topk, pl.CORPUS_PERPLEXITY_SQL),
    # per-source data card composing the trained models: dup counts +
    # NB-positive share + LM perplexity mass per source
    "corpus_quality_report": (pl.corpus_quality_report, pl.CORPUS_QUALITY_REPORT_SQL),
    # hybrid retrieval: lexical Jaccard top-50 + quantized-dot top-50 fused
    # by reciprocal rank (RRF), both cuts TakeOrderedAndProject
    "retrieval_hybrid_rrf": (pl.retrieval_hybrid_rrf, pl.RETRIEVAL_HYBRID_RRF_SQL),
    # cluster-balanced subsampling: trained k-means assignment + a
    # deterministic hash-priority cap per cell (topic-balancing cut)
    "cluster_balanced_sample": (
        pl.cluster_balanced_sample,
        pl.CLUSTER_BALANCED_SAMPLE_SQL,
    ),
    # keep-best cluster resolution: near-dup clusters keep the longest
    # member (ties -> lowest id) instead of the lowest id
    "dedup_keep_best": (pl.dedup_keep_best, pl.DEDUP_KEEP_BEST_SQL),
    # DSIR-style data selection: per-doc hashed-unigram importance weight
    # ln(p_target/p_raw), decimal-summed for hash determinism
    "dsir_importance_weights": (pl.dsir_importance_weights, pl.DSIR_IMPORTANCE_SQL),
    # containment near-dup (truncated-copy detector): common / min size
    "dedup_containment": (pl.dedup_containment, pl.DEDUP_CONTAINMENT_SQL),
    # split-leakage audit: hash split over canonical docs + near-dup pairs
    # classified by split combination (off-diagonal = leakage)
    "corpus_split_leakage": (pl.corpus_split_leakage, pl.CORPUS_SPLIT_LEAKAGE_SQL),
    # two-stage ANN: PQ ADC top-50 shortlist -> exact L2 re-rank top-10
    "embedding_ann_pq_rerank": (pl.embedding_ann_pq_rerank, pl.EMBEDDING_PQ_RERANK_SQL),
    # OHLC candles: SAMPLE BY 1h first/last/min/max — the reference's
    # first/last fast-path shape (SampleByFirstLastRecordCursorFactory)
    "ohlc_1h": (ts.ohlc_1h, ts.OHLC_1H_SQL),
    "conditional_cast": (core.conditional_cast, core.CONDITIONAL_CAST_SQL),
    "text_quality": (pl.text_quality, pl.TEXT_QUALITY_SQL),
    # production staged near-dup: exact dedup -> corpus-relative guard
    "dedup_jaccard_prod_staged": (
        pl.dedup_jaccard_prod_staged,
        pl.DEDUP_JACCARD_PROD_STAGED_SQL,
    ),
    "dedup_exact": (pl.dedup_exact, pl.DEDUP_EXACT_SQL),
    "doc_fingerprints": (pl.doc_fingerprints, pl.DOC_FINGERPRINT_SQL),
    "language_detect": (pl.language_detect, pl.LANGUAGE_DETECT_SQL),
    "token_counts": (pl.token_counts, pl.TOKEN_COUNTS_SQL),
    "minhash_signatures": (pl.minhash_signatures, pl.MINHASH_SIG_SQL),
    "minhash_lsh": (pl.minhash_lsh, pl.MINHASH_LSH_SQL),
    "simhash_docs": (pl.simhash_docs, pl.SIMHASH_SQL),
    "embedding_topk": (pl.embedding_topk, pl.EMBEDDING_TOPK_SQL),
    "embedding_ann_lsh": (pl.embedding_ann_lsh, pl.EMBEDDING_ANN_SQL),
    "embedding_ann_multiprobe": (
        pl.embedding_ann_multiprobe,
        pl.EMBEDDING_MULTIPROBE_SQL,
    ),
    "embedding_ann_ivf": (pl.embedding_ann_ivf, pl.EMBEDDING_IVF_SQL),
    "embedding_near_dup": (pl.embedding_near_dup, pl.EMBEDDING_NEAR_DUP_SQL),
    # k-NN JOIN over a query SET (LLM-pipeline batch retrieval)
    "embedding_knn_join": (pl.embedding_knn_join, pl.EMBEDDING_KNN_JOIN_SQL),
    "l2price_orderbook": (fn.l2price_orderbook, fn.L2PRICE_SQL),
    "spread_mid_events": (fn.spread_mid_events, fn.SPREAD_MID_SQL),
    "markout_horizon_agg": (ts.markout_horizon_agg, ts.MARKOUT_HORIZON_AGG_SQL),
    "sample_by_first_obs": (ts.sample_by_first_obs, ts.SAMPLE_BY_FIRST_OBS_SQL),
    "sample_by_tz_day": (ts.sample_by_tz_day, ts.SAMPLE_BY_TZ_SQL),
    "decimal256_sum": (fn.decimal256_sum, fn.DECIMAL256_SUM_SQL),
    "regr_bit_aggs": (fn.regr_bit_aggs, fn.REGR_BIT_AGGS_SQL),
    "count_star_fast": (fn.count_star_fast, fn.COUNT_STAR_SQL),
    "bind_variables": (fn.bind_variables, fn.BIND_VARIABLES_SQL),
    "rnd_generators": (fn.rnd_generators, fn.RND_GENERATORS_SQL),
    # rank-3 array ops (cairo/arr/ DerivedArrayView.transpose,
    # ColumnType.java:59 32-dim limit): dims/elementwise/neg/scale/
    # flatten/sum/transpose on a 2x3x2 array
    "array_ops3": (fn.array_ops3, fn.ARRAY_OPS3_SQL),
    "cb_referer_domains": (fn.cb_referer_domains, fn.CB_REFERER_DOMAINS_SQL),
    "cb_minute_groups": (fn.cb_minute_groups, fn.CB_MINUTE_GROUPS_SQL),
    "cb_wide_sums": (fn.cb_wide_sums, fn.CB_WIDE_SUMS_SQL),
    "sql_sample_by": (sq.sql_sample_by, sq.SQL_SAMPLE_BY_SQL),
    "sql_sample_by_first_obs": (
        sq.sql_sample_by_first_obs,
        sq.SQL_SAMPLE_BY_FIRST_OBS_SQL,
    ),
    "sql_latest_on": (sq.sql_latest_on, sq.SQL_LATEST_ON_SQL),
    "sql_asof_join": (sq.sql_asof_join, sq.SQL_ASOF_JOIN_SQL),
    "sql_horizon_markout": (sq.sql_horizon_markout, sq.SQL_HORIZON_MARKOUT_SQL),
    "sql_multi_join_sample_by": (sq.sql_multi_join_sample_by, sq.SQL_MULTI_JOIN_SQL),
    "sql_subquery_dialect": (sq.sql_subquery_dialect, sq.SQL_SUBQUERY_DIALECT_SQL),
    "sql_pivot": (sq.sql_pivot, sq.SQL_PIVOT_SQL),
    "sql_declare_neg_limit": (sq.sql_declare_neg_limit, sq.SQL_DECLARE_NEG_LIMIT_SQL),
    "q12_priority_lines": (core.q12_priority_lines, core.Q12_SQL),
    "q13_customer_distribution": (core.q13_customer_distribution, core.Q13_SQL),
    "q17_small_quantity_revenue": (core.q17_small_quantity_revenue, core.Q17_SQL),
    "q21_waiting_suppliers": (core.q21_waiting_suppliers, core.Q21_SQL),
    "sql_read_parquet": (sq.sql_read_parquet, sq.SQL_READ_PARQUET_SQL),
    "sql_bind_positional": (sq.sql_bind_positional, sq.SQL_BIND_POSITIONAL_SQL),
    "sql_ddl_dml_roundtrip": (sq.sql_ddl_dml_roundtrip, sq.SQL_DDL_DML_SQL),
    "sql_plain_view": (sq.sql_plain_view, sq.SQL_PLAIN_VIEW_SQL),
    # ALTER MATERIALIZED VIEW statement surface (SqlCompilerImpl.java:2145):
    # SUSPEND/RESUME WAL park/apply refreshes, SET TTL evicts old buckets —
    # three oracle-checked stages
    "sql_matview_alter": (sq.sql_matview_alter, sq.SQL_MATVIEW_ALTER_SQL),
    # pixel-true raster resize: resized BYTES hash an arithmetic oracle
    "multimodal_raster_resize": (pl.multimodal_raster_resize, pl.MULTIMODAL_RASTER_SQL),
    # audio PCM container + windowed DSP features: frame energy /
    # zero-crossings / peak hash an arithmetic oracle
    "multimodal_audio_features": (
        pl.multimodal_audio_features,
        pl.MULTIMODAL_AUDIO_SQL,
    ),
    # product-quantization ANN: code-only ADC scan vs full SQL oracle
    "embedding_ann_pq": (pl.embedding_ann_pq, pl.EMBEDDING_PQ_SQL),
    "embedding_ann_ivfpq": (pl.embedding_ann_ivfpq, pl.EMBEDDING_IVFPQ_SQL),
    # tf-df keyword extraction: integer-rank tf-idf, two aggs + window
    "doc_top_terms": (pl.doc_top_terms, pl.DOC_TOP_TERMS_SQL),
    # pipeline ops as SQL table functions: dedup_pairs / minhash / top_terms
    # reachable from the dialect
    "sql_pipeline_table_fns": (
        sq.sql_pipeline_table_fns,
        sq.SQL_PIPELINE_TABLE_FNS_SQL,
    ),
    # ANN index-quality report: recall@10 of lsh/ivf/pq vs exact
    "ann_recall_report": (pl.ann_recall_report, pl.ANN_RECALL_SQL),
    # gap-based sessionization: one-shuffle lag + running-sum windows
    "sessionize_events": (ts.sessionize_events, ts.SESSIONIZE_SQL),
    # distributed k-means training: Lloyd's iterations on the fixed-point
    # grid, model + assignment stats vs a CTE-chain replay
    "embedding_kmeans": (pl.embedding_kmeans, pl.EMBEDDING_KMEANS_SQL),
    # IVF probe over the TRAINED quantizer — the deployed-index path
    "embedding_ann_ivf_trained": (
        pl.embedding_ann_ivf_trained,
        pl.EMBEDDING_IVF_TRAINED_SQL,
    ),
    # engine introspection surface: writer metrics counters, pool listings,
    # typeOf/array_build/version/current_* catalogue scalars
    "sql_catalogue_introspection": (
        sq.sql_catalogue_introspection,
        sq.SQL_CATALOGUE_INTROSPECTION_SQL,
    ),
    # windowed stddev/var/corr/covar (reference functions/window/ stat
    # classes) via exact-decimal moment sums OVER frames
    "window_stat_aggs": (core.window_stat_aggs, core.WINDOW_STAT_AGGS_SQL),
    # dataset-card summary: one-pass per-source corpus stats
    "corpus_report": (pl.corpus_report, pl.CORPUS_REPORT_SQL),
    # sliding-window chunking: map-only retrieval prep
    "doc_chunks": (pl.doc_chunks, pl.DOC_CHUNKS_SQL),
    # incremental ingest gate: new batch vs stored corpus — exact-hash +
    # LSH-band semi-joins, per-doc verdict
    "incremental_dedup": (pl.incremental_dedup, pl.INCREMENTAL_DEDUP_SQL),
    # BPE merge-candidate stats: in-row pair build, one agg + top-k
    "bpe_merge_candidates": (pl.bpe_merge_candidates, pl.BPE_MERGE_SQL),
    # iterative BPE trainer: 3 count->argmax->greedy-rewrite rounds, oracle
    # replays the identical loop incl. the fold rewrites
    "bpe_train_merges": (pl.bpe_train_merges, pl.BPE_TRAIN_SQL),
    # temperature sweep: quarter-grid alphas via sqrt compositions
    "mixture_temperature_sweep": (pl.mixture_temperature_sweep, pl.MIXTURE_SWEEP_SQL),
    # trained PQ: per-subspace k-means, one aggregate per round
    "embedding_pq_train": (pl.embedding_pq_train, pl.EMBEDDING_PQ_TRAIN_SQL),
    "embedding_ann_pq_trained": (
        pl.embedding_ann_pq_trained,
        pl.EMBEDDING_PQ_TRAINED_SQL,
    ),
    # mat-view TIMER + PERIOD refresh scheduling (SqlParser.java:2590-2717):
    # stale-before-due / fresh-after-manual / period-complete states
    # oracle-checked
    "sql_matview_timer": (sq.sql_matview_timer, sq.SQL_MATVIEW_TIMER_SQL),
    # CREATE TABLE ... IN VOLUME lifecycle (SqlParser.java:4608)
    "sql_in_volume": (sq.sql_in_volume, sq.SQL_IN_VOLUME_SQL),
    # video frame-sample + resize + decode pipeline
    "multimodal_frames": (pl.multimodal_frames, pl.MULTIMODAL_FRAMES_SQL),
    "sql_matview": (sq.sql_matview, sq.SQL_MATVIEW_SQL),
    "dedup_jaccard": (pl.dedup_jaccard, pl.DEDUP_JACCARD_SQL),
    "dedup_jaccard_guarded": (pl.dedup_jaccard_guarded, pl.DEDUP_JACCARD_GUARDED_SQL),
    "geohash_events": (fn.geohash_events, fn.GEOHASH_SQL),
    "ipv4_subnets": (fn.ipv4_subnets, fn.IPV4_SQL),
    "uuid_long256_bin": (fn.uuid_long256_bin, fn.UUID_LONG256_SQL),
    "array_ops": (fn.array_ops, fn.ARRAY_OPS_SQL),
    "pivot_events": (fn.pivot_events, fn.PIVOT_SQL),
    "unnest_tokens": (fn.unnest_tokens, fn.UNNEST_SQL),
    "lateral_topn": (fn.lateral_topn, fn.LATERAL_SQL),
    "interval_search": (fn.interval_search, fn.INTERVAL_SEARCH_SQL),
    "percentiles_exact": (fn.percentiles_exact, fn.PERCENTILES_SQL),
    "generate_series_rnd": (fn.generate_series_rnd, fn.GENERATE_SERIES_SQL),
    "haversine_paths": (fn.haversine_paths, fn.HAVERSINE_SQL),
    "union_harmonize_types": (fn.union_harmonize_types, fn.UNION_CAST_SQL),
    # DEDUP UPSERT KEYS merge-on-append: overlapping second commit, SAMPLE
    # BY over the merged state
    "sql_dedup_upsert_sample_by": (
        sq.sql_dedup_upsert_sample_by,
        sq.SQL_DEDUP_UPSERT_SQL,
    ),
    # rnd_* SQL-macro completion: char/byte-range/short/float/str/
    # uuid4/ipv4/geohash/bin/long256/log/date/timestamp from SQL text
    "sql_rnd_macros": (fn.sql_rnd_macros, fn.SQL_RND_MACROS_SQL),
    # general live view (cairo/lv/): LATEST ON body, checkpointed per-key
    # state, incremental refresh-on-read after a second commit
    "sql_live_view_latest": (sq.sql_live_view_latest, sq.SQL_LIVE_VIEW_SQL),
    # WINDOW JOIN dynamic per-row bounds (WindowJoinTest
    # testDynamicWindow*): bucketed by the max window width
    "sql_window_join_dynamic": (
        sq.sql_window_join_dynamic,
        sq.SQL_WINDOW_JOIN_DYNAMIC_SQL,
    ),
    # ClickBench completion shapes: expression group keys + deep offset
    # pagination (q36/q41), CASE group key + SAMPLE BY tail (q38/q43)
    "cb_expr_group_pagination": (fn.cb_expr_group_pagination, fn.CB_EXPR_GROUP_SQL),
    "cb_case_group_sample": (fn.cb_case_group_sample, fn.CB_CASE_GROUP_SQL),
    # n-gram decontamination screen (LLM-pipeline first-class op)
    "contamination_check": (pl.contamination_check, pl.CONTAMINATION_SQL),
    # composed training-corpus filter: quality + exact-dedup +
    # decontamination with a per-stage audit
    "training_corpus_filter": (pl.training_corpus_filter, pl.TRAINING_FILTER_SQL),
    # real multimodal header decode: byte-exact PNG/JPEG/GIF synthesis +
    # fixed-offset / marker-scan dimension parse
    "multimodal_decode": (pl.multimodal_decode, pl.MULTIMODAL_SQL),
    # GROUPS/EXCLUDE fused into two shared-spec window passes
    "window_groups_exclude": (fn.window_groups_exclude, fn.WINDOW_GROUPS_EXCLUDE_SQL),
    # DECIMAL256 divide/rescale: limb long division vs native HUGEINT
    "decimal256_div": (fn.decimal256_div, fn.DECIMAL256_DIV_SQL),
    # query registry: query_activity() + CANCEL QUERY
    "sql_query_activity": (sq.sql_query_activity, sq.SQL_QUERY_ACTIVITY_SQL),
    # PII redaction stage: staged regex scrub, counts + scrubbed-text md5
    "pii_scrub": (pl.pii_scrub_docs, pl.PII_SCRUB_SQL),
    # Gopher/C4 repetition-quality signals
    "text_repetition": (pl.text_repetition, pl.TEXT_REPETITION_SQL),
    # deterministic hash-stratified sampling audit
    "stratified_sample": (pl.stratified_sample_audit, pl.STRATIFIED_SAMPLE_SQL),
    # concat-then-chunk context-window packing
    "sequence_packing": (pl.sequence_packing, pl.SEQUENCE_PACKING_SQL),
    # sqrt-temperature domain-mixture weights
    "mixture_weights": (pl.mixture_weights_by_source, pl.MIXTURE_WEIGHTS_SQL),
    # int8-quantized cosine top-k
    "embedding_int8_topk": (pl.embedding_int8_topk, pl.EMBEDDING_INT8_TOPK_SQL),
    # WAL suspend/resume lifecycle with FROM TXN skip
    "sql_wal_suspend_resume": (
        sq.sql_wal_suspend_resume,
        sq.SQL_WAL_SUSPEND_RESUME_SQL,
    ),
    # geo/date/encoding scalar families
    "sql_geo_date_encoding": (sq.sql_geo_date_encoding, sq.SQL_GEO_DATE_ENCODING_SQL),
    # finance trio / date batch-2 / position / to_uuid / to_long256
    "sql_scalar_batch2": (sq.sql_scalar_batch2, sq.SQL_SCALAR_BATCH2_SQL),
    # SemDeDup-style embedding-space dedup composition
    "embedding_dedup_canonical": (
        pl.embedding_dedup_canonical,
        pl.EMBEDDING_DEDUP_CANONICAL_SQL,
    ),
    # temperature-rebalanced corpus sampling (mixture weights -> rates)
    "corpus_mix_sample": (pl.corpus_mix_sample, pl.CORPUS_MIX_SAMPLE_SQL),
    "sql_window_join": (sq.sql_window_join, sq.SQL_WINDOW_JOIN_SQL),
    "twap_vwap_events": (fn.twap_vwap_events, fn.TWAP_VWAP_SQL),
    "nanos_sample_by": (fn.nanos_sample_by, fn.NANOS_SAMPLE_BY_SQL),
    "sparkline_daily": (fn.sparkline_daily, fn.SPARKLINE_SQL),
    "sql_sample_by_having": (sq.sql_sample_by_having, sq.SQL_SAMPLE_BY_HAVING_SQL),
    "interval_repeat": (fn.interval_repeat, fn.INTERVAL_REPEAT_SQL),
    "cast_matrix": (fn.cast_matrix, fn.CAST_MATRIX_SQL),
    "ilp_roundtrip": (fn.ilp_roundtrip, fn.ILP_ROUNDTRIP_SQL),
    "q8_market_share": (core.q8_market_share, core.Q8_SQL),
    "q9_product_profit": (core.q9_product_profit, core.Q9_SQL),
    "q14_promo_revenue": (core.q14_promo_revenue, core.Q14_SQL),
    "q18_large_orders": (core.q18_large_orders, core.Q18_SQL),
    "q19_discounted_revenue": (core.q19_discounted_revenue, core.Q19_SQL),
    "q15_top_supplier": (core.q15_top_supplier, core.Q15_SQL),
    "q16_parts_supplier_count": (core.q16_parts_supplier_count, core.Q16_SQL),
    "q22_global_sales": (core.q22_global_sales_opportunity, core.Q22_SQL),
    "sample_by_3M_2y": (ts.sample_by_3M_2y, ts.SAMPLE_BY_3M_2Y_SQL),
    "asof_join_keyless": (ts.asof_join_keyless, ts.ASOF_KEYLESS_SQL),
    "catalog_functions": (fn.catalog_functions, fn.CATALOG_FUNCTIONS_SQL),
    "sql_setop_sample_by": (sq.sql_setop_sample_by, sq.SQL_SETOP_SQL),
    "cb_topk_users": (fn.cb_topk_users, fn.CB_TOPK_USERS_SQL),
    "cb_regex_extract_group": (fn.cb_regex_extract_group, fn.CB_REGEX_GROUP_SQL),
    "sql_window_join_prevailing": (
        sq.sql_window_join_prevailing,
        sq.SQL_WINDOW_JOIN_PREVAILING_SQL,
    ),
    "dedup_cluster_canonical": (pl.dedup_cluster_canonical, pl.DEDUP_CLUSTER_SQL),
    "ema_events": (fn.ema_events, fn.EMA_EVENTS_SQL),
    "vwema_events": (fn.vwema_events, fn.VWEMA_EVENTS_SQL),
    "approx_aggs": (fn.approx_aggs, fn.APPROX_AGGS_SQL),
    "window_lead_lag": (core.window_lead_lag, core.WINDOW_LEAD_LAG_SQL),
    "window_join_events": (ts.window_join_events, ts.WINDOW_JOIN_SQL),
    "asof_join_events": (ts.asof_join_events, ts.ASOF_JOIN_SQL),
    "asof_join_tolerance": (ts.asof_join_tolerance, ts.ASOF_TOLERANCE_SQL),
    "lt_join_events": (ts.lt_join_events, ts.LT_JOIN_SQL),
    "splice_join_events": (ts.splice_join_events, ts.SPLICE_JOIN_SQL),
    "horizon_join_events": (ts.horizon_join_events, ts.HORIZON_JOIN_SQL),
    "sample_by_1h": (ts.sample_by_1h, ts.SAMPLE_BY_1H_SQL),
    "q5_region_revenue": (core.q5_region_revenue, core.Q5_SQL),
    "q6_forecast_revenue": (core.q6_forecast_revenue, core.Q6_SQL),
    "q4_priority_exists": (core.q4_priority_exists, core.Q4_SQL),
    "q7_nation_trade": (core.q7_nation_trade, core.Q7_SQL),
    "q10_returned_items": (core.q10_returned_items, core.Q10_SQL),
    "time_filter_scan": (core.time_filter_scan, core.TIME_FILTER_SQL),
    "topk_orders": (core.topk_orders, core.TOPK_SQL),
    "tail_limit_events": (core.tail_limit_events, core.TAIL_LIMIT_SQL),
    "distinct_users": (core.distinct_users, core.DISTINCT_USERS_SQL),
    "setops_nations": (core.setops_nations, core.SETOPS_SQL),
    "semi_anti_join": (core.semi_anti_join, core.SEMI_ANTI_SQL),
    "theta_join_nested_loop": (core.theta_join_nested_loop, core.THETA_JOIN_SQL),
    "agg_stats": (core.agg_stats, core.AGG_STATS_SQL),
    "vwap_lineitem": (core.vwap_lineitem, core.VWAP_SQL),
    "arg_min_max": (core.arg_min_max, core.ARG_MIN_MAX_SQL),
    "string_agg_names": (core.string_agg_names, core.STRING_AGG_SQL),
    "geomean_bool_aggs": (core.geomean_bool_aggs, core.GEOMEAN_SQL),
    "first_last_not_null": (core.first_last_not_null, core.FIRST_LAST_SQL),
    "mode_skew_kurtosis": (core.mode_skew_kurtosis, core.MODE_SKEW_SQL),
    "wide_aggregation": (core.wide_aggregation, core.WIDE_AGG_SQL),
    "datetime_functions": (core.datetime_functions, core.DATETIME_SQL),
    "string_functions": (core.string_functions, core.STRING_FN_SQL),
    "json_functions": (core.json_functions, core.JSON_FN_SQL),
    # dialect ~ / !~ / GLOB match operators
    "sql_regex_match": (sq.sql_regex_match, sq.SQL_REGEX_MATCH_SQL),
    # array/ long tail: sort/stddev/shift/round/position/reverse/count, neg
    # + scalar forms, dim_length/flatten
    "array_ops2": (fn.array_ops2, fn.ARRAY_OPS2_SQL),
    # JSON UNNEST source + typed json_extract ::T
    "sql_json_unnest": (sq.sql_json_unnest, sq.SQL_JSON_UNNEST_SQL),
    # SQL function-surface completion: scalar batch — rounding family,
    # strpos/starts_with/length_bytes, week_of_year/to_str, netmask,
    # spread_bps, to_long128, current_setting
    "sql_fn_surface_scalars": (
        sq.sql_fn_surface_scalars,
        sq.SQL_FN_SURFACE_SCALARS_SQL,
    ),
    # aggregate batch — arg_max/arg_min, count_distinct, vwap/
    # weighted_avg/weighted_stddev, skewness/kurtosis family (bare =
    # sample), twap
    "sql_fn_surface_aggs": (sq.sql_fn_surface_aggs, sq.SQL_FN_SURFACE_AGGS_SQL),
    # array batch — ARRAY[...] literals, 1-based dereference, array_elem_*
    # dual forms, matmul/transpose SQL forms, l2price
    "sql_fn_surface_arrays": (sq.sql_fn_surface_arrays, sq.SQL_FN_SURFACE_ARRAYS_SQL),
    # time-unit RANGE frame bounds in OVER ('1' HOUR PRECEDING,
    # unitless-quoted = micros, shorthand RANGE x unit PRECEDING)
    "sql_window_range_units": (
        sq.sql_window_range_units,
        sq.SQL_WINDOW_RANGE_UNITS_SQL,
    ),
    # frame EXCLUDE clauses (CURRENT ROW frame-shrink lowering, NO OTHERS
    # no-op, named WINDOW defs)
    "sql_window_exclude": (sq.sql_window_exclude, sq.SQL_WINDOW_EXCLUDE_SQL),
    # WITH over dialect bodies + optional-SELECT bare-table grammar
    "sql_with_cte_bare": (sq.sql_with_cte_bare, sq.SQL_WITH_CTE_BARE_SQL),
    # implicit GROUP BY: plain columns next to aggregates
    "sql_implicit_group_by": (sq.sql_implicit_group_by, sq.SQL_IMPLICIT_GROUP_BY_SQL),
    # negative LIMIT ranges counting from the end
    "sql_limit_neg_range": (sq.sql_limit_neg_range, sq.SQL_LIMIT_NEG_RANGE_SQL),
    # LATEST BY legacy form + DISTINCT + IN-position dialect subquery + !=
    # null comparison semantics
    "sql_grammar_r8": (sq.sql_grammar_r8, sq.SQL_GRAMMAR_R8_SQL),
    # ts = '<interval>' intrinsic + symmetric timestamp BETWEEN
    "sql_interval_eq": (sq.sql_interval_eq, sq.SQL_INTERVAL_EQ_SQL),
    "sample_by_fill_null": (ts.sample_by_fill_null, ts.SAMPLE_BY_FILL_NULL_SQL),
    "sample_by_fill_prev": (ts.sample_by_fill_prev, ts.SAMPLE_BY_FILL_PREV_SQL),
    "sample_by_fill_value": (ts.sample_by_fill_value, ts.SAMPLE_BY_FILL_VALUE_SQL),
    "sample_by_fill_linear": (ts.sample_by_fill_linear, ts.SAMPLE_BY_FILL_LINEAR_SQL),
    "latest_on_user": (ts.latest_on_user, ts.LATEST_ON_SQL),
    "window_rank": (core.window_rank, core.WINDOW_RANK_SQL),
    "window_running": (core.window_running, core.WINDOW_RUNNING_SQL),
    "window_moving_avg": (core.window_moving_avg, core.WINDOW_MOVING_AVG_SQL),
    "window_first_last_nth": (core.window_first_last_nth, core.WINDOW_FIRST_LAST_SQL),
    "window_distribution": (core.window_distribution, core.WINDOW_DISTRIBUTION_SQL),
    "q1_pricing_summary": (core.q1_pricing_summary, core.Q1_SQL),
    "q3_top_revenue": (core.q3_top_revenue, core.Q3_SQL),
    # end-to-end lexical retrieval: chunk -> token-set score -> top-k
    "chunk_retrieval_topk": (pl.chunk_retrieval_topk, pl.CHUNK_RETRIEVAL_SQL),
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
