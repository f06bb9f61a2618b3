package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{Corpus, Dedup, Multimodal, Profiling, Similarity, Skew, TextAnalysis}
import graft.queries.{IngestQueries, LogQueries, Relational, Relational2}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (SURVEY.md §2): each entry is a
  * pure `(spark, sfDir) => DataFrame` over the driver's parquet tables;
  * `oracleSql` holds the DuckDB-equivalent SQL for hash comparison.
  * Column names AND types are aligned between both engines (computed
  * integers are BIGINT on both sides; float aggregates are rounded on
  * both sides so partial-aggregation order can't flip low bits).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the star-join revenue rollup (scan+filter+3 joins+agg in one plan).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q4StarJoinRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2B relational inventory
    "q1_pricing_summary"  -> (Relational.q1PricingSummary _),
    "q2_filter_project"   -> (Relational.q2FilterProject _),
    "q3_topn_orders"      -> (Relational.q3TopNOrders _),
    "q4_star_join"        -> (Relational.q4StarJoinRevenue _),
    "q5_left_join"        -> (Relational.q5LeftJoin _),
    "q6_semi_anti_join"   -> (Relational.q6SemiAntiJoin _),
    "q7_agg_distinct"     -> (Relational.q7AggDistinct _),
    "q8_window_funcs"     -> (Relational.q8WindowFuncs _),
    "q9_rollup"           -> (Relational.q9Rollup _),
    "q10_cube"            -> (Relational.q10Cube _),
    "q11_setops"          -> (Relational.q11SetOps _),
    "q12_scalar_funcs"    -> (Relational.q12ScalarFuncs _),
    "q13_range_join"      -> (Relational.q13RangeJoin _),
    "q14_date_funcs"      -> (Relational.q14DateFuncs _),
    "q15_join_aggregate"  -> (Relational.q15JoinAggregate _),
    "q16_percentiles"     -> (Relational2.q16Percentiles _),
    "q16b_approx_pct"     -> (Relational2.q16bApproxPercentiles _), // verdict query: sketch judged vs exact
    "q17_stats_aggs"      -> (Relational2.q17StatsAggs _),
    "q18_grouping_sets"   -> (Relational2.q18GroupingSets _),
    "q19_sql_surface"     -> (Relational2.q19SqlSurface _),
    "q20_array_agg"       -> (Relational2.q20ArrayAgg _),
    "q21_approx_distinct" -> (Relational2.q21ApproxDistinct _),  // verdict query: HLL judged vs exact
    "q22_window_ranking"  -> (Relational2.q22WindowRanking _),
    "q23_conditional_agg" -> (Relational2.q23ConditionalAgg _),
    "q24_fuzzy_strings"   -> (Relational2.q24FuzzyStrings _),
    "q25_subqueries"      -> (Relational2.q25Subqueries _),
    "q26_pivot"           -> (Relational2.q26Pivot _),
    "q27_gap_fill"        -> (Relational2.q27GapFill _),
    "q28_range_frame"     -> (Relational2.q28RangeFrame _),
    "q29_lateral_explode" -> (Relational2.q29LateralExplode _),
    "q30_argmax"          -> (Relational2.q30ArgMax _),
    "q31_full_outer"      -> (Relational2.q31FullOuter _),
    "q32_setops_all"      -> (Relational2.q32SetOpsAll _),
    "q33_window_nav"      -> (Relational2.q33WindowNav _),
    // §2B log-surface queries (reference's documented ClickHouse ops)
    "logs_count_minmax"   -> (LogQueries.logsCountMinMax _),
    "logs_latest"         -> (LogQueries.logsLatest _),
    "logs_timerange"      -> (LogQueries.logsTimeRange _),
    // event-time analytics
    "events_tumbling"     -> (LogQueries.eventsTumblingWindow _),
    "events_sliding"      -> (LogQueries.eventsSlidingWindow _),
    "events_sessionize"   -> (LogQueries.eventsSessionize _),
    "events_asof_orders"  -> (LogQueries.eventsAsofOrders _),
    "events_asof_merge"   -> (LogQueries.eventsAsofOrdersMerge _),
    "events_asof_exec"    -> (LogQueries.eventsAsofOrdersExec _),
    "events_json_extract" -> (LogQueries.eventsJsonExtract _),
    "events_interval_join" -> (LogQueries.eventsIntervalJoin _),
    "events_funnel"       -> (LogQueries.eventsFunnel _),
    "events_retention"    -> (LogQueries.eventsRetention _),
    "events_rate_spike"   -> (LogQueries.eventsRateSpike _),
    "events_seq_match"    -> (LogQueries.eventsSequenceMatch _),
    "events_moving_avg"   -> (LogQueries.eventsMovingAvg _),
    "events_zorder_key"   -> (LogQueries.eventsZOrderKey _),
    "events_rollup_merge" -> ((s, d) => graft.streaming.Rollup.mergeVerdict(s, d)),
    // §2A ingestion operators (reference wire formats, inline fixtures)
    "ingest_bulk_normalize"   -> (IngestQueries.bulkNormalize _),
    "ingest_timestamp_coerce" -> (IngestQueries.timestampCoerce _),
    "ingest_array_parse"      -> (IngestQueries.arrayParse _),
    "ingest_preprocess"       -> (IngestQueries.preprocessChain _),
    // §2C extensions: dedup / similarity / text analysis
    "x_dedup_exact"     -> (Dedup.exactProfile _),
    "x_dedup_ngram"     -> (Dedup.ngramJaccardPairs _),
    "x_dedup_minhash"   -> (Dedup.minhashLshPairs _),
    "x_dedup_simhash"   -> (Dedup.simhashMd5Query _),       // md5-bit portable SimHash (hex fingerprint)
    "x_dedup_simhash_pairs" -> (Dedup.simhashPairsQuery _), // banded Hamming<=3 near-dup pairs over the fingerprints
    "x_dedup_simhash_clusters" -> (Dedup.simhashClusters _), // component labels over the banded Hamming pair graph
    "x_detector_overlap" -> (Dedup.detectorOverlap _), // jaccard-vs-simhash near-dup definition agreement matrix
    "x_dedup_clusters"  -> (Dedup.dedupClusters _),         // pair graph -> connected components
    "logs_health"       -> (LogQueries.health _),           // S5 liveness
    "x_fingerprint"     -> (Dedup.fingerprint _),
    "x_chunk_cdc"       -> (Dedup.cdcChunks _),
    "x_substr_dedup"    -> (Dedup.duplicatedSpansQuery _),
    "x_substr_apply"    -> (Dedup.spanDedupApplyQuery _),
    "x_dedup_incremental" -> ((s, d) => Dedup.incrementalNearDup(s, d)),
    "x_dedup_containment" -> (Dedup.containmentPairs _), // asymmetric quote/subset detection (rides the warm doc-set frame)
    "x_dedup_canonical" -> (Dedup.dedupCanonical _), // quality-aware keep-best-copy per cluster (rides the warm pair frame)
    "x_split_leakage"   -> (Dedup.splitLeakage _),   // near-dup pairs straddling train/val/test (rides the warm pair frame)
    "x_quality_vs_dup"  -> (Dedup.qualityVsDup _),   // per-quality-stage dup rate (rides the warm pair frame)
    "x_source_overlap"  -> (Dedup.sourceOverlap _),  // cross-source syndication matrix (rides the warm pair frame)
    "x_dataset_card"    -> (Dedup.datasetCard _),    // per-source datasheet summary (rides the warm pair frame)
    "x_lsh_tuning"      -> (Dedup.lshTuning _),      // banding S-curve design table + measured pair mass per Jaccard bucket (round 14; rides the warm pair frame)
    "x_mixture_dedup_adjusted" -> ((s, d) => Corpus.mixtureDedupAdjusted(s, d)), // temperature mixture on DEDUPLICATED token mass (round 14; rides the warm pair frame)
    "x_novelty"         -> (Dedup.noveltyScores _),  // per-doc share of corpus-unique shingles (df=1) + hottest-shingle df
    "x_dedup_winnow"    -> (Dedup.winnowFingerprints _), // MOSS winnowing: sparse fingerprints with the >=7-token match guarantee
    "x_sim_topk"        -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    "x_knn_classify"    -> ((s, d) => Similarity.knnClassify(s, d)),
    "x_knn_consistency" -> ((s, d) => Similarity.knnLabelConsistency(s, d)),
    "x_sim_lsh"         -> ((s, d) => Similarity.lshTopK(s, d)),
    "x_sim_lsh_multiprobe" -> ((s, d) => Similarity.lshTopKMultiProbe(s, d)),
    "x_sim_ivf"         -> ((s, d) => Similarity.ivfTopK(s, d)),
    "x_sim_ivf_refined" -> ((s, d) => Similarity.ivfRefinedReport(s, d)), // verdict query: refined recall judged vs literal
    "x_sim_ivf_probe"   -> ((s, d) => Similarity.ivfProbeReport(s, d)), // nprobe=4 recall-vs-cost verdict (round 15)
    "x_sim_ivf_curve"   -> ((s, d) => Similarity.ivfProbeCurve(s, d)), // recall-vs-nprobe {1,2,4,8} operating curve from ONE nprobe=8 scan (round 15)
    "x_lexrank"         -> ((s, d) => Similarity.lexRank(s, d)), // LexRank representative-doc selection: shared integer-PageRank kernel over the cell-bounded similarity graph (round 15)
    "x_lexrank_graph"   -> ((s, d) => Similarity.lexRankGraph(s, d)), // kNN-graph LexRank: the same kernel over the bounded-degree NSW neighbor graph — the 100 TB path (round 17)
    "x_cell_imbalance"  -> ((s, d) => Similarity.cellImbalance(s, d)), // FAISS imbalance_factor index-health audit over the seed cells (round 15)
    "x_rank_ndcg"       -> ((s, d) => Similarity.annNdcgReport(s, d)), // nDCG@3 rank-quality verdict over the probe frame (round 15)
    "x_kmeans_scalable" -> ((s, d) => Similarity.kmeansScalableReport(s, d)), // k-means|| oversampled seeding trajectory (Bahmani et al., round 15)
    "x_sim_ivf_kpp"     -> ((s, d) => Similarity.ivfKppReport(s, d)), // IVF search over the k-means|| seeds, recall-vs-cost verdict (round 15)
    "x_sim_mmr"         -> ((s, d) => Similarity.mmrTopK(s, d)), // MMR-diversified top-k over the bounded candidate list (Carbonell & Goldstein, round 15)
    "x_sim_nsw"         -> ((s, d) => Similarity.nswSearch(s, d)), // graph-ANN (NSW class): bounded-degree neighbor graph + fixed-round greedy beam search, recall-vs-cost vs brute truth (round 16)
    "x_sim_dim_curve"   -> ((s, d) => Similarity.dimTruncationCurve(s, d)), // Matryoshka dimension-truncation recall curve: all prefix levels from ONE scan (round 16)
    "x_sim_nsw_hier"    -> ((s, d) => Similarity.nswHierSearch(s, d)), // 2-layer NSW (the H of HNSW): md5 1/8 upper layer routes the base beam's entry (round 16)
    "x_sim_quantized"   -> ((s, d) => Similarity.quantizedTopK(s, d)),
    "x_sim_pq"          -> ((s, d) => Similarity.pqTopK(s, d)),
    "x_sim_ivf_pq"      -> ((s, d) => Similarity.ivfPqResidualTopK(s, d)), // round 14: residual encoding, 2 Lloyd's iterations, exact re-rank of the ADC shortlist (FAISS IndexIVFPQ + IndexRefineFlat)
    "x_sim_ivf_pq_probe" -> ((s, d) => Similarity.ivfPqResidualProbeTopK(s, d)), // round 15: nprobe=4 on the residual pipeline (per-probe query residuals; FAISS IndexIVFPQ nprobe)

    "x_hard_negatives"  -> ((s, d) => Similarity.hardNegatives(s, d)),
    "x_embed_neardup"   -> ((s, d) => Similarity.embeddingNearDup(s, d)),
    "x_embed_neardup_lsh" -> ((s, d) => Similarity.lshNearDupPairs(s, d)),
    "x_sim_range"       -> ((s, d) => Similarity.rangeSearch(s, d)), // radius search: exact in-range counts + LSH bucket cost/recall from ONE scan — the range_search query type beside top-k (round 17)
    "x_embed_neardup_recall" -> ((s, d) => Similarity.nearDupRecallReport(s, d)), // verdict query: candidate-generator recall judged vs exact
    "x_semantic_dedup"  -> ((s, d) => Similarity.semanticDedupQuery(s, d)),
    "x_semantic_dedup_refined" -> ((s, d) => Similarity.semanticDedupRefinedVerdict(s, d)),
    "x_semantic_clusters" -> ((s, d) => Similarity.semanticClusters(s, d)),
    "x_cluster_purity"  -> ((s, d) => Similarity.clusterPurity(s, d)),
    "x_cluster_silhouette" -> ((s, d) => Similarity.clusterSilhouette(s, d)), // simplified-silhouette validity index over the seed cells (round 15)
    "x_text_stats"      -> (TextAnalysis.corpusStats _),
    "x_text_quality"    -> (TextAnalysis.qualityScores _),
    "x_gopher_rules"    -> (TextAnalysis.gopherRules _), // Gopher/C4 rule-battery gate, integer-exact per-source failure report (round 15)
    "x_textrank"        -> (TextAnalysis.textRank _), // TextRank keywords: 5 integer-exact damped-PageRank iterations over the token co-occurrence graph (round 15)
    "x_collocations"    -> (TextAnalysis.collocations _), // PMI collocation mining over the shared bigram universe, n>=5 guard (round 15)
    "x_lang_scores"     -> (TextAnalysis.langScores _),
    "x_lang_confusion"  -> (TextAnalysis.langConfusion _),
    "x_token_bpe"       -> ((s, d) => TextAnalysis.bpeTokenCounts(s, d)),
    "x_token_fertility" -> ((s, d) => TextAnalysis.tokenFertility(s, d)), // chars/token by language over the 64-merge table (round 13)
    "x_token_unigram"   -> ((s, d) => TextAnalysis.unigramTokenCounts(s, d)), // SentencePiece-class unigram-LM twin (round 20)
    "x_repetition"      -> (TextAnalysis.repetitionScores _),
    "x_line_dedup"      -> ((s, d) => TextAnalysis.lineDedup(s, d)),
    "x_template_lines"  -> ((s, d) => TextAnalysis.templateLines(s, d)), // per-source doc-frequency boilerplate mass: the RefinedWeb domain-template read beside x_line_dedup's corpus-wide C4 rule (round 17)
    "x_template_apply"  -> ((s, d) => TextAnalysis.templateApply(s, d)), // the template CLEANER: strip df>=2 domain lines, reassemble docs — rides the memoized frequency frame the report anchors (round 17)
    "x_lm_score"        -> (TextAnalysis.lmScore _),
    "x_lm_score_kn"     -> (TextAnalysis.lmScoreKn _), // interpolated Kneser-Ney — the production smoother (round 15)
    "x_lm_score_lang"   -> ((s, d) => TextAnalysis.lmLangScores(s, d).orderBy("doc_id")), // per-language-conditioned JM model (round 14); anchors the ppl chain's memo
    "x_lm_merge_incremental" -> ((s, d) => TextAnalysis.lmMergeIncremental(s, d)), // round 14: 2/3-corpus model + merged 1/3 counts scores ALL docs; oracle = the FULL retrain, so the hash compare IS the merge-equals-retrain theorem
    "x_text_outliers"   -> (TextAnalysis.textOutliers _),
    "x_quality_classify" -> (TextAnalysis.qualityClassify _),
    "x_ppl_buckets"     -> ((s, d) => TextAnalysis.pplBuckets(s, d)), // CCNet head/middle/tail perplexity terciles (round 13; round 14: boundary compare via distributed selection, per-lang LM)
    "x_quality_train" -> ((s, d) => TextAnalysis.qualityTrain(s, d)), // integer-exact GD-trained filter weights (round 13)
    "x_quality_calibration" -> ((s, d) => TextAnalysis.qualityCalibration(s, d)), // reliability diagram of the trained filter (round 14)
    "x_quality_temperature" -> ((s, d) => TextAnalysis.qualityTemperature(s, d)), // grid-fit temperature scaling on the reliability bins (round 15)
    "x_quality_ablation" -> ((s, d) => TextAnalysis.qualityAblation(s, d)), // mean-substitution feature importance under the memoized weights (round 15)
    "x_quality_pr"      -> ((s, d) => TextAnalysis.qualityPrCurve(s, d)), // decile-threshold precision/recall menu over the trained filter (round 15)
    "x_filter_agreement" -> ((s, d) => TextAnalysis.filterAgreement(s, d)), // Gopher-gate vs trained-filter confusion cube, quality-chain rider (round 15)
    "x_tfidf"           -> ((s, d) => TextAnalysis.tfidfTopTerms(s, d)),
    "x_bm25"            -> ((s, d) => TextAnalysis.bm25Rank(s, d)),
    "x_rank_fusion"     -> ((s, d) => Similarity.rankFusion(s, d)),
    "x_multimodal_features" -> (Multimodal.featureQuery _),
    "x_multimodal_ppm"      -> (Multimodal.ppmQuery _),
    "x_image_phash"         -> (Multimodal.phashQuery _),
    "x_image_clusters"      -> (Multimodal.imageClusters _), // connected components over the phash banded-Hamming pairs — the images' dedup-apply decision (round 17)
    "x_image_stats"         -> (Multimodal.imageChannelStats _), // per-channel pixel stats off the real PPM decodes — the x_embed_stats sibling, the codec/camera drift check (round 17)
    "x_frame_sample"        -> (Multimodal.frameSampleQuery _), // video frame slicing + stride sampling + resize, oracle-proven via byte-sum checksums (round 17)
    "x_audio_energy"        -> ((s, d) => Multimodal.audioEnergyQuery(s, d)), // per-window PCM mean-square energy + silence verdict — the VAD primitive, completing the media triple (round 17)
    "x_skew_salted_join" -> ((s, d) => Skew.saltedJoinQuery(s, d)),
    // corpus assembly: splits / decontamination / packing
    "x_sample_split" -> (Corpus.sampleSplit _),
    "x_split_stratified" -> ((s, d) => Corpus.splitStratified(s, d)),
    "x_mixture_temperature" -> ((s, d) => Corpus.mixtureTemperature(s, d)),
    "x_curriculum"   -> ((s, d) => Corpus.curriculum(s, d)),
    "x_mixture_sample" -> ((s, d) => Corpus.mixtureSample(s, d)),
    "x_mixture_drift"  -> ((s, d) => Corpus.mixtureDrift(s, d)),
    "x_domain_cap"     -> ((s, d) => Corpus.domainCap(s, d)),
    "x_decontam"     -> ((s, d) => Corpus.decontaminate(s, d)),
    "x_decontam_neardup" -> ((s, d) => Dedup.decontaminateNearDup(s, d)), // fuzzy Jaccard-level contamination off the memoized pair frame (round 15)
    "x_dedup_edit"   -> ((s, d) => Dedup.editNearDup(s, d)), // Levenshtein verbatim/light-edit/paraphrase classifier over the memoized pair frame (round 15)
    "x_decontam_13gram" -> ((s, d) => Corpus.decontaminate13(s, d)), // the GPT-3/PaLM word-13-gram published standard (round 13)
    "x_eval_leakage" -> ((s, d) => Corpus.evalLeakage(s, d)),
    "x_decontam_bloom" -> ((s, d) => Corpus.decontaminateBloom(s, d)),
    "x_decontam_semantic" -> ((s, d) => Corpus.decontaminateSemantic(s, d)),
    "x_decontam_semantic_probe" -> ((s, d) => Corpus.decontaminateSemanticProbe(s, d)), // verdict query: multi-probe recall judged vs single-bucket
    "x_pack_bins"    -> ((s, d) => Corpus.packBins(s, d)),
    "x_length_batching" -> ((s, d) => Corpus.lengthBatching(s, d)),
    "x_pack_sequences" -> ((s, d) => Corpus.packSequences(s, d)),
    "x_pack_manifest"  -> ((s, d) => Corpus.packManifest(s, d)),
    "x_span_corruption" -> ((s, d) => Corpus.spanCorruption(s, d)), // deterministic T5 denoising spans (round 13)
    "x_fim_split"      -> ((s, d) => Corpus.fimSplit(s, d)), // fill-in-middle cut points + segment digests (round 13)
    "x_chunk_overlap" -> ((s, d) => Corpus.chunkOverlap(s, d)),
    "x_chunk_dedup"   -> ((s, d) => Corpus.chunkDedup(s, d)),
    "x_chunk_quality" -> ((s, d) => Corpus.chunkQuality(s, d)),
    "x_chunk_neardup" -> ((s, d) => Corpus.chunkNearDup(s, d)),
    "x_chunk_clusters" -> ((s, d) => Corpus.chunkClusters(s, d)),
    "x_chunk_incremental" -> ((s, d) => Corpus.chunkIncremental(s, d)),
    "x_dsir_sample"   -> ((s, d) => Corpus.dsirSample(s, d)),
    // data profiling + privacy scrub
    "x_profile_columns" -> (Profiling.columnProfile _),
    "x_pii_redact"      -> (TextAnalysis.piiRedact _),
    "x_text_normalize"  -> (TextAnalysis.textNormalize _),
    "x_token_hist"      -> (Profiling.tokenHistogram _),
    "x_domain_stats"    -> (Profiling.domainStats _),
    "x_domain_lang_mix" -> (Profiling.domainLangMix _),
    "x_char_entropy"    -> (Profiling.charEntropy _), // per-doc character Shannon entropy, micro-nat quantized terms — the CCNet-class garble/binary-junk detector (round 17)
    "x_lang_segments"   -> ((s, d) => TextAnalysis.langSegments(s, d)), // within-doc code-switching detector: per-line marker argmax, dominant lang + minority share (round 17)
    "x_lang_trained"    -> ((s, d) => TextAnalysis.langTrained(s, d)), // fastText-shape trained language ID: hashed char-bigram + byte-class features, one-vs-rest integer GD (round 18)
    "x_lang_trained_eval" -> ((s, d) => TextAnalysis.langTrainedEval(s, d)), // confusion-matrix verdict of the trained classifier — same report as x_lang_confusion, diffable improvement (round 18)
    "x_heavy_hitters"   -> ((s, d) => Profiling.heavyHitters(s, d)),
    "x_hll_distinct"    -> ((s, d) => Profiling.hllDistinct(s, d)), // deterministic md5 HyperLogLog — the sketch itself hash-gates (round 15)
    "x_hll_by_key"      -> ((s, d) => Profiling.hllByKey(s, d)), // GROUPED HLL: per-language vocabulary estimates, every key's 64-register sketch from one token scan (round 16)
    "x_countmin"        -> ((s, d) => Profiling.countMin(s, d)), // deterministic Count-Min sketch: est >= true hash-gated on the exact top-10 (round 15)
    "x_f2_skew"         -> ((s, d) => Profiling.f2Skew(s, d)), // AMS second-moment sketch: token self-join size / skew from 16 md5 sign sums, hash-gated vs exact F2 (round 17)
    "x_f2_by_key"       -> ((s, d) => Profiling.f2ByKey(s, d)), // GROUPED AMS F2: per-source self-join size, every key's sign registers from one token scan — anchors the f2 chain (round 17)
    "x_f2_join_size"    -> ((s, d) => Profiling.f2JoinSize(s, d)), // AMS inner product: pairwise equi-join cardinality from independently-built sign registers (AGMS PODS'99) — f2-chain rider (round 17)
    "x_kmv_overlap"     -> ((s, d) => Profiling.kmvSourceOverlap(s, d)), // KMV bottom-k theta sketch: pairwise source-vocabulary Jaccard from k-row sketches vs the exact join (round 16)
    "x_kmv_decontam"    -> ((s, d) => Profiling.kmvSplitOverlap(s, d)), // the KMV estimator keyed by the train/val/test draw: cross-split contamination monitor at sketch speed (round 16)
    "x_kmv_diff"        -> ((s, d) => Profiling.kmvSourceDiff(s, d)), // KMV a-not-b: per-direction new-shingle-mass estimate from the same two k-row sketches — the incremental-crawl read (round 17)
    "x_kmv_card"        -> ((s, d) => Profiling.kmvCardinality(s, d)), // KMV distinct-cardinality estimator (k-1)*2^32 div theta — the absolute-size read of the theta sketch, HLL's independent cross-check (round 17)
    "x_kmv_card_prod"   -> ((s, d) => Profiling.kmvCardinalityProd(s, d)), // the PRODUCTION sketch-only cardinality read, no truth leg — separates monitor cost from audit cost in the bench (round 18)
    "x_f2_prod"         -> ((s, d) => Profiling.f2Prod(s, d)), // the PRODUCTION corpus-wide F2 read: standing per-source registers merged by addition, no truth leg (round 18)
    "x_quantile_sketch" -> ((s, d) => Profiling.quantileSketch(s, d)), // deterministic md5-leveled quantile sketch (KLL sampling view) — closes q16b's rows-only gap (round 16)
    "x_quantile_by_key" -> ((s, d) => Profiling.quantileByKey(s, d)), // GROUPED quantile sketch: per-language length percentiles, every key its own j* off one shared histogram scan (round 16)
    "x_sample_exact_k"  -> ((s, d) => Corpus.sampleExactK(s, d)), // exactly-k uniform sample via bottom-k order statistics: one scan, mergeable, no sort (round 16)
    "x_sample_weighted" -> ((s, d) => Corpus.sampleWeighted(s, d)), // Efraimidis-Spirakis A-ES weighted sample under the trained filter's probabilities — quality-weighted resampling (round 17)
    "x_sample_weighted_by_key" -> ((s, d) => Corpus.sampleWeightedByKey(s, d)), // stratified A-ES: per-language top-k by the same keys — domain-balanced quality sampling (round 17)
    "x_equidepth_hist"  -> ((s, d) => Profiling.equiDepthHist(s, d)),
    "x_embed_stats"     -> (Profiling.embeddingStats _),
    "x_embed_outliers"  -> ((s, d) => Similarity.embedOutliers(s, d)),
    "x_ngram_diversity" -> (Profiling.ngramDiversity _),
    "x_vocab_growth"    -> ((s, d) => Profiling.vocabGrowth(s, d)),
    "x_zipf_fit"        -> ((s, d) => Profiling.zipfFit(s, d)),
    "x_embed_pca"       -> ((s, d) => Profiling.embedPca(s, d)),
    "x_embed_anisotropy" -> ((s, d) => Profiling.embedAnisotropy(s, d)),
    "x_embed_whiten"    -> ((s, d) => Profiling.embedWhiten(s, d)),
    "x_embed_rp"        -> ((s, d) => Profiling.embedRandomProjection(s, d)),
    "x_source_prior"    -> ((s, d) => Profiling.sourceQualityPrior(s, d)),
    "x_domain_topk"     -> ((s, d) => Profiling.domainTopK(s, d)),
    "x_psi_drift"       -> ((s, d) => Profiling.psiDrift(s, d)),
    // the capstone: dedup + repetition + length verdicts per document
    "x_dedup_apply"     -> (Dedup.applyVerdicts _),
    // and the funnel over the WHOLE battery (rides the warm pair frame)
    "x_filter_funnel"   -> (Dedup.filterFunnel _),
    // gate-ORDER sensitivity: the same five verdicts under three
    // battery orders, drop attribution per order, invariant final
    // survivors (round 18 — rides the funnel's warm verdict subtree)
    "x_funnel_orders"   -> (Dedup.funnelOrders _),
  )

  /** The keep-warm chains, declared once. A chain's head is its
    * ANCHOR: it builds a memoized frame or value. Every later entry is
    * a RIDER: it runs right after its predecessor WITHOUT the runners'
    * pre-query cache flush, so it consumes what the anchor built and
    * prices only its own increment — the production shape, where an
    * artifact is computed once per corpus and every downstream
    * decision pays only for itself. Bench's chain-witness pass must
    * run the anchor before its riders or every rider's "witness" pays
    * a full rebuild (round 14: the r13 artifact carried
    * x_dedup_simhash_clusters at 3.0 s in chain passes vs 0.32 s
    * standalone for exactly this reason).
    */
  val chains: Seq[Seq[String]] = Seq(
    // the ngram chain: clusters, canonical and apply reuse
    // x_dedup_ngram's pair frame (apply also the cluster labels),
    // incremental judges the arriving batch against the same pair
    // graph, containment probes the same doc-set frame for asymmetric
    // (quote/subset) pairs. Round 14: the banding design table and the
    // dedup-adjusted mixture ride the same pair frame (a bucket and a
    // |sources|-row aggregate); round 15: fuzzy decontamination (the
    // pair frame restricted to corpus×eval incidence) and the
    // edit-distance classifier (two text joins + the row-local DP).
    // Round 14: the simhash block CONTINUES this chain instead of
    // being flush-isolated — x_detector_overlap rides BOTH the ngram
    // pair frame and the simhash fingerprint frame, so a flush at the
    // simhash anchor made its witness pay a full ngram-pair rebuild;
    // the warm ngram frames don't subsidize the fingerprint build
    // (its memo is disjoint from the pair memo), so
    // x_dedup_simhash_pairs' own price stays honest
    Seq("x_dedup_ngram", "x_dedup_clusters", "x_dedup_canonical", "x_dedup_apply",
      "x_dedup_incremental", "x_dedup_containment", "x_split_leakage",
      "x_quality_vs_dup", "x_source_overlap", "x_filter_funnel", "x_funnel_orders",
      "x_dataset_card", "x_lsh_tuning", "x_mixture_dedup_adjusted",
      "x_decontam_neardup", "x_dedup_edit",
      "x_dedup_simhash_pairs", "x_dedup_simhash_clusters", "x_detector_overlap"),
    // round 12: clusters rides the pair frame x_chunk_neardup just
    // built and prices only its component solve
    Seq("x_chunk_neardup", "x_chunk_clusters"),
    // round 14: the perplexity family rides the memoized per-language
    // LM score frame — buckets price the boundary selection + row-local
    // banding, outliers the |langs|-row moments, not three LM trainings
    Seq("x_lm_score_lang", "x_ppl_buckets", "x_text_outliers"),
    // round 15: the trained-filter chain — the anchor fits the weight
    // vector once; the ablation audit (one mean aggregate + one scan),
    // the calibration diagram and temperature fit (one selection pass
    // + a ≤10-row aggregate each), the PR operating-point menu, the
    // heuristic-vs-trained agreement matrix (two row-local scans + a
    // 4-cell aggregate) and (round 17) the weighted sample and its
    // stratified twin (one probability projection + a bounded bottom-k
    // aggregate each) ride it, never a GD re-run (VERDICT r14 #1)
    Seq("x_quality_train", "x_quality_ablation", "x_quality_calibration",
      "x_quality_temperature", "x_quality_pr", "x_filter_agreement",
      "x_sample_weighted", "x_sample_weighted_by_key"),
    // round 15: the kpp-seeded IVF search rides the memoized k-means||
    // training run the trajectory report just priced — one assignment
    // scan + bounded top-k, not a re-training
    Seq("x_kmeans_scalable", "x_sim_ivf_kpp"),
    // round 15 (review): the probe report and the nDCG verdict ride the
    // memoized nprobe=8 probe-candidate frame the operating curve
    // builds — each prices its own aggregation + brute truth scan; their
    // nprobe=4 sets are prefix filters of the anchored frame
    Seq("x_sim_ivf_curve", "x_sim_ivf_probe", "x_rank_ndcg"),
    // round 16: the nprobe face of the residual IVF-PQ search rides the
    // memoized (seeds, books) training artifact the single-cell search
    // just fit — one encode projection + the probe explode-join, not a
    // duplicate 2-iteration Lloyd's run (VERDICT r15 #1)
    Seq("x_sim_ivf_pq", "x_sim_ivf_pq_probe"),
    // round 17: the a-not-b and cardinality faces ride the memoized
    // truth-leg tok frame the overlap report builds — each prices its
    // own sketch re-aggregation, never a second distinct-shingle build;
    // round 18: the production cardinality read (a bottom-k
    // re-aggregate + k-row arithmetic) closes the chain
    Seq("x_kmv_overlap", "x_kmv_diff", "x_kmv_card", "x_kmv_card_prod"),
    // round 17: the hierarchical face and the kNN-graph LexRank ride
    // the memoized base neighbor graph (and seedAssigned) the flat NSW
    // search builds; standalone, each re-paid the within-cell top-m
    // graph build (9.9 s for x_lexrank_graph vs the ~2 s incremental
    // PageRank it adds)
    Seq("x_sim_nsw", "x_sim_nsw_hier", "x_lexrank_graph"),
    // round 17: the cleaner rides the memoized (source, lh, df)
    // frequency frame the template report builds — one anti-join + the
    // per-doc reassembly, never a second frequency aggregate
    Seq("x_template_lines", "x_template_apply"),
    // round 17: the AGMS join-size face rides the memoized grouped sign
    // registers x_f2_by_key builds (pair-matrix arithmetic over
    // ≤ s·|sources| rows plus its truth join); round 18: the
    // corpus-wide production F2 read merges the same registers by
    // addition — s rows of arithmetic, no token scan
    Seq("x_f2_by_key", "x_f2_join_size", "x_f2_prod"),
    // round 18: the anchor builds the memoized per-doc feature frame
    // (one bigram explode) + the OVR weights; the confusion verdict
    // rides both — one 5000-row scoring pass + a 25-cell aggregate
    Seq("x_lang_trained", "x_lang_trained_eval"))

  /** The riders: every chain entry after its head. */
  val keepWarmQueries: Set[String] = chains.flatMap(_.tail).toSet

  /** The chain anchors: every chain's head. */
  val chainAnchors: Set[String] = chains.map(_.head).toSet

  /** Execution order shared by Bench, Verify, and TimeMany: sorted, with
    * each chain run whole, in its declared order, at its anchor's
    * place. The `require` makes a rename of a chained query a loud
    * failure instead of silently dropping it from every runner
    * (ADVICE r3).
    */
  def orderedQueryNames: Seq[String] = {
    require(chains.flatten.forall(queries.contains),
      s"ordered-run contract expects ${chains.flatten.mkString(", ")} in " +
        "SparkEntry.queries (rename them in `chains` too)")
    val chainOf = chains.map(c => c.head -> c).toMap
    queries.keys.toSeq.sorted
      .filterNot(keepWarmQueries)
      .flatMap(n => chainOf.getOrElse(n, Seq(n)))
  }

  /** DuckDB-runnable oracle SQL, one per `queries` key (same column
    * names, same ordering, same rounding).
    */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) AS net_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1995-02-01 00:00:00'
           AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "q3_topn_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
         FROM orders ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 10""",
    "q4_star_join" ->
      """SELECT r_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q5_left_join" ->
      """SELECT c_custkey, c_mktsegment,
         count(o_orderkey) AS n_orders,
         round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""",
    "q6_semi_anti_join" ->
      """SELECT 'with_orders' AS kind, count(*) AS n FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT 'without_orders' AS kind, count(*) AS n FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY kind""",
    "q7_agg_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q8_window_funcs" ->
      """SELECT * FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             lag(l_quantity, 1) OVER w AS prev_qty,
             round(sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
           FROM lineitem WHERE l_suppkey <= 10
           WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
         ) t WHERE rn <= 20 ORDER BY l_suppkey, rn""",
    "q9_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q10_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
         round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q11_setops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
              b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
         SELECT 'union' AS op, count(*) AS n FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
         UNION ALL
         SELECT 'intersect' AS op, count(*) AS n FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
         UNION ALL
         SELECT 'except' AS op, count(*) AS n FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
         ORDER BY op""",
    "q12_scalar_funcs" ->
      """SELECT p_partkey,
         upper(p_brand) AS brand_up,
         lower(p_type) AS type_lo,
         substr(p_name, 1, 8) AS name8,
         CAST(length(p_name) AS BIGINT) AS name_len,
         regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
         round(sqrt(p_retailprice), 4) AS price_sqrt,
         round(fmod(p_retailprice, 7.0), 4) AS price_mod,
         CAST(p_size * 2 + 1 AS BIGINT) AS size2,
         concat_ws('-', p_brand, p_type) AS brand_type
         FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""",
    "q13_range_join" ->
      """SELECT band, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price
         FROM part JOIN (VALUES
           ('b1_budget', 0.0, 925.0), ('b2_mid', 925.0, 950.0),
           ('b3_high', 950.0, 975.0), ('b4_premium', 975.0, 100000.0)
         ) AS bands(band, lo, hi)
         ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY band ORDER BY band""",
    "q14_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(quarter(o_orderdate) AS BIGINT) AS q,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue,
         count(DISTINCT o_custkey) AS n_custs
         FROM orders GROUP BY y, q ORDER BY y, q""",
    "q15_join_aggregate" ->
      """SELECT o_orderpriority, count(*) AS n_above
         FROM orders o JOIN (
           SELECT o_custkey AS ck, avg(o_totalprice) AS cust_avg
           FROM orders GROUP BY o_custkey
         ) ca ON o.o_custkey = ca.ck
         WHERE o.o_totalprice > ca.cust_avg * 1.5
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q16_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
         round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Verdict query (sketches differ cross-engine): the Spark side emits
    // the exact percentiles plus its own sketch-vs-exact 5% judgment;
    // the oracle recomputes the exacts and asserts the judgment holds.
    "q16b_approx_pct" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
         round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
         count(*) AS n, true AS within_5pct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q17_stats_aggs" ->
      """SELECT l_linestatus,
         round(stddev_samp(l_quantity), 4) AS sd_qty,
         round(var_samp(l_extendedprice), 2) AS var_price,
         round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
         round(covar_samp(l_discount, l_tax), 6) AS cov_disc_tax
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q18_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
         count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority), ())
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q19_sql_surface" ->
      """SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         o_orderdate, o_orderpriority
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
           AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q20_array_agg" ->
      """SELECT o_orderstatus,
         array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
         count(DISTINCT o_orderpriority) AS n_priorities,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // Verdict query (HLL estimates differ cross-engine): exact distinct
    // plus Spark's own sketch-vs-exact 5% judgment, asserted true here.
    "q21_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
         true AS within_5pct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q22_window_ranking" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume
         FROM orders WHERE o_orderkey < 2000
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderstatus, o_orderkey""",
    "q23_conditional_agg" ->
      """SELECT o_orderstatus,
         count(CASE WHEN o_totalprice > 300000 THEN 1 END) AS n_big,
         round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS urgent_revenue,
         round(avg(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN o_totalprice END), 4) AS hi_prio_avg,
         round(sum((CASE o_orderpriority
             WHEN '1-URGENT' THEN 5.0 WHEN '2-HIGH' THEN 4.0 WHEN '3-MEDIUM' THEN 3.0
             WHEN '4-NOT SPECIFIED' THEN 2.0 WHEN '5-LOW' THEN 1.0 END) * o_totalprice), 2) AS weighted_revenue
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q24_fuzzy_strings" ->
      """SELECT p_partkey, p_name,
         CAST(levenshtein(p_name, 'red widget') AS BIGINT) AS dist_widget,
         lpad(p_brand, 12, '*') AS brand_padded,
         translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
         reverse(p_brand) AS brand_rev
         FROM part WHERE p_partkey < 50 ORDER BY p_partkey""",
    // argMax/argMin idiom; per-group max/min totalprice is unique at the
    // correctness SF (probed), so the arg columns are deterministic.
    "q30_argmax" ->
      """SELECT o_orderstatus,
         arg_max(o_orderkey, o_totalprice) AS max_price_order,
         round(max(o_totalprice), 2) AS max_price,
         arg_min(o_orderkey, o_totalprice) AS min_price_order,
         round(min(o_totalprice), 2) AS min_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q31_full_outer" ->
      """WITH a AS (SELECT o_custkey AS ck_spend95, round(sum(o_totalprice), 2) AS spend95
                    FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
         b AS (SELECT o_custkey AS ck_spend96, round(sum(o_totalprice), 2) AS spend96
               FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
         SELECT coalesce(ck_spend95, ck_spend96) AS custkey, spend95, spend96,
           (ck_spend95 IS NOT NULL AND ck_spend96 IS NOT NULL) AS in_both
         FROM a FULL OUTER JOIN b ON ck_spend95 = ck_spend96
         ORDER BY custkey""",
    "q32_setops_all" ->
      """WITH a AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'O')
         SELECT 'except_all' AS op, count(*) AS n
         FROM (SELECT p FROM a EXCEPT ALL SELECT p FROM b)
         UNION ALL
         SELECT 'intersect_all' AS op, count(*) AS n
         FROM (SELECT p FROM a INTERSECT ALL SELECT p FROM b)
         ORDER BY op""",
    "q33_window_nav" ->
      """SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
           nth_value(o_orderkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ok
         FROM orders WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "logs_count_minmax" ->
      """SELECT count(*) AS n_events, min(ts) AS min_ts, max(ts) AS max_ts FROM events""",
    "logs_latest" ->
      """SELECT event_id, ts, user_id, event_type FROM events
         ORDER BY ts DESC, event_id ASC LIMIT 10""",
    "logs_timerange" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
         GROUP BY event_type ORDER BY event_type""",
    // MV-rollup merge verdict: the direct minute aggregate replayed,
    // merged_matches = TRUE as the expected theorem constant (Spark
    // computes both the batched-partial merge and the direct pass).
    "events_rollup_merge" ->
      """SELECT make_timestamp((epoch_us(ts) // 60000000) * 60000000) AS m,
         event_type, CAST(count(*) AS BIGINT) AS n,
         round(sum(value), 2) AS sum_value, TRUE AS merged_matches
         FROM events GROUP BY m, event_type
         ORDER BY m, event_type""",
    "events_tumbling" ->
      """SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS win_start,
         event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY win_start, event_type
         ORDER BY win_start, event_type""",
    // Salted join is result-identical to the plain join — the oracle IS
    // the plain join; only the physical shuffle layout differs.
    "x_skew_salted_join" ->
      """SELECT p_brand, count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",
    "q25_subqueries" ->
      """SELECT c_custkey, c_name,
           (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
         ORDER BY c_custkey LIMIT 50""",
    "q26_pivot" ->
      """SELECT o_orderstatus,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS "1-URGENT",
           round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS "2-HIGH",
           round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS "3-MEDIUM",
           round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS "4-NOT SPECIFIED",
           round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS "5-LOW"
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q27_gap_fill" ->
      """WITH c AS (
           SELECT date_trunc('minute', ts) AS m, count(*) AS cnt FROM events GROUP BY 1
         ), b AS (SELECT min(m) AS mn, max(m) AS mx FROM c),
         g AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS m FROM b)
         SELECT g.m, coalesce(c.cnt, 0) AS n
         FROM g LEFT JOIN c ON g.m = c.m ORDER BY g.m""",
    "q29_lateral_explode" ->
      """SELECT t.word, count(*) AS n, count(DISTINCT p_partkey) AS n_parts
         FROM part, unnest(string_split(p_name, ' ')) AS t(word)
         WHERE p_partkey < 200
         GROUP BY t.word HAVING count(*) >= 3
         ORDER BY t.word""",
    "q28_range_frame" ->
      """SELECT o_orderkey,
           CAST(count(*) OVER w AS BIGINT) AS n_7d,
           round(sum(o_totalprice) OVER w, 2) AS rev_7d
         FROM orders WHERE o_orderkey < 500
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",
    "events_sliding" ->
      """WITH w AS (
           SELECT make_timestamp((epoch_us(ts) // 10800000000 - k.k) * 10800000000) AS win_start,
                  event_type, value
           FROM events, range(2) AS k(k)
         )
         SELECT win_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM w GROUP BY win_start, event_type
         ORDER BY win_start, event_type""",
    "events_sessionize" ->
      """WITH gaps AS (
           SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events
         ), flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
           FROM gaps
         ), sessions AS (
           SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
             ts
           FROM flagged
         ), per_session AS (
           SELECT user_id, session_id, count(*) AS n_events
           FROM sessions GROUP BY user_id, session_id
         )
         SELECT user_id, count(*) AS n_sessions,
           round(avg(n_events), 4) AS avg_events_per_sess,
           max(n_events) AS max_events
         FROM per_session GROUP BY user_id ORDER BY user_id""",
    // Batch twin of the stream-stream interval join (same Dataset code).
    "events_interval_join" ->
      """WITH l AS (SELECT event_id AS l_id, user_id, ts AS l_ts FROM events
                    WHERE event_id % 2 = 0 AND event_id < 1000),
         r AS (SELECT event_id AS r_id, user_id, ts AS r_ts FROM events
               WHERE event_id % 2 = 1)
         SELECT l.user_id, l_id, r_id, l_ts, r_ts
         FROM l JOIN r ON l.user_id = r.user_id
                      AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 6 HOUR
         ORDER BY l_id, r_id""",
    // Strict ordered funnel, 24 h per step: each stage's earliest
    // qualifying event given the previous stage's timestamp.
    "events_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click
               FROM events e JOIN v ON e.user_id = v.user_id
                AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 24 HOUR
               WHERE e.event_type = 'click' GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase
               FROM events e JOIN c ON e.user_id = c.user_id
                AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 24 HOUR
               WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                     WHEN c.t_click IS NOT NULL THEN 2
                     WHEN v.t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN v ON u.user_id = v.user_id
         LEFT JOIN c ON u.user_id = c.user_id
         LEFT JOIN p ON u.user_id = p.user_id
         ORDER BY u.user_id""",
    // Cohort = each user's first event date; retained = any event at
    // that day offset (0-7).
    "events_retention" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
                    FROM events GROUP BY user_id),
         d AS (SELECT DISTINCT e.user_id, f.cohort,
                 CAST(date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset
               FROM events e JOIN f ON e.user_id = f.user_id)
         SELECT cohort, day_offset, count(*) AS n_users
         FROM d WHERE day_offset <= 7
         GROUP BY cohort, day_offset ORDER BY cohort, day_offset""",
    // Spike flag compares the integer count against the UNROUNDED
    // per-type mean (exact integer sum / count on both engines).
    "events_rate_spike" ->
      """WITH m AS (SELECT date_trunc('minute', ts) AS m, event_type, count(*) AS n
                    FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, avg(n) AS mean_n FROM m GROUP BY event_type)
         SELECT m.m, m.event_type, m.n, round(s.mean_n, 4) AS mean_n,
           m.n >= s.mean_n * 3 AS spike
         FROM m JOIN s ON m.event_type = s.event_type
         ORDER BY m.m, m.event_type""",
    // "A strictly before B" per user = min(ts|A) < max(ts|B).
    "events_seq_match" ->
      """SELECT user_id,
           coalesce(min(CASE WHEN event_type = 'view' THEN ts END)
                  < max(CASE WHEN event_type = 'purchase' THEN ts END), FALSE) AS view_then_purchase,
           coalesce(min(CASE WHEN event_type = 'signup' THEN ts END)
                  < max(CASE WHEN event_type = 'error' THEN ts END), FALSE) AS signup_then_error,
           coalesce(min(CASE WHEN event_type = 'error' THEN ts END)
                  < max(CASE WHEN event_type = 'purchase' THEN ts END), FALSE) AS error_then_purchase
         FROM events GROUP BY user_id ORDER BY user_id""",
    "events_moving_avg" ->
      """WITH m AS (SELECT date_trunc('minute', ts) AS m, event_type, count(*) AS n
                    FROM events GROUP BY 1, 2)
         SELECT m, event_type, n,
           round(avg(n) OVER (PARTITION BY event_type ORDER BY m
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS ma5
         FROM m ORDER BY m, event_type""",
    // Morton interleave of two 8-bit bucketed dims, spelled bit by bit.
    "events_zorder_key" -> {
      val terms = (0 until 8).map { b =>
        s"(((ux >> $b) & 1) << ${2 * b}) + (((tx >> $b) & 1) << ${2 * b + 1})"
      }.mkString(" + ")
      s"""WITH e AS (SELECT event_id,
           CAST(user_id % 256 AS BIGINT) AS ux,
           CAST((hour(ts) * 60 + minute(ts)) % 256 AS BIGINT) AS tx
         FROM events)
         SELECT event_id, ux, tx, CAST($terms AS BIGINT) AS zkey
         FROM e ORDER BY event_id"""
    },
    "events_asof_orders" -> asofOracle,
    "events_asof_merge"  -> asofOracle,   // same contract, sort-merge impl
    "events_asof_exec"   -> asofOracle,   // same contract, custom physical op
    "events_json_extract" ->
      """SELECT event_type, count(*) AS n,
         round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
         CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    // Ingest oracles are golden rows: expected outputs derived from the
    // reference's documented semantics (main.go:255-516), literal so
    // DuckDB needs no JSON machinery.
    "ingest_bulk_normalize" ->
      """SELECT * FROM (VALUES
         (TIMESTAMP '2025-12-04 10:00:00', 'app log line', 'app', 'server1', '', '', 'filebeat', '8.11.0', '/var/lib/docker/containers/abc/abc-json.log', '{"@timestamp":"2025-12-04T10:00:00Z","message":"app log line","container":{"name":"app"},"host":{"name":"server1"},"agent":{"name":"filebeat","version":"8.11.0"},"log":{"file":{"path":"/var/lib/docker/containers/abc/abc-json.log"}}}'),
         (TIMESTAMP '2025-12-04 10:02:03', 'naked doc', 'c42', '', '', '', '', '', '', '{"@timestamp":"2025-12-04 10:02:03","message":"naked doc","container":{"id":"c42"}}'),
         (TIMESTAMP '2025-12-04 10:05:06', 'nano ts', '', '', '', '', '', '', '', '{"@timestamp":"2025-12-04T10:05:06.123456789Z","message":"nano ts"}'),
         (TIMESTAMP '2025-12-05 00:00:00', 'no ts', '', '', '', '', '', '', '', '{"message":"no ts","custom_field":"kept-only-in-raw","service":{"name":"api"}}'),
         (TIMESTAMP '2025-12-04 10:30:00', 'offset ts', '', '', '', '', '', '', '', '{"@timestamp":"2025-12-04T18:30:00+08:00","message":"offset ts"}'),
         (TIMESTAMP '2025-12-04 10:01:00', 'second line', '', '', 'abc123', 'app', '', '', '', '{"@timestamp":"2025-12-04T10:01:00.123Z","message":"second line","docker":{"container":{"id":"abc123","name":"app"}}}')
         ) AS t("timestamp", message, container, host_name, docker_container_id, docker_container_name, agent_name, agent_version, log_file_path, raw_json)
         ORDER BY message""",
    "ingest_timestamp_coerce" ->
      """SELECT * FROM (VALUES
         (CAST(1 AS BIGINT), TIMESTAMP '2025-12-04 10:00:00'),
         (CAST(2 AS BIGINT), TIMESTAMP '2025-12-04 02:00:00'),
         (CAST(3 AS BIGINT), TIMESTAMP '2025-12-04 10:00:00'),
         (CAST(4 AS BIGINT), TIMESTAMP '2025-12-04 10:00:00'),
         (CAST(5 AS BIGINT), TIMESTAMP '2025-12-04 10:00:00'),
         (CAST(6 AS BIGINT), TIMESTAMP '2025-12-05 00:00:00'),
         (CAST(7 AS BIGINT), TIMESTAMP '2025-12-05 00:00:00')
         ) AS t(id, ts) ORDER BY id""",
    "ingest_array_parse" ->
      """SELECT * FROM (VALUES
         (TIMESTAMP '2025-12-04 10:00:00', 'one', 'h1'),
         (TIMESTAMP '2025-12-04 10:00:02', 'three', ''),
         (TIMESTAMP '2025-12-04 10:00:01', 'two', '')
         ) AS t("timestamp", message, host_name) ORDER BY message""",
    // T10 golden rows (filebeat.yml:13-27): decode_json_fields merge
    // with overwrite (rows 1, 5 — the inner doc's own @timestamp wins),
    // non-JSON passthrough + host enrich (2), forwarded tag gates the
    // enrich (3), rename skipped when target exists (4).
    "ingest_preprocess" ->
      """SELECT * FROM (VALUES
         (CAST(1 AS BIGINT), TIMESTAMP '2025-12-04 10:00:00', 'inner msg', 'h1', 'error', '42'),
         (CAST(2 AS BIGINT), TIMESTAMP '2025-12-04 10:01:00', 'plain text line', 'graft-host', '', ''),
         (CAST(3 AS BIGINT), TIMESTAMP '2025-12-04 10:02:00', 'fwd line', '', '', ''),
         (CAST(4 AS BIGINT), TIMESTAMP '2025-12-04 09:00:00', 'has both', 'graft-host', '', ''),
         (CAST(5 AS BIGINT), TIMESTAMP '2025-12-04 12:00:00', 'inner wins', 'graft-host', '', '')
         ) AS t(id, ts, message, host_name, level, code) ORDER BY id""",
    // §2C extensions. x_dedup_ngram and x_dedup_minhash share one oracle:
    // the LSH path verifies candidates with exact Jaccard, and at 128
    // hashes / 32 bands the miss probability at J≥0.8 is < 6e-8, so both
    // must produce the rare-shingle (df≤100) Jaccard≥0.8 pair set.
    "x_dedup_exact" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_distinct_text,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",
    "x_dedup_ngram" -> ngramJaccardOracle,
    "x_dedup_minhash" -> ngramJaccardOracle,
    // Fuzzy decontamination: the exact Jaccard>=0.8 pair contract
    // restricted to corpus×eval incidence (eval = doc_id < 20), one
    // aggregate per corpus doc. `pj` is MATERIALIZED — both UNION
    // sides reference it (the per-reference inlining hazard would
    // replay the pair join twice).
    "x_decontam_neardup" ->
      s"""WITH $ngramPairCtes,
         pj AS MATERIALIZED (
           SELECT d1, d2, sh / (n1.n_ng + n2.n_ng - sh) AS jac
           FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
           WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
         sides AS (SELECT d1 AS doc_id, d2 AS other, jac FROM pj
                   UNION ALL SELECT d2 AS doc_id, d1 AS other, jac FROM pj),
         hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nm, max(jac) AS mj
                  FROM sides WHERE doc_id >= 20 AND other < 20 GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(coalesce(h.nm, 0) AS BIGINT) AS n_eval_matches,
           round(coalesce(h.mj, 0), 6) AS max_jac,
           coalesce(h.nm, 0) >= 1 AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         WHERE d.doc_id >= 20 ORDER BY d.doc_id""",
    // Edit-distance classifier over the verified pair set: integer DP
    // distance, micro-unit edit similarity (integer div), terminal
    // 6-dp round on jac only. `pj` is referenced once — no
    // materialization point.
    "x_dedup_edit" ->
      s"""WITH $ngramPairCtes,
         pj AS (SELECT d1, d2, sh / (n1.n_ng + n2.n_ng - sh) AS jac
                FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
                WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
         e AS (SELECT d1, d2, round(jac, 6) AS jac,
                 CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
                 CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len
               FROM pj JOIN documents a ON pj.d1 = a.doc_id
                       JOIN documents b ON pj.d2 = b.doc_id),
         k AS (SELECT d1, d2, jac, lev, max_len,
                 (max_len - lev) * 1000000 // max_len AS edit_sim FROM e)
         SELECT d1, d2, jac, lev, max_len, CAST(edit_sim AS BIGINT) AS edit_sim,
           CASE WHEN edit_sim >= 900000 THEN 'verbatim'
                WHEN edit_sim >= 700000 THEN 'light_edit'
                ELSE 'paraphrase' END AS kind
         FROM k ORDER BY d1, d2""",
    "x_dedup_clusters" -> dedupClustersOracle,
    "x_dedup_canonical" -> dedupCanonicalOracle,
    "x_split_leakage" -> splitLeakageOracle,
    // Quality-stage vs duplication calibration: the curriculum quartile
    // stages joined against the distinct doc set of the verified pair
    // mass; 4-row aggregate with one terminal rounded division.
    "x_quality_vs_dup" ->
      s"""WITH $ngramPairCtes,
         pairs AS (
           SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
           WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
         dup AS (SELECT DISTINCT doc_id FROM
           (SELECT d1 AS doc_id FROM pairs UNION ALL SELECT d2 FROM pairs)),
         q AS (
           SELECT doc_id,
             $qualityScoreSql AS score
           FROM documents),
         b AS (SELECT list_transform(quantile_cont(score, [0.25, 0.5, 0.75]),
                 x -> round(x, 6)) AS bs FROM q),
         st AS (SELECT doc_id,
             CAST(4 - list_sum(list_transform(bs, x -> CASE WHEN score > x THEN 1 ELSE 0 END)) AS BIGINT) AS stage
           FROM q, b)
         SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_rate
         FROM st LEFT JOIN dup ON st.doc_id = dup.doc_id
         GROUP BY stage ORDER BY stage""",
    // Cross-source syndication matrix: verified pairs joined to the
    // (doc_id, source) projection, cells canonicalized (least, greatest).
    "x_source_overlap" ->
      s"""WITH $ngramPairCtes,
         pairs AS (
           SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
           WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
         j AS (SELECT least(a.source, b.source) AS source_a,
                 greatest(a.source, b.source) AS source_b
               FROM pairs JOIN documents a ON pairs.d1 = a.doc_id
                          JOIN documents b ON pairs.d2 = b.doc_id)
         SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
           source_a <> source_b AS cross_source
         FROM j GROUP BY source_a, source_b
         ORDER BY source_a, source_b""",
    // novelty: df over ALL shingles (no df cap — the count itself is the
    // signal), then per-doc rollup; same g0 shingle universe as the pair
    // CTEs' first stage
    "x_novelty" ->
      """WITH g0 AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(length(text) - 6, 2)), i -> substr(text, i, 8))) AS ng
           FROM documents),
         df AS (SELECT ng, count(*) AS df FROM g0 GROUP BY ng)
         SELECT doc_id, count(*) AS n_sh,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           max(df) AS max_df,
           round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novel_share
         FROM g0 JOIN df USING (ng)
         GROUP BY doc_id ORDER BY doc_id""",
    // Per-eval-doc leakage report: eval shingles (doc_id < 20) vs the
    // rest of the corpus's shingle set; coverage share, burned >= 0.5.
    "x_eval_leakage" ->
      """WITH g0 AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(length(text) - 6, 2)), i -> substr(text, i, 8))) AS ng
           FROM documents),
         ev AS (SELECT doc_id, ng FROM g0 WHERE doc_id < 20),
         m AS (SELECT DISTINCT g0.ng FROM g0
               JOIN (SELECT DISTINCT ng FROM ev) e ON g0.ng = e.ng
               WHERE g0.doc_id >= 20)
         SELECT ev.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
           CAST(sum(CASE WHEN m.ng IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
           round(CAST(sum(CASE WHEN m.ng IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage,
           (round(CAST(sum(CASE WHEN m.ng IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) >= 0.5) AS burned
         FROM ev LEFT JOIN m ON ev.ng = m.ng
         GROUP BY ev.doc_id ORDER BY ev.doc_id""",
    // Winnowing (MOSS): identical md5-hex lexicographic selection on
    // both engines; w=4 token windows, winnow window k=4, rightmost min
    "x_dedup_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         h AS (SELECT doc_id, len(toks) AS n_tok,
                 CASE WHEN len(toks) >= 4 THEN
                   list_transform(range(1, len(toks) - 2),
                     i -> md5(array_to_string(toks[i:i+3], ' ')))
                 ELSE CAST([] AS VARCHAR[]) END AS hs
               FROM t),
         s AS (SELECT doc_id, n_tok, hs,
                 CASE WHEN len(hs) >= 4 THEN
                   list_distinct(list_transform(range(1, len(hs) - 2),
                     j -> j + 4 - list_position(list_reverse(hs[j:j+3]), list_min(hs[j:j+3]))))
                 WHEN len(hs) >= 1 THEN
                   [len(hs) + 1 - list_position(list_reverse(hs), list_min(hs))]
                 ELSE CAST([] AS BIGINT[]) END AS sel
               FROM h),
         f AS (SELECT DISTINCT doc_id, hs[CAST(p AS INT)] AS fp
               FROM s, unnest(sel) AS u(p)),
         d AS (SELECT fp, count(*) AS df FROM f GROUP BY fp),
         m AS (SELECT f.doc_id, count(*) AS n_matched
               FROM f JOIN d ON f.fp = d.fp WHERE d.df >= 2 GROUP BY f.doc_id)
         SELECT s.doc_id, CAST(greatest(n_tok - 3, 0) AS BIGINT) AS n_windows,
           CAST(len(sel) AS BIGINT) AS n_fp,
           coalesce(m.n_matched, 0) AS n_matched_fp,
           coalesce(m.n_matched, 0) > 0 AS matched
         FROM s LEFT JOIN m ON s.doc_id = m.doc_id
         ORDER BY s.doc_id""",
    // Asymmetric containment C = shared/|smaller| ≥ 0.9 over the same
    // rare-shingle universe; integer threshold compare (sh·10 ≥ n·9) so
    // no float boundary crosses the engine seam.
    "x_dedup_containment" ->
      s"""WITH $ngramPairCtes
         SELECT CASE WHEN n1.n_ng < n2.n_ng OR (n1.n_ng = n2.n_ng AND d1 < d2) THEN d1 ELSE d2 END AS d_small,
           CASE WHEN n1.n_ng < n2.n_ng OR (n1.n_ng = n2.n_ng AND d1 < d2) THEN d2 ELSE d1 END AS d_big,
           least(n1.n_ng, n2.n_ng) AS n_small,
           greatest(n1.n_ng, n2.n_ng) AS n_big,
           sh AS shared,
           sh / least(n1.n_ng, n2.n_ng) AS containment
         FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         WHERE sh * 10 >= least(n1.n_ng, n2.n_ng) * 9
         ORDER BY d_small, d_big""",
    "x_dedup_apply" -> dedupApplyOracle,
    "x_filter_funnel" -> filterFunnelOracle,
    "x_funnel_orders" -> funnelOrdersOracle,
    "x_dedup_incremental" -> dedupIncrementalOracle,
    // Cross-doc duplicated 8-token windows: per doc, window counts and
    // the distinct token positions those windows cover.
    "x_substr_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         w AS (SELECT doc_id,
                 unnest(range(1, len(toks) - 6)) AS i,
                 unnest(list_transform(range(1, len(toks) - 6),
                        i -> md5(array_to_string(toks[i:i+7], ' ')))) AS h
               FROM t WHERE len(toks) >= 8),
         dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         dw AS (SELECT w.doc_id, w.i FROM w JOIN dup ON w.h = dup.h),
         dwc AS (SELECT doc_id, count(*) AS n_dup_windows FROM dw GROUP BY doc_id),
         cov AS (SELECT doc_id, count(*) AS n_dup_tokens
                 FROM (SELECT DISTINCT doc_id, i + k.k AS p FROM dw, range(8) AS k(k))
                 GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS n_windows,
           coalesce(dwc.n_dup_windows, 0) AS n_dup_windows,
           coalesce(cov.n_dup_tokens, 0) AS n_dup_tokens
         FROM t LEFT JOIN dwc ON t.doc_id = dwc.doc_id
                LEFT JOIN cov ON t.doc_id = cov.doc_id
         ORDER BY t.doc_id""",
    // SimHash, engine-portable: token bits from the md5 hex digest,
    // fingerprint rendered as a 16-char hex string (BIGINT assembly
    // would need 1<<63 — checked overflow in DuckDB, wraps in Spark).
    "x_dedup_simhash" ->
      """WITH toks AS (
           SELECT doc_id, md5(t.tok) AS h
           FROM documents, unnest(string_split(text, ' ')) AS t(tok)
           WHERE length(t.tok) > 0
         ), bits AS (
           SELECT doc_id, r.j,
             CASE WHEN ((strpos('0123456789abcdef', substring(h, CAST(r.j // 4 AS INT) + 1, 1)) - 1 >> (r.j % 4)) & 1) = 1
                  THEN 1 ELSE -1 END AS contrib
           FROM toks, range(64) AS r(j)
         ), sums AS (
           SELECT doc_id, j, CASE WHEN sum(contrib) > 0 THEN 1 ELSE 0 END AS b
           FROM bits GROUP BY doc_id, j
         ), digits AS (
           SELECT doc_id, j // 4 AS k, sum(b * (1 << (j % 4))) AS dv
           FROM sums GROUP BY doc_id, j // 4
         )
         SELECT doc_id, string_agg(substring('0123456789abcdef', CAST(dv AS INT) + 1, 1), '' ORDER BY k) AS fp
         FROM digits GROUP BY doc_id ORDER BY doc_id""",
    // SimHash near-dup pairs: same fingerprint CTEs, then brute-force
    // all-pairs digit-wise Hamming (oracle scale) — equal to the banded
    // multi-index join by pigeonhole (4 bands catch all Hamming <= 3).
    "x_dedup_simhash_pairs" ->
      s"""WITH $simhashPairCtes
         SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3 ORDER BY d1, d2""",
    // Detector agreement: the ngram-Jaccard pair set vs the simhash
    // Hamming pair set, full-outer categorized, all three categories
    // seeded so empty populations report 0.
    "x_detector_overlap" ->
      s"""WITH $ngramPairCtes,
         jp AS (
           SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
           WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
         $simhashPairCtes,
         sp AS (SELECT d1, d2 FROM pairs WHERE hamming <= 3),
         f AS (SELECT CASE WHEN jp.d1 IS NOT NULL AND sp.d1 IS NOT NULL THEN 'both'
                           WHEN jp.d1 IS NOT NULL THEN 'jaccard_only'
                           ELSE 'simhash_only' END AS category
               FROM jp FULL JOIN sp ON jp.d1 = sp.d1 AND jp.d2 = sp.d2),
         c AS (SELECT category, CAST(count(*) AS BIGINT) AS n_pairs FROM f GROUP BY 1)
         SELECT s2.category, CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs
         FROM (SELECT unnest(['both', 'jaccard_only', 'simhash_only']) AS category) s2
         LEFT JOIN c ON s2.category = c.category
         ORDER BY s2.category""",
    // SimHash near-dup CLUSTERS: the banded Hamming pair graph closed
    // into connected components (min-id labels), completing the
    // clusters face every pair family carries (ngram / chunk / simhash).
    "x_dedup_simhash_clusters" ->
      s"""WITH RECURSIVE $simhashPairCtes,
         sp AS (SELECT d1, d2 FROM pairs WHERE hamming <= 3),
         edges AS (SELECT d1 AS ea, d2 AS eb FROM sp UNION ALL SELECT d2, d1 FROM sp),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea)
         SELECT a AS doc_id, min(b) AS cluster, (min(b) = a) AS keep
         FROM reach GROUP BY a ORDER BY doc_id""",
    "logs_health" ->
      "SELECT 'ok' AS status, 'filebeat-to-clickhouse' AS service, CAST(1 AS BIGINT) AS ready",
    "x_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS keep
         FROM documents ORDER BY doc_id""",
    // Rolling-hash CDC boundaries: base-31 polynomial over each 8-char
    // window, boundary where hash % 64 = 0. Same literal powers of 31
    // on both engines (exact BIGINT arithmetic).
    "x_chunk_cdc" ->
      """WITH c AS (SELECT doc_id,
           list_filter(range(1, greatest(length(text) - 6, 1)),
             i -> (CAST(ascii(substr(text, i + 0, 1)) AS BIGINT) * 27512614111
                 + CAST(ascii(substr(text, i + 1, 1)) AS BIGINT) * 887503681
                 + CAST(ascii(substr(text, i + 2, 1)) AS BIGINT) * 28629151
                 + CAST(ascii(substr(text, i + 3, 1)) AS BIGINT) * 923521
                 + CAST(ascii(substr(text, i + 4, 1)) AS BIGINT) * 29791
                 + CAST(ascii(substr(text, i + 5, 1)) AS BIGINT) * 961
                 + CAST(ascii(substr(text, i + 6, 1)) AS BIGINT) * 31
                 + CAST(ascii(substr(text, i + 7, 1)) AS BIGINT)) % 64 = 0) AS bs,
           CAST(greatest(length(text) - 7, 0) AS BIGINT) AS n_windows
         FROM documents)
         SELECT doc_id, n_windows,
           CAST(len(bs) AS BIGINT) AS n_boundaries,
           CAST(len(bs) + 1 AS BIGINT) AS n_chunks,
           CAST(coalesce(bs[1], 0) AS BIGINT) AS first_boundary
         FROM c ORDER BY doc_id""",
    // Int8 scalar quantization: symmetric per-dim scale → −127..127
    // codes; ranking by exact integer dot product of the codes.
    "x_sim_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ex AS (SELECT vec_id, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS j FROM e),
         d AS (SELECT j, greatest(abs(min(x)), abs(max(x))) AS s FROM ex GROUP BY j),
         qv AS (SELECT vec_id, j,
                  CAST(coalesce(floor(x / nullif(s, 0) * 127 + 0.5), 0) AS BIGINT) AS q
                FROM ex JOIN d USING (j)),
         s AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
                 sum(a.q * b.q) AS ip
               FROM qv a JOIN qv b ON a.j = b.j AND a.vec_id <> b.vec_id
               WHERE b.vec_id < 10 GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, neighbor_id, ip,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id ASC) AS BIGINT) AS rk
           FROM s)
         SELECT query_id, rk, neighbor_id, CAST(ip AS BIGINT) AS ip
         FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""",
    // IVF-PQ / ADC: codebooks are the 8 subvectors of the 16 seed rows;
    // encoding is an argmin over ROUNDED squared-L2 distances (ties to
    // the smallest code); candidates come from the query's IVF cell and
    // rank by the query's rounded distance to each candidate's codebook
    // reconstruction. Every distance is written in the
    // ‖a‖²−2a·b+‖b‖² three-dot form that graft's fused SqDistL2
    // reproduces accumulator-for-accumulator.
    "x_sim_pq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT vec_id, v, cell_id FROM (
             SELECT e.vec_id, e.v, cent.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
                          cent.cell_id ASC) AS cell_rank
             FROM e, cent) t WHERE cell_rank = 1),
         sub AS (SELECT e.vec_id, r.j, list_slice(e.v, r.j * 8 + 1, r.j * 8 + 8) AS sv
                 FROM e, range(8) r(j)),
         cb AS (SELECT cent.cell_id AS c, r.j, list_slice(cent.cv, r.j * 8 + 1, r.j * 8 + 8) AS cv
                FROM cent, range(8) r(j)),
         codes AS (
           SELECT vec_id, j, c AS code FROM (
             SELECT sub.vec_id, sub.j, cb.c,
               row_number() OVER (PARTITION BY sub.vec_id, sub.j
                 ORDER BY round(list_dot_product(sv, sv) - 2 * list_dot_product(sv, cb.cv) + list_dot_product(cb.cv, cb.cv), 6) ASC,
                          cb.c ASC) AS rn
             FROM sub JOIN cb USING (j)) t WHERE rn = 1),
         recon AS (
           SELECT codes.vec_id, flatten(list(cb.cv ORDER BY codes.j)) AS rv
           FROM codes JOIN cb ON cb.j = codes.j AND cb.c = codes.code
           GROUP BY codes.vec_id),
         q AS (SELECT vec_id AS query_id, v AS qv, cell_id AS qcell FROM assigned WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, a.vec_id AS neighbor_id,
             round(list_dot_product(qv, qv) - 2 * list_dot_product(qv, rv) + list_dot_product(rv, rv), 6) AS d2
           FROM assigned a JOIN q ON a.cell_id = q.qcell AND a.vec_id <> q.query_id
           JOIN recon ON recon.vec_id = a.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, d2,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS BIGINT) AS rk
           FROM scored)
         SELECT query_id, rk, neighbor_id, d2 FROM ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    // IVF-PQ, round 14: RESIDUAL encoding (codes quantize v - coarse
    // centroid; ADC scores ||(q - centroid) - recon||^2), TWO unrolled
    // Lloyd's iterations (the x_quality_train unrolled-CTE convention:
    // cb0 -> codes0 -> tr1 -> cb1 -> codes1 -> tr2 -> cb2 -> codes2),
    // and an exact re-rank of the ADC k*4 shortlist (IndexRefineFlat)
    // — reported d2 is the EXACT distance. Seed books = residual
    // subvectors of rows [16, 32) (rows < 16 are the centroids; their
    // residuals are identically 0). Same three-dot distance form and
    // integer micro-unit training means as before.
    "x_sim_ivf_pq" ->
      s"""WITH $pqResidualCtes,
         q AS (SELECT r.vec_id AS query_id, e.v AS qv, r.rv AS qrv, r.cell_id AS qcell
               FROM resid r JOIN e ON e.vec_id = r.vec_id WHERE r.vec_id < 10),
         scored AS (
           SELECT q.query_id, a.vec_id AS neighbor_id, q.qv,
             round(list_dot_product(qrv, qrv) - 2 * list_dot_product(qrv, rc.rv) + list_dot_product(rc.rv, rc.rv), 6) AS d2a
           FROM assigned a JOIN q ON a.cell_id = q.qcell AND a.vec_id <> q.query_id
           JOIN recon2 rc ON rc.vec_id = a.vec_id),
         short AS (
           SELECT query_id, neighbor_id, qv FROM (
             SELECT query_id, neighbor_id, qv,
               row_number() OVER (PARTITION BY query_id ORDER BY d2a ASC, neighbor_id ASC) AS rn
             FROM scored) t WHERE rn <= 12),
         rer AS (
           SELECT s.query_id, s.neighbor_id,
             round(list_dot_product(qv, qv) - 2 * list_dot_product(qv, e.v) + list_dot_product(e.v, e.v), 6) AS d2
           FROM short s JOIN e ON e.vec_id = s.neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, d2,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS BIGINT) AS rk
           FROM rer)
         SELECT query_id, rk, neighbor_id, d2 FROM ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    // nprobe=4 on the residual pipeline (round 15): probe cells are
    // ranks 1..4 of the SAME allrank window the assignment reads; the
    // query's residual is taken against EACH probed centroid (FAISS
    // by_residual), then the unchanged ADC-shortlist + exact-re-rank
    // tail runs over the union of probed cells. A vector lives in one
    // cell, so probing never duplicates a candidate. Queries are the
    // held-out range [32, 42) — disjoint from the coarse seeds (<16)
    // and the book seeds ([16, 32)); centroid-row queries would make
    // probing a no-op (their own cell IS their neighborhood).
    "x_sim_ivf_pq_probe" ->
      s"""WITH $pqResidualCtes,
         qp AS (SELECT ar.vec_id AS query_id, e.v AS qv, ar.cell_id AS pcell,
               list_transform(range(1, len(e.v) + 1), i -> e.v[i] - cent.cv[i]) AS qres
               FROM allrank ar JOIN e ON e.vec_id = ar.vec_id
               JOIN cent ON cent.cell_id = ar.cell_id
               WHERE ar.vec_id >= 32 AND ar.vec_id < 42 AND ar.cell_rank <= 4),
         scoredp AS (
           SELECT qp.query_id, a.vec_id AS neighbor_id, qp.qv,
             round(list_dot_product(qres, qres) - 2 * list_dot_product(qres, rc.rv) + list_dot_product(rc.rv, rc.rv), 6) AS d2a
           FROM assigned a JOIN qp ON a.cell_id = qp.pcell AND a.vec_id <> qp.query_id
           JOIN recon2 rc ON rc.vec_id = a.vec_id),
         shortp AS (
           SELECT query_id, neighbor_id, qv FROM (
             SELECT query_id, neighbor_id, qv,
               row_number() OVER (PARTITION BY query_id ORDER BY d2a ASC, neighbor_id ASC) AS rn
             FROM scoredp) t WHERE rn <= 12),
         rerp AS (
           SELECT s.query_id, s.neighbor_id,
             round(list_dot_product(qv, qv) - 2 * list_dot_product(qv, e.v) + list_dot_product(e.v, e.v), 6) AS d2
           FROM shortp s JOIN e ON e.vec_id = s.neighbor_id),
         rankedp AS (
           SELECT query_id, neighbor_id, d2,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS BIGINT) AS rk
           FROM rerp)
         SELECT query_id, rk, neighbor_id, d2 FROM rankedp WHERE rk <= 3
         ORDER BY query_id, rk""",
    // hard-negative mining: top-5 most-similar DIFFERENT-label vectors
    // from the query's IVF cell (same assignment CTE as x_sim_ivf,
    // label mismatch as a residual predicate)
    "x_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT vec_id, label, v, cell_id FROM (
             SELECT e.vec_id, e.label, e.v, cent.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
                          cent.cell_id ASC) AS cell_rank
             FROM e, cent) t WHERE cell_rank = 1),
         q AS (SELECT vec_id AS query_id, v AS qv, label AS qlbl, cell_id AS qcell
               FROM assigned WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, a.vec_id AS neighbor_id,
             round(list_dot_product(qv, a.v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cos
           FROM assigned a, q
           WHERE a.cell_id = q.qcell AND a.vec_id <> q.query_id AND a.label <> q.qlbl),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rk
           FROM scored)
         SELECT query_id, rk, neighbor_id, cos FROM ranked WHERE rk <= 5
         ORDER BY query_id, rk""",
    // Range search: one scored CTE feeds the exact in-range count and
    // the sign-bucket candidate/hit counts; zero-guarded recall.
    "x_sim_range" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             $signBucketSql AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM e WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id,
             round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) >= 0.2 AS in_range,
             e.bucket = q.qb AS same_bucket
           FROM e, q WHERE e.vec_id <> q.query_id),
         agg AS (SELECT query_id,
             CAST(sum(CASE WHEN in_range THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range,
             CAST(sum(CASE WHEN same_bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_cand_lsh,
             CAST(sum(CASE WHEN in_range AND same_bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_lsh
           FROM scored GROUP BY query_id)
         SELECT query_id, n_in_range, n_cand_lsh, n_hit_lsh,
           CASE WHEN n_in_range = 0 THEN NULL
                ELSE CAST(n_hit_lsh * 1000000 // n_in_range AS BIGINT) END AS recall_micro
         FROM agg ORDER BY query_id""",
    "x_sim_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
           FROM e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rk
           FROM scored)
         SELECT query_id, rk, neighbor_id, cos FROM ranked WHERE rk <= 5
         ORDER BY query_id, rk""",
    // kNN majority vote over the same top-5 ranking; ties to the
    // smallest label (both engines pin the tie-break explicitly).
    "x_knn_classify" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
           FROM e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
           FROM scored),
         v AS (SELECT r.query_id, emb.label AS lbl, count(*) AS cnt
               FROM ranked r JOIN embeddings emb ON emb.vec_id = r.neighbor_id
               WHERE r.rk <= 5 GROUP BY 1, 2),
         p AS (SELECT query_id, lbl, cnt,
                 row_number() OVER (PARTITION BY query_id ORDER BY cnt DESC, lbl ASC) AS pr
               FROM v)
         SELECT p.query_id, eq.label AS true_label, p.lbl AS pred_label,
           p.cnt AS votes, p.lbl = eq.label AS correct
         FROM p JOIN embeddings eq ON eq.vec_id = p.query_id
         WHERE p.pr = 1 ORDER BY p.query_id""",
    "x_sim_lsh" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
             $signBucketSql AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM e WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
           FROM e, q WHERE e.bucket = q.qb AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rk
           FROM scored)
         SELECT query_id, rk, neighbor_id, cos FROM ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    // Multi-probe: each query probes its own bucket XOR {0, 1, 2, ...,
    // 128} — the Hamming-1 neighborhood of its sign-bit bucket.
    "x_sim_lsh_multiprobe" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
             $signBucketSql AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM e WHERE vec_id < 10),
         probes AS (
           SELECT query_id, qv, xor(qb, m.mask) AS qbp
           FROM q, (VALUES (0), (1), (2), (4), (8), (16), (32), (64), (128)) AS m(mask)),
         scored AS (
           SELECT p.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
           FROM e, probes p WHERE e.bucket = p.qbp AND e.vec_id <> p.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rk
           FROM scored)
         SELECT query_id, rk, neighbor_id, cos FROM ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    "x_sim_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT vec_id, v, cell_id FROM (
             SELECT e.vec_id, e.v, cent.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
                          cent.cell_id ASC) AS cell_rank
             FROM e, cent) t WHERE cell_rank = 1),
         q AS (SELECT vec_id AS query_id, v AS qv, cell_id AS qcell FROM assigned WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, a.vec_id AS neighbor_id,
             round(list_dot_product(qv, a.v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cos
           FROM assigned a, q WHERE a.cell_id = q.qcell AND a.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rk
           FROM scored)
         SELECT query_id, rk, neighbor_id, cos FROM ranked WHERE rk <= 3
         ORDER BY query_id, rk""",
    // Float k-means isn't bit-reproducible cross-engine, so the oracle
    // recomputes only the engine-portable half — literal-centroid IVF
    // recall@3 against brute-force truth (both top-k sets are exact
    // SQL). The refined-vs-literal judgment is spec-asserted (ExtSpec
    // "refined IVF"), not hash-gated — ADVICE r8: Lloyd's does not
    // guarantee aggregate recall@k, so gating on it would make a
    // dataset change fail correctness with the code working as designed.
    "x_sim_ivf_refined" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT vec_id, v, cell_id FROM (
             SELECT e.vec_id, e.v, cent.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
                          cent.cell_id ASC) AS cell_rank
             FROM e, cent) t WHERE cell_rank = 1),
         q AS (SELECT vec_id AS query_id, v AS qv, cell_id AS qcell FROM assigned
               WHERE vec_id >= 16 AND vec_id < 26),
         ivf AS (SELECT query_id, neighbor_id FROM (
             SELECT q.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(qv, a.v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(a.v, a.v))), 6) DESC,
                          a.vec_id ASC) AS rk
             FROM assigned a, q WHERE a.cell_id = q.qcell AND a.vec_id <> q.query_id) t
           WHERE rk <= 3),
         bq AS (SELECT vec_id AS query_id, v AS qv FROM e
                WHERE vec_id >= 16 AND vec_id < 26),
         brute AS (SELECT query_id, neighbor_id FROM (
             SELECT bq.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY bq.query_id
                 ORDER BY round(list_dot_product(qv, e.v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                          e.vec_id ASC) AS rk
             FROM e, bq WHERE e.vec_id <> bq.query_id) t
           WHERE rk <= 3),
         hits AS (SELECT i.query_id, count(*) AS n
                  FROM ivf i JOIN brute b
                    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
                  GROUP BY i.query_id)
         SELECT q0.query_id,
           CAST((coalesce(hits.n, 0) * 100) // 3 AS BIGINT) AS recall_literal_pct
         FROM (SELECT vec_id AS query_id FROM e WHERE vec_id >= 16 AND vec_id < 26) q0
         LEFT JOIN hits ON q0.query_id = hits.query_id
         ORDER BY q0.query_id""",
    // nprobe=4 IVF (round 15): probe ranks come from the shared
    // allrank CTE (rank 1 = the classic assignment, so the single-cell
    // leg is x_sim_ivf's search by construction); every leg — both
    // candidate sets, both top-3s, brute truth — is exact portable SQL
    // and recall_probe >= recall_1 is a THEOREM (a global-top-k member
    // in a candidate set always survives that set's top-k), so the
    // whole report hash-gates.
    "x_sim_ivf_probe" ->
      s"""WITH $probeCandCtes,
         t1 AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
                  FROM cand WHERE probe_rank = 1) t WHERE rk <= 3),
         tp AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
                  FROM cand) t WHERE rk <= 3),
         h1 AS (SELECT t1.query_id, CAST(count(*) AS BIGINT) AS n FROM t1
                JOIN bruterk b ON t1.query_id = b.query_id AND t1.neighbor_id = b.neighbor_id
                GROUP BY 1),
         hp AS (SELECT tp.query_id, CAST(count(*) AS BIGINT) AS n FROM tp
                JOIN bruterk b ON tp.query_id = b.query_id AND tp.neighbor_id = b.neighbor_id
                GROUP BY 1),
         c1 AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n FROM cand
                WHERE probe_rank = 1 GROUP BY 1),
         cp AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n FROM cand GROUP BY 1)
         SELECT q.query_id,
           CAST(coalesce(c1.n, 0) AS BIGINT) AS cand_1,
           CAST(coalesce(cp.n, 0) AS BIGINT) AS cand_probe,
           CAST((coalesce(h1.n, 0) * 100) // 3 AS BIGINT) AS recall_1_pct,
           CAST((coalesce(hp.n, 0) * 100) // 3 AS BIGINT) AS recall_probe_pct
         FROM q LEFT JOIN c1 ON q.query_id = c1.query_id
         LEFT JOIN cp ON q.query_id = cp.query_id
         LEFT JOIN h1 ON q.query_id = h1.query_id
         LEFT JOIN hp ON q.query_id = hp.query_id
         ORDER BY q.query_id""",
    // nDCG@k over the probe frame: ranked lists keep their rk, truth
    // ranks come from the shared bruterk; DCG = Σ discount CASE over
    // hits (integer sum), nDCG = DCG·10⁶ // IDCG. The brute leg's
    // nDCG is 10⁶ by construction — computed, not a literal, so a
    // ranking bug fails the hash.
    "x_sim_ivf_curve" -> ivfCurveOracle,
    "x_lexrank" -> lexRankOracle,
    "x_lexrank_graph" -> lexRankGraphOracle,
    // Graph-ANN (NSW): deterministic graph + beam trajectory — the
    // final ranked lists, per-query scored-vector cost, and brute
    // truth membership all hash-gate (the probe-report convention).
    "x_sim_nsw" -> nswOracle,
    "x_sim_nsw_hier" -> nswHierOracle,
    // Matryoshka truncation curve: every prefix level is a leg of ONE
    // scored scan; the dims=64 leg IS brute truth (computed anchor).
    "x_sim_dim_curve" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id >= 16 AND vec_id < 26),
         lv AS (SELECT unnest([8, 16, 32, 64]) AS dims),
         sc AS (SELECT l.dims, q.query_id, e.vec_id,
             round(list_dot_product(list_slice(q.qv, 1, l.dims), list_slice(e.v, 1, l.dims))
               / (sqrt(list_dot_product(list_slice(q.qv, 1, l.dims), list_slice(q.qv, 1, l.dims)))
                  * sqrt(list_dot_product(list_slice(e.v, 1, l.dims), list_slice(e.v, 1, l.dims)))), 6) AS cos
           FROM e, q, lv l WHERE e.vec_id <> q.query_id),
         top AS MATERIALIZED (SELECT dims, query_id, vec_id, cos, rk FROM (
             SELECT dims, query_id, vec_id, cos,
               row_number() OVER (PARTITION BY dims, query_id ORDER BY cos DESC, vec_id ASC) AS rk
             FROM sc) t WHERE rk <= 3),
         truth AS (SELECT query_id, vec_id FROM top WHERE dims = 64),
         hits AS (SELECT t.dims, t.query_id, CAST(count(*) AS BIGINT) AS n_hits
                  FROM top t JOIN truth b ON t.query_id = b.query_id AND t.vec_id = b.vec_id
                  GROUP BY 1, 2)
         SELECT CAST(t1.dims AS BIGINT) AS dims, t1.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           t1.vec_id AS top1_id,
           CAST(floor(t1.cos * 1e6 + 0.5) AS BIGINT) AS top1_cos_micro
         FROM top t1
         LEFT JOIN hits h ON h.dims = t1.dims AND h.query_id = t1.query_id
         WHERE t1.rk = 1
         ORDER BY t1.dims, t1.query_id""",
    // IVF index health: per-cell populations + FAISS's imbalance
    // factor k·Σn²/(Σn)² in integer micro-units.
    // Heuristic-vs-trained agreement cube: the gopher keep flag joined
    // against the trained chain's fin (score_q > 0), 4-cell counts +
    // micro shares + the constant agreement rate.
    "x_filter_agreement" ->
      s"""WITH $qualityTrainCtes,
         $gopherCountCtes,
         gfk AS (SELECT doc_id,
             NOT (f_len OR f_wordlen OR f_alpha OR f_stop OR f_symbol) AS keep_gopher
           FROM gflag),
         jn AS (SELECT gfk.keep_gopher, fin.score_q > 0 AS keep_trained
                FROM gfk JOIN fin ON gfk.doc_id = fin.doc_id),
         cell AS (SELECT keep_gopher, keep_trained, CAST(count(*) AS BIGINT) AS n_docs
                  FROM jn GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                   CAST(sum(CASE WHEN keep_gopher = keep_trained THEN n_docs ELSE 0 END) AS BIGINT) AS agree
                 FROM cell)
         SELECT keep_gopher, keep_trained, n_docs,
           CAST(n_docs * 1000000 // total AS BIGINT) AS share_micro,
           CAST(agree * 1000000 // total AS BIGINT) AS agree_micro
         FROM cell CROSS JOIN tot ORDER BY keep_gopher, keep_trained""",
    // Deterministic Count-Min: four 8-bit md5 slices as row hashes
    // (runtime-position strpos decode), >=1024-cell sketch, est = min
    // over row counters; est >= n_true is the CM one-sided theorem.
    "x_countmin" -> {
      def cmCol(tok: String) =
        s"""((strpos('0123456789abcdef', substring(md5($tok), CAST(r.i * 2 + 1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef', substring(md5($tok), CAST(r.i * 2 + 2 AS INT), 1)) - 1)) % 256"""
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         tok AS (SELECT token FROM t WHERE length(token) > 0),
         keyed AS (SELECT token, r.i AS row_i, ${cmCol("token")} AS cm_col
                   FROM tok, range(4) AS r(i)),
         cells AS MATERIALIZED (SELECT row_i, cm_col, CAST(count(*) AS BIGINT) AS cell
                                FROM keyed GROUP BY 1, 2),
         cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_true FROM tok GROUP BY 1),
         top AS (SELECT token, n_true,
                   row_number() OVER (ORDER BY n_true DESC, token) AS rk FROM cnt),
         t10 AS (SELECT rk, token, n_true FROM top WHERE rk <= 10),
         tk AS (SELECT t10.rk, t10.token, t10.n_true, r.i AS row_i,
                  ${cmCol("t10.token")} AS cm_col
                FROM t10, range(4) AS r(i)),
         est AS (SELECT rk, token, n_true, CAST(min(cell) AS BIGINT) AS est
                 FROM tk JOIN cells ON tk.row_i = cells.row_i AND tk.cm_col = cells.cm_col
                 GROUP BY 1, 2, 3)
         SELECT CAST(rk AS BIGINT) AS rk, token, n_true, est,
           CAST(est - n_true AS BIGINT) AS overcount
         FROM est ORDER BY rk"""
    },
    // Grouped AMS F2 + AGMS join size: the shared per-source sign
    // register CTE (f2KeyRegCtes); per-key estimate = mean of Z², pair
    // estimate = mean of Za·Zb (both DIV 16, truncation toward zero on
    // both engines — verified on negatives); exact truth legs beside.
    "x_f2_by_key" ->
      s"""WITH $f2KeyRegCtes,
         est AS (SELECT k, CAST(sum(z * z) // 16 AS BIGINT) AS f2_est FROM reg GROUP BY 1),
         ex AS (SELECT k, CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact
                FROM (SELECT k, token, count(*) AS cnt FROM tok GROUP BY 1, 2) GROUP BY 1)
         SELECT est.k AS source, est.f2_est, ex.f2_exact,
           CASE WHEN ex.f2_exact IS NULL OR ex.f2_exact = 0 THEN NULL
                ELSE CAST(abs(est.f2_est - ex.f2_exact) * 100 // ex.f2_exact AS BIGINT)
           END AS err_pct
         FROM est LEFT JOIN ex ON est.k = ex.k ORDER BY source""",
    "x_f2_join_size" ->
      s"""WITH $f2KeyRegCtes,
         prod AS (SELECT a.k AS s1, b.k AS s2, CAST(sum(a.z * b.z) // 16 AS BIGINT) AS join_est
                  FROM reg a JOIN reg b ON a.est_i = b.est_i AND a.k < b.k GROUP BY 1, 2),
         cnt AS (SELECT k, token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
         tr AS (SELECT a.k AS s1, b.k AS s2, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS join_true
                FROM cnt a JOIN cnt b ON a.token = b.token AND a.k < b.k GROUP BY 1, 2)
         SELECT prod.s1, prod.s2, prod.join_est,
           CAST(coalesce(tr.join_true, 0) AS BIGINT) AS join_true,
           CASE WHEN coalesce(tr.join_true, 0) = 0 THEN NULL
                ELSE CAST(abs(prod.join_est - tr.join_true) * 100 // tr.join_true AS BIGINT)
           END AS err_pct
         FROM prod LEFT JOIN tr ON prod.s1 = tr.s1 AND prod.s2 = tr.s2
         ORDER BY prod.s1, prod.s2""",
    // AMS F2: 16 sign sums, sign = parity of one md5 hex digit
    // (strpos decode), estimate = mean of Z^2 — integer-exact, so the
    // sketch values themselves hash-gate; exact F2 truth leg beside.
    "x_f2_skew" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         tok AS (SELECT token FROM t WHERE length(token) > 0),
         reg AS (SELECT r.i AS est_i,
                   CAST(sum(CASE WHEN (strpos('0123456789abcdef',
                       substring(md5(token), CAST(r.i + 1 AS INT), 1)) - 1) % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS z
                 FROM tok, range(16) AS r(i) GROUP BY 1),
         est AS (SELECT CAST(sum(z * z) // 16 AS BIGINT) AS f2_est FROM reg),
         ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact
                FROM (SELECT count(*) AS cnt FROM tok GROUP BY token))
         SELECT est_i, z, CAST(z * z AS BIGINT) AS z_sq, f2_est, f2_exact,
           CASE WHEN f2_exact IS NULL OR f2_exact = 0 THEN NULL
                ELSE CAST(abs(f2_est - f2_exact) * 100 // f2_exact AS BIGINT) END AS err_pct
         FROM reg CROSS JOIN est CROSS JOIN ex ORDER BY est_i""",
    // the production corpus-wide F2 read: the same registers, sketch
    // estimate only — per-key registers merged by addition equal the
    // corpus-wide build exactly (round 18)
    "x_f2_prod" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         tok AS (SELECT token FROM t WHERE length(token) > 0),
         reg AS (SELECT r.i AS est_i,
                   CAST(sum(CASE WHEN (strpos('0123456789abcdef',
                       substring(md5(token), CAST(r.i + 1 AS INT), 1)) - 1) % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS z
                 FROM tok, range(16) AS r(i) GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS s_est,
           CAST(sum(z * z) // count(*) AS BIGINT) AS f2_est
         FROM reg""",
    // Deterministic HLL: md5-derived bucket/value, rank via unpadded
    // bin() length (both engines), max registers, exact-integer
    // estimate with the ln(m/V) linear-counting leg on small range.
    // KMV bottom-k theta sketch: per-source k smallest md5 values over
    // the distinct token vocabulary; pair overlap from re-aggregated
    // union sketches (bottomk(A∪B) = bottomk(bottomk(A)∪bottomk(B)));
    // exact inclusion–exclusion truth leg beside the estimate.
    "x_kmv_overlap" -> kmvOracleFor("SELECT source, text FROM documents"),
    "x_kmv_diff" -> kmvDiffOracle,
    "x_kmv_card" -> kmvCardOracle,
    // the production sketch-only cardinality read: the same bottom-64
    // CTEs WITHOUT the exact truth leg (round 18)
    "x_kmv_card_prod" ->
      s"""WITH ${kmvBaseCtesFor("SELECT source, text FROM documents")},
         ss AS (SELECT source, CAST(count(*) AS BIGINT) AS m_size,
                  CAST(max(h) AS BIGINT) AS theta FROM sk GROUP BY 1)
         SELECT source, m_size, theta,
           CAST(CASE WHEN m_size < 64 THEN m_size
                ELSE 63 * 4294967296 // theta END AS BIGINT) AS est_distinct
         FROM ss ORDER BY source""",
    // the same KMV estimator keyed by the x_sample_split draw: the
    // cross-split contamination monitor at sketch speed
    "x_kmv_decontam" -> kmvOracleFor(
      s"""SELECT CASE WHEN ${hexDecodeSql("md5(CAST(doc_id AS VARCHAR))", 1, 4)} % 100 < 80 THEN 'train'
                 WHEN ${hexDecodeSql("md5(CAST(doc_id AS VARCHAR))", 1, 4)} % 100 < 90 THEN 'val'
                 ELSE 'test' END AS source, text FROM documents"""),

    // Exactly-k uniform sample: the k smallest 's:'-prefixed md5 draws
    // with doc_id tiebreak (the packed total order the engine's
    // bottom-k maintains), metadata joined back.
    "x_sample_exact_k" ->
      s"""WITH d AS (SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
             ${hexDecodeSql("md5('s:' || CAST(doc_id AS VARCHAR))", 1, 8)} AS h
           FROM documents),
         sel AS (SELECT doc_id, h, rk FROM (
             SELECT doc_id, h, row_number() OVER (ORDER BY h ASC, doc_id ASC) AS rk
             FROM d) t WHERE rk <= 20)
         SELECT CAST(sel.rk AS BIGINT) AS rk, sel.doc_id, sel.h AS draw,
           d.lang, d.source, d.n_chars
         FROM sel JOIN d ON d.doc_id = sel.doc_id
         ORDER BY rk""",
    // Efraimidis-Spirakis weighted sample: the trained chain's final
    // weights (shared qualityTrainCtes, MATERIALIZED — the GD unroll)
    // -> per-doc sigmoid probability -> the quantized exponential draw
    // -ln((h+1)/2^32)*10^12/qp under the 'es:' md5 prefix, bottom-20
    // by (key ASC, doc_id ASC) — the engine's TopKByScore order.
    "x_sample_weighted" ->
      s"""WITH $aesKeyCtes,
         selw AS (SELECT doc_id, qp, key_micro,
                  row_number() OVER (ORDER BY key_micro ASC, doc_id ASC) AS rk
                FROM dr)
         SELECT CAST(rk AS BIGINT) AS rk, doc_id, CAST(qp AS BIGINT) AS weight_micro,
           key_micro
         FROM selw WHERE rk <= 20 ORDER BY rk""",
    // Stratified A-ES: the SAME key CTEs partitioned by language — the
    // grouping theorem (per-item draws) replayed as PARTITION BY.
    "x_sample_weighted_by_key" ->
      s"""WITH $aesKeyCtes,
         dl AS (SELECT dr.doc_id, dr.qp, dr.key_micro, d.lang
                FROM dr JOIN documents d ON d.doc_id = dr.doc_id),
         selw AS (SELECT lang, doc_id, qp, key_micro,
                  row_number() OVER (PARTITION BY lang ORDER BY key_micro ASC, doc_id ASC) AS rk
                FROM dl)
         SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
           CAST(qp AS BIGINT) AS weight_micro, key_micro
         FROM selw WHERE rk <= 5 ORDER BY lang, rk""",
    // Grouped quantile sketch: per-language md5 level histograms, each
    // key's own j* from the shared cumulative table, one sample scan
    // for all keys, exact per-key rank truth beside the estimate.
    "x_quantile_by_key" ->
      s"""WITH d AS (SELECT lang, CAST(doc_id AS VARCHAR) AS qkey, CAST(n_chars AS BIGINT) AS v FROM documents),
         lvls AS MATERIALIZED (SELECT lang, v,
             CAST(CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END AS BIGINT) AS lvl
           FROM (SELECT lang, v, ${hexDecodeSql("md5(qkey)", 1, 8)} AS w FROM d)),
         hist AS MATERIALIZED (SELECT lang, lvl, CAST(count(*) AS BIGINT) AS c FROM lvls GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
         cum AS MATERIALIZED (SELECT h.lang, gs.j,
             CAST(sum(CASE WHEN h.lvl >= gs.j THEN h.c ELSE 0 END) AS BIGINT) AS mj
           FROM hist h, generate_series(0, 12) gs(j) GROUP BY 1, 2),
         js AS MATERIALIZED (SELECT lang, CAST(min(j) AS BIGINT) AS j_star FROM cum WHERE mj <= 128 GROUP BY 1),
         ms AS (SELECT c.lang, c.mj AS m FROM cum c JOIN js ON js.lang = c.lang AND js.j_star = c.j),
         samp AS MATERIALIZED (SELECT t.lang, t.v,
             row_number() OVER (PARTITION BY t.lang ORDER BY t.v ASC) AS rk
           FROM (SELECT l.lang, l.v FROM lvls l
                 JOIN js ON js.lang = l.lang AND l.lvl >= js.j_star) t),
         allrk AS MATERIALIZED (SELECT lang, v,
             row_number() OVER (PARTITION BY lang ORDER BY v ASC) AS rk FROM d),
         pc AS (SELECT unnest([25, 50, 75, 90]) AS pct),
         res AS (SELECT t.lang, p.pct, js.j_star, ms.m, t.n,
             greatest(1, (p.pct * t.n + 99) // 100) AS t_rank,
             greatest(1, (p.pct * ms.m + 99) // 100) AS s_rank
           FROM tot t JOIN js ON js.lang = t.lang JOIN ms ON ms.lang = t.lang, pc p)
         SELECT r.lang, CAST(r.pct AS BIGINT) AS pct, r.j_star, r.m AS m_sample, r.n,
           CAST(r.t_rank AS BIGINT) AS target_rank, CAST(r.s_rank AS BIGINT) AS sample_rank,
           s.v AS est_value, a.v AS exact_value,
           CASE WHEN a.v = 0 THEN NULL
                ELSE CAST(abs(s.v - a.v) * 1000000 // a.v AS BIGINT) END AS err_micro
         FROM res r
         JOIN samp s ON s.lang = r.lang AND s.rk = r.s_rank
         JOIN allrk a ON a.lang = r.lang AND a.rk = r.t_rank
         ORDER BY r.lang, pct""",
    // Grouped HLL: identical md5 bucket/rank projection keyed by lang;
    // absent buckets are the zero registers, so n_zero and their
    // 2^rmax mass in S come off the sparse frame with no densify.
    "x_hll_by_key" ->
      s"""WITH t AS (SELECT lang AS k, unnest(string_split(text, ' ')) AS token FROM documents),
         tok AS MATERIALIZED (SELECT k, token FROM t WHERE length(token) > 0),
         hv AS (SELECT k, ${hexDecodeSql("md5(token)", 1, 4)} % 64 AS bucket,
                       ${hexDecodeSql("md5(token)", 5, 8)} AS w FROM tok),
         rr AS (SELECT k, bucket, CASE WHEN w = 0 THEN 33
                                       ELSE 33 - length(bin(w)) END AS r FROM hv),
         regs AS MATERIALIZED (SELECT k, bucket, CAST(max(r) AS BIGINT) AS register
                FROM rr GROUP BY 1, 2),
         st AS MATERIALIZED (SELECT k, CAST(max(register) AS BIGINT) AS r_max,
                CAST(64 - count(*) AS BIGINT) AS n_zero FROM regs GROUP BY 1),
         sp AS (SELECT r.k, CAST(sum(1::BIGINT << CAST(st.r_max - r.register AS INT)) AS BIGINT) AS s_present
                FROM regs r JOIN st ON st.k = r.k GROUP BY 1),
         ex AS (SELECT k, CAST(count(DISTINCT token) AS BIGINT) AS exact_distinct FROM tok GROUP BY 1),
         co AS (SELECT st.k, st.r_max, st.n_zero,
                CAST(sp.s_present + st.n_zero * (1::BIGINT << CAST(st.r_max AS INT)) AS BIGINT) AS s_sum
                FROM st JOIN sp ON sp.k = st.k),
         es AS (SELECT k, r_max, n_zero, s_sum,
                CAST(709 * 4096 * (1::BIGINT << CAST(r_max AS INT)) // (1000 * s_sum) AS BIGINT) AS raw_est
                FROM co),
         fe AS (SELECT k, r_max, n_zero, s_sum, raw_est,
                CAST(CASE WHEN raw_est * 2 <= 320 AND n_zero > 0
                     THEN floor(64 * ln(CAST(64 AS DOUBLE) / n_zero) + 0.5)
                     ELSE raw_est END AS BIGINT) AS est FROM es)
         SELECT fe.k AS lang, fe.r_max, fe.n_zero, fe.s_sum, fe.raw_est, fe.est,
           ex.exact_distinct,
           CASE WHEN ex.exact_distinct = 0 THEN NULL
                ELSE CAST(abs(fe.est - ex.exact_distinct) * 100 // ex.exact_distinct AS BIGINT) END AS err_pct
         FROM fe JOIN ex ON ex.k = fe.k
         ORDER BY lang""",
    "x_hll_distinct" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         tok AS (SELECT token FROM t WHERE length(token) > 0),
         hv AS (SELECT ${hexDecodeSql("md5(token)", 1, 4)} % 64 AS bucket,
                       ${hexDecodeSql("md5(token)", 5, 8)} AS w
                FROM tok),
         rr AS (SELECT bucket, CASE WHEN w = 0 THEN 33
                                    ELSE 33 - length(bin(w)) END AS r FROM hv),
         regs AS (SELECT bucket, CAST(max(r) AS BIGINT) AS register FROM rr GROUP BY 1),
         fullr AS (SELECT gs.b AS bucket, CAST(coalesce(register, 0) AS BIGINT) AS register
                   FROM generate_series(0, 63) gs(b)
                   LEFT JOIN regs ON gs.b = regs.bucket),
         c1 AS (SELECT CAST(max(register) AS BIGINT) AS r_max,
                  CAST(sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
                FROM fullr),
         c2 AS (SELECT CAST(sum(1::BIGINT << CAST(c1.r_max - register AS INT)) AS BIGINT) AS s_sum
                FROM fullr, c1),
         ex AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS exact_distinct FROM tok),
         est AS (SELECT r_max, n_zero, s_sum,
                   CAST(709 * 4096 * (1::BIGINT << CAST(r_max AS INT)) // (1000 * s_sum) AS BIGINT) AS raw_est
                 FROM c1, c2),
         ch AS (SELECT r_max, n_zero, raw_est,
                  CAST(CASE WHEN raw_est * 2 <= 320 AND n_zero > 0
                       THEN floor(64 * ln(CAST(64 AS DOUBLE) / n_zero) + 0.5)
                       ELSE raw_est END AS BIGINT) AS est
                FROM est)
         SELECT f.bucket, f.register, ch.r_max, ch.n_zero, ch.raw_est, ch.est,
           ex.exact_distinct,
           CAST(abs(ch.est - ex.exact_distinct) * 100 // ex.exact_distinct AS BIGINT) AS err_pct
         FROM fullr f, ch, ex ORDER BY f.bucket""",
    // Deterministic quantile sketch: the md5 level draw (leading zeros
    // of the first 32 hash bits), the <=33-row level histogram, the
    // j* = min{j : |S_j| <= cap} selection, the ranked 2^-j* sample,
    // and the exact-rank truth leg — every cross-engine value integer
    // or a shared IEEE double op (floor(v*100+0.5) cent quantization).
    "x_quantile_sketch" ->
      s"""WITH li AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
           ${hexDecodeSql("md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))", 1, 8)} AS w
           FROM lineitem),
         lv AS (SELECT v, CAST(CASE WHEN w = 0 THEN 32
                    ELSE 32 - length(bin(w)) END AS BIGINT) AS lvl FROM li),
         lc AS (SELECT lvl, CAST(count(*) AS BIGINT) AS c FROM lv GROUP BY 1),
         hist AS (SELECT gs.j AS j, CAST(coalesce(sum(lc.c), 0) AS BIGINT) AS nj
                  FROM generate_series(0, 12) gs(j)
                  LEFT JOIN lc ON lc.lvl >= gs.j GROUP BY gs.j),
         js AS (SELECT CAST(min(j) AS BIGINT) AS j_star FROM hist WHERE nj <= 256),
         mm AS (SELECT nj AS m FROM hist, js WHERE hist.j = js.j_star),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lv),
         samp AS (SELECT v, row_number() OVER (ORDER BY v ASC) AS rn
                  FROM lv, js WHERE lvl >= j_star),
         ranked AS (SELECT v, row_number() OVER (ORDER BY v ASC) AS rn FROM lv),
         sel AS (SELECT CAST(pct AS BIGINT) AS pct, js.j_star, mm.m AS m_sample, nn.n,
                   CAST(greatest(1, (pct * nn.n + 99) // 100) AS BIGINT) AS target_rank,
                   CAST(greatest(1, (pct * mm.m + 99) // 100) AS BIGINT) AS sample_rank
                 FROM (VALUES (25), (50), (75), (90), (99)) p(pct), js, mm, nn)
         SELECT sel.pct, sel.j_star, sel.m_sample, sel.n, sel.target_rank,
           sel.sample_rank, s.v AS est_value, r.v AS exact_value,
           CAST(CASE WHEN CAST(floor(r.v * 100 + 0.5) AS BIGINT) = 0 THEN NULL
                ELSE abs(CAST(floor(s.v * 100 + 0.5) AS BIGINT)
                         - CAST(floor(r.v * 100 + 0.5) AS BIGINT)) * 1000000
                     // CAST(floor(r.v * 100 + 0.5) AS BIGINT) END AS BIGINT) AS err_micro
         FROM sel JOIN samp s ON s.rn = sel.sample_rank
         JOIN ranked r ON r.rn = sel.target_rank
         ORDER BY sel.pct""",
    "x_cell_imbalance" ->
      s"""WITH $seedAssignCtes,
         cnt AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY 1),
         fullc AS (SELECT gs.b AS cell_id, CAST(coalesce(n, 0) AS BIGINT) AS n_cell
                   FROM generate_series(0, 15) gs(b)
                   LEFT JOIN cnt ON gs.b = cnt.cell_id),
         tot AS (SELECT CAST(sum(n_cell) AS BIGINT) AS total,
                   CAST(sum(n_cell * n_cell) AS BIGINT) AS sq,
                   CAST(min(n_cell) AS BIGINT) AS n_min,
                   CAST(max(n_cell) AS BIGINT) AS n_max FROM fullc)
         SELECT cell_id, n_cell,
           CAST(n_cell * 1000000 // total AS BIGINT) AS share_micro,
           CAST(CAST(16 AS HUGEINT) * sq * 1000000
             // (CAST(total AS HUGEINT) * total) AS BIGINT) AS imbalance_micro,
           n_min, n_max
         FROM fullc CROSS JOIN tot ORDER BY cell_id""",
    "x_rank_ndcg" ->
      s"""WITH $probeCandCtes,
         t1 AS (SELECT query_id, neighbor_id, rk FROM (
                  SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
                  FROM cand WHERE probe_rank = 1) t WHERE rk <= 3),
         tp AS (SELECT query_id, neighbor_id, rk FROM (
                  SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
                  FROM cand) t WHERE rk <= 3),
         d1 AS (SELECT t1.query_id, sum(${ndcgCaseSql("t1.rk", 3)}) AS dcg FROM t1
                JOIN bruterk b ON t1.query_id = b.query_id AND t1.neighbor_id = b.neighbor_id
                GROUP BY 1),
         dp AS (SELECT tp.query_id, sum(${ndcgCaseSql("tp.rk", 3)}) AS dcg FROM tp
                JOIN bruterk b ON tp.query_id = b.query_id AND tp.neighbor_id = b.neighbor_id
                GROUP BY 1),
         db AS (SELECT query_id, sum(${ndcgCaseSql("rk", 3)}) AS dcg FROM bruterk GROUP BY 1)
         SELECT q.query_id,
           CAST((coalesce(d1.dcg, 0) * 1000000) // ${Similarity.ndcgDiscountMicro.take(3).sum} AS BIGINT) AS ndcg_1,
           CAST((coalesce(dp.dcg, 0) * 1000000) // ${Similarity.ndcgDiscountMicro.take(3).sum} AS BIGINT) AS ndcg_probe,
           CAST((coalesce(db.dcg, 0) * 1000000) // ${Similarity.ndcgDiscountMicro.take(3).sum} AS BIGINT) AS ndcg_brute
         FROM q LEFT JOIN d1 ON q.query_id = d1.query_id
         LEFT JOIN dp ON q.query_id = dp.query_id
         LEFT JOIN db ON q.query_id = db.query_id
         ORDER BY q.query_id""",
    // k-means|| seeding trajectory: three unrolled oversampling rounds
    // (hash draw in exact HUGEINT arithmetic, vec_id-capped), the
    // mass-weighted top-k reduction, and the first-k baseline — every
    // stage's potential as an exact integer sum of micro-distance².
    "x_kmeans_scalable" ->
      s"""WITH $kppChainCtes,
         dfin AS (SELECT x.vec_id, min($kppDmSql) AS dm
                  FROM he x CROSS JOIN fin c GROUP BY x.vec_id),
         base AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
         dbase AS (SELECT x.vec_id, min($kppDmSql) AS dm
                   FROM he x CROSS JOIN base c GROUP BY x.vec_id)
         SELECT * FROM (
           SELECT 'round_0' AS stage, (SELECT CAST(count(*) AS BIGINT) FROM c0) AS n_cand,
                  (SELECT CAST(phi AS BIGINT) FROM phi0) AS phi
           UNION ALL
           SELECT 'round_1', (SELECT CAST(count(*) AS BIGINT) FROM c1),
                  (SELECT CAST(phi AS BIGINT) FROM phi1)
           UNION ALL
           SELECT 'round_2', (SELECT CAST(count(*) AS BIGINT) FROM c2),
                  (SELECT CAST(phi AS BIGINT) FROM phi2)
           UNION ALL
           SELECT 'round_3', (SELECT CAST(count(*) AS BIGINT) FROM c3),
                  (SELECT CAST(phi AS BIGINT) FROM phi3)
           UNION ALL
           SELECT 'final_k', (SELECT CAST(count(*) AS BIGINT) FROM fin),
                  (SELECT CAST(sum(dm * dm) AS BIGINT) FROM dfin)
           UNION ALL
           SELECT 'baseline_first_k', (SELECT CAST(count(*) AS BIGINT) FROM base),
                  (SELECT CAST(sum(dm * dm) AS BIGINT) FROM dbase)
         ) s ORDER BY stage""",
    // IVF over the k-means|| seeds: the training chain's `fin` becomes
    // the centroid set, assignment/search/recall mirror the x_sim_ivf
    // + probe-report shapes. The seeds are deterministic integers all
    // the way down, so the whole search is exact replayable SQL.
    "x_sim_ivf_kpp" ->
      s"""WITH $kppChainCtes,
         fassign AS MATERIALIZED (
           SELECT vec_id, v, cell_id FROM (
             SELECT x.vec_id, x.v, c.vec_id AS cell_id,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY round(list_dot_product(x.v, c.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.v, c.v))), 6) DESC,
                          c.vec_id ASC) AS rk
             FROM e x CROSS JOIN fin c) t WHERE rk = 1),
         q AS (SELECT vec_id AS query_id, v AS qv, cell_id AS qcell
               FROM fassign WHERE vec_id >= 16 AND vec_id < 26),
         sc AS MATERIALIZED (
           SELECT q.query_id, a.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, a.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cos
           FROM fassign a JOIN q ON a.cell_id = q.qcell
           WHERE a.vec_id <> q.query_id),
         tk AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
                  FROM sc) t WHERE rk <= 3),
         brute AS (SELECT query_id, neighbor_id FROM (
                  SELECT q.query_id, e.vec_id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                               e.vec_id ASC) AS rk
                  FROM e, q WHERE e.vec_id <> q.query_id) t WHERE rk <= 3),
         h AS (SELECT tk.query_id, CAST(count(*) AS BIGINT) AS n FROM tk
               JOIN brute b ON tk.query_id = b.query_id AND tk.neighbor_id = b.neighbor_id
               GROUP BY 1),
         cst AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY 1)
         SELECT q.query_id,
           CAST(coalesce(cst.n, 0) AS BIGINT) AS cand_kpp,
           CAST((coalesce(h.n, 0) * 100) // 3 AS BIGINT) AS recall_kpp_pct
         FROM q LEFT JOIN cst ON q.query_id = cst.query_id
         LEFT JOIN h ON q.query_id = h.query_id
         ORDER BY q.query_id""",
    // MMR diversified top-5: bounded top-20 candidate list, then five
    // unrolled greedy steps in exact integer arithmetic (score =
    // (7·rel − 3·maxsim) // 10, ties by vec_id).
    "x_sim_mmr" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         cand AS MATERIALIZED (
           SELECT vec_id, v,
             CAST(floor(round(list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) * 1e6 + 0.5) AS BIGINT) AS rel
           FROM e, q WHERE vec_id <> 0
           ORDER BY rel DESC, vec_id ASC LIMIT 20),
         sel1 AS MATERIALIZED (
           SELECT vec_id, v, rel, (7 * rel) // 10 AS score
           FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1),
         ${mmrStepCtes(2)},
         ${mmrStepCtes(3)},
         ${mmrStepCtes(4)},
         ${mmrStepCtes(5)}
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel AS rel_micro, score AS score_micro FROM sel1
           UNION ALL SELECT 2, vec_id, rel, score FROM sel2
           UNION ALL SELECT 3, vec_id, rel, score FROM sel3
           UNION ALL SELECT 4, vec_id, rel, score FROM sel4
           UNION ALL SELECT 5, vec_id, rel, score FROM sel5
         ) t ORDER BY rank""",
    // SemDeDup: literal seed centroids (vec_id < 16) make assignment +
    // within-cell τ-prune exact SQL — same portability trick as the IVF
    // oracle above. The keep rule is row-level (a vector is pruned iff
    // some same-cell τ-neighbor is closer to the centroid, tie lower
    // id), so the oracle is one NOT-EXISTS-style anti-join, no
    // iteration.
    "x_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT vec_id, v, cell_id, cc FROM (
             SELECT e.vec_id, e.v, cent.cell_id,
               round(list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS cc,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
                          cent.cell_id ASC) AS rk
             FROM e, cent) t WHERE rk = 1),
         pruned AS (
           SELECT DISTINCT b.vec_id
           FROM assigned a JOIN assigned b
             ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
           WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
             AND (a.cc > b.cc OR (a.cc = b.cc AND a.vec_id < b.vec_id)))
         SELECT a.vec_id, a.cell_id, a.cc AS cos_centroid,
           pruned.vec_id IS NULL AS keep
         FROM assigned a LEFT JOIN pruned ON a.vec_id = pruned.vec_id
         ORDER BY a.vec_id""",
    // Verdict query for the k-means-REFINED semantic-dedup leg: refined
    // float centroids are not bit-portable, but the prune rule's
    // theorems are — `true` here carries real content because the Spark
    // side computes both booleans from the refined run (a false verdict
    // fails the hash compare). See Similarity.semanticDedupRefinedVerdict.
    "x_semantic_dedup_refined" ->
      """SELECT count(*) AS n_vecs, true AS kept_tau_free, true AS cells_nonempty
         FROM embeddings""",
    // Semantic clusters: same assignment + within-cell τ-pair contract
    // as x_semantic_dedup, then the recursive reach closure from the
    // textual clusters oracle — cluster = component min, keep = is-min.
    "x_semantic_clusters" ->
      s"""WITH RECURSIVE $seedAssignCtes,
         pairs AS (
           SELECT a.vec_id AS d1, b.vec_id AS d2
           FROM assigned a JOIN assigned b
             ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4),
         edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
         reach(a, b) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT r.a, e2.eb FROM reach r JOIN edges e2 ON r.b = e2.ea)
         SELECT a AS vec_id, min(b) AS cluster, (min(b) = a) AS keep
         FROM reach GROUP BY a ORDER BY vec_id""",
    // LOO kNN label consistency: within-cell top-5 by (cos DESC, id
    // ASC), majority vote by (votes DESC, label ASC), per-label
    // integer agreement counts; singleton-cell vectors are unscored.
    "x_knn_consistency" ->
      s"""WITH $seedAssignCtes,
         sc AS (SELECT a.vec_id AS vid, b.vec_id AS w,
             round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
           FROM assigned a JOIN assigned b
             ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id),
         topk AS (SELECT vid, w FROM (
             SELECT vid, w, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, w ASC) AS rk
             FROM sc) WHERE rk <= 5),
         votes AS (SELECT t.vid, CAST(em.label AS BIGINT) AS nlab, count(*) AS nv
                   FROM topk t JOIN embeddings em ON t.w = em.vec_id GROUP BY 1, 2),
         pred AS (SELECT vid, nlab AS predicted FROM (
             SELECT vid, nlab, row_number() OVER (PARTITION BY vid ORDER BY nv DESC, nlab ASC) AS rk
             FROM votes) WHERE rk = 1),
         lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lab FROM embeddings),
         scd AS (SELECT lab.lab AS label, CAST(count(*) AS BIGINT) AS n_scored,
             CAST(sum(CASE WHEN pred.predicted = lab.lab THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
           FROM pred JOIN lab ON pred.vid = lab.vec_id GROUP BY 1),
         tot AS (SELECT lab AS label, CAST(count(*) AS BIGINT) AS n_total FROM lab GROUP BY 1)
         SELECT tot.label, tot.n_total,
           coalesce(scd.n_scored, 0) AS n_scored,
           coalesce(scd.n_agree, 0) AS n_agree,
           CASE WHEN coalesce(scd.n_scored, 0) > 0
                THEN round(CAST(scd.n_agree AS DOUBLE) / scd.n_scored, 4) END AS accuracy
         FROM tot LEFT JOIN scd ON tot.label = scd.label
         ORDER BY tot.label""",
    // Simplified silhouette: a/b are the rank-1/rank-2 centroid
    // distances in integer micro-units off the shared allrank sort;
    // per-row s = (b−a)·10⁶ // max(a,b) (truncating, nonnegative),
    // per-cell mean = exact integer sum // count.
    "x_cluster_silhouette" ->
      s"""WITH $seedRankCtes,
         ab AS (
           SELECT vec_id,
             max(CASE WHEN cell_rank = 1 THEN cell_id END) AS cell_id,
             max(CASE WHEN cell_rank = 1 THEN CAST(floor((1 - ccos) * 1e6 + 0.5) AS BIGINT) END) AS a_micro,
             max(CASE WHEN cell_rank = 2 THEN CAST(floor((1 - ccos) * 1e6 + 0.5) AS BIGINT) END) AS b_micro
           FROM allrank WHERE cell_rank <= 2 GROUP BY vec_id),
         sil AS (
           SELECT cell_id,
             CASE WHEN greatest(a_micro, b_micro) > 0
                  THEN ((b_micro - a_micro) * 1000000) // greatest(a_micro, b_micro)
                  ELSE 0 END AS s
           FROM ab)
         SELECT cell_id, CAST(count(*) AS BIGINT) AS n_cell,
           CAST(sum(s) // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_sil,
           CAST(min(s) AS BIGINT) AS min_sil, CAST(max(s) AS BIGINT) AS max_sil
         FROM sil GROUP BY cell_id ORDER BY cell_id""",
    // Cluster label purity: the semantic-clusters closure joined to
    // labels; per-term integer micro-nat entropy contributions so the
    // per-cluster entropy is an order-immune integer sum; majority by
    // (n DESC, label ASC) row_number on both engines.
    "x_cluster_purity" ->
      s"""WITH RECURSIVE $seedAssignCtes,
         pairs AS (
           SELECT a.vec_id AS d1, b.vec_id AS d2
           FROM assigned a JOIN assigned b
             ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4),
         edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
         reach(a, b) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT r.a, e2.eb FROM reach r JOIN edges e2 ON r.b = e2.ea),
         cl AS (SELECT a AS vec_id, min(b) AS cluster FROM reach GROUP BY a),
         j AS (SELECT cl.cluster, CAST(em.label AS BIGINT) AS label
               FROM cl JOIN embeddings em ON cl.vec_id = em.vec_id),
         cells AS (SELECT cluster, label, CAST(count(*) AS BIGINT) AS n_lab
                   FROM j GROUP BY 1, 2),
         sized AS (SELECT cluster, label, n_lab,
             CAST(sum(n_lab) OVER (PARTITION BY cluster) AS BIGINT) AS n_cluster
           FROM cells),
         q AS (SELECT cluster, label, n_lab, n_cluster,
             CAST(round(-(CAST(n_lab AS DOUBLE) / n_cluster) * ln(CAST(n_lab AS DOUBLE) / n_cluster) * 1e6) AS BIGINT) AS ent_q,
             row_number() OVER (PARTITION BY cluster ORDER BY n_lab DESC, label ASC) AS rk
           FROM sized)
         SELECT cluster, max(n_cluster) AS n_cluster,
           max(CASE WHEN rk = 1 THEN label END) AS major_label,
           round(CAST(max(CASE WHEN rk = 1 THEN n_lab END) AS DOUBLE) / max(n_cluster), 6) AS purity,
           round(CAST(sum(ent_q) AS DOUBLE) / 1e6, 6) AS entropy
         FROM q GROUP BY cluster ORDER BY cluster""",
    // Heaps'-law vocabulary growth: crawl-order deciles, per-decile new
    // types (first occurrence = min doc_id), all-integer cumulative
    // totals via the bounded sequence-explode prefix sum.
    "x_vocab_growth" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         b AS (SELECT list_transform(
                 quantile_cont(CAST(doc_id AS DOUBLE), [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                 x -> round(x, 6)) AS bs FROM documents),
         ft AS (SELECT token, min(doc_id) AS first_doc
                FROM (SELECT doc_id, unnest(toks) AS token FROM d)
                WHERE length(token) > 0 GROUP BY token),
         nt AS (SELECT CAST(list_sum(list_transform(bs, x -> CASE WHEN first_doc > x THEN 1 ELSE 0 END)) AS BIGINT) AS decile,
                  CAST(count(*) AS BIGINT) AS new_types
                FROM ft, b GROUP BY 1),
         vol AS (SELECT CAST(list_sum(list_transform(bs, x -> CASE WHEN doc_id > x THEN 1 ELSE 0 END)) AS BIGINT) AS decile,
                  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS n_tok
                FROM d, b GROUP BY 1),
         per AS (SELECT vol.decile, vol.n_docs, vol.n_tok,
                  coalesce(nt.new_types, 0) AS new_types
                FROM vol LEFT JOIN nt ON vol.decile = nt.decile),
         cum AS (SELECT p2.decile, CAST(sum(p1.n_tok) AS BIGINT) AS cum_tok,
                  CAST(sum(p1.new_types) AS BIGINT) AS cum_types
                FROM per p1 JOIN per p2 ON p1.decile <= p2.decile GROUP BY p2.decile)
         SELECT per.decile, per.n_docs, per.n_tok, per.new_types,
           cum.cum_tok, cum.cum_types,
           round(CAST(cum.cum_types AS DOUBLE) / cum.cum_tok, 6) AS type_token_ratio
         FROM per JOIN cum ON per.decile = cum.decile ORDER BY per.decile""",
    "x_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
         ORDER BY v1, v2""",
    "x_embed_neardup_lsh" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
             $signBucketSql AS bucket
           FROM embeddings)
         SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
         ORDER BY v1, v2""",
    // Recall report: conditional counts over the ONE exact τ-close pair
    // set (b1=b2 is exactly x_embed_neardup_lsh's pair set; Hamming<=1
    // is the multi-probe remedy). Counts cast BIGINT on both sides;
    // recall pcts are double on both sides (nullif guards empty truth).
    "x_embed_neardup_recall" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
             $signBucketSql AS bucket
           FROM embeddings),
         p AS (
           SELECT a.bucket AS b1, b.bucket AS b2
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4),
         c AS (
           SELECT CAST(count(*) AS BIGINT) AS n_pairs_exact,
             CAST(coalesce(sum(CASE WHEN b1 = b2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs_lsh,
             CAST(coalesce(sum(CASE WHEN bit_count(xor(b1::BIGINT, b2::BIGINT)) <= 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs_probe
           FROM p)
         SELECT n_pairs_exact, n_pairs_lsh, n_pairs_probe,
           round(100.0 * n_pairs_lsh / nullif(n_pairs_exact, 0), 2) AS recall_lsh_pct,
           round(100.0 * n_pairs_probe / nullif(n_pairs_exact, 0), 2) AS recall_probe_pct,
           n_pairs_probe >= n_pairs_lsh AS probe_superset
         FROM c""",
    "x_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
         round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
         round(avg(n_chars), 4) AS avg_chars,
         CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    "x_text_quality" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS len,
         round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 4) AS avg_tok_len,
         round(len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')), 4) AS type_token_ratio,
         round((length(text) - length(replace(text, ' ', ''))) / length(text), 4) AS space_ratio
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    // Gopher rule battery: every count is integer (cross-multiplied
    // thresholds, distinct-stopword intersect, regexp token-with-letter
    // count); keep_rate is the one terminal double division. Counts
    // come from the shared gopherCountCtes (the agreement matrix
    // composes the same block — compose, never copy).
    "x_gopher_rules" ->
      s"""WITH $gopherCountCtes,
         f AS (SELECT source, f_len, f_wordlen, f_alpha, f_stop, f_symbol FROM gflag)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
           CAST(sum(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
           CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
           CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
           CAST(sum(CASE WHEN f_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_symbol,
           CAST(sum(CASE WHEN NOT (f_len OR f_wordlen OR f_alpha OR f_stop OR f_symbol)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           round(CAST(sum(CASE WHEN NOT (f_len OR f_wordlen OR f_alpha OR f_stop OR f_symbol)
                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS keep_rate
         FROM f GROUP BY source ORDER BY source""",
    "x_textrank" -> textRankOracle,
    // PMI collocations: exact-integer log inputs (n·B and l·r multiply
    // as bigints, ONE cast to double), MICRO-QUANTIZED before the
    // ranking (quantize-before-ranking convention; review r15);
    // ties = the pair's binary order.
    "x_collocations" ->
      """WITH c AS (SELECT string_split(text, ' ') AS toks FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         bg AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
                       unnest(toks[2:len(toks)]) AS w2 FROM c),
         c2 AS MATERIALIZED (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
                             FROM bg GROUP BY 1, 2),
         l AS (SELECT w1, CAST(sum(n) AS BIGINT) AS nl FROM c2 GROUP BY 1),
         r AS (SELECT w2, CAST(sum(n) AS BIGINT) AS nr FROM c2 GROUP BY 1),
         b AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c2),
         sc AS (SELECT c2.w1, c2.w2, n,
                  CAST(floor(ln(CAST(n * tot AS DOUBLE) / CAST(nl * nr AS DOUBLE))
                             * 1e6 + 0.5) AS BIGINT) AS pmi_micro
                FROM c2 JOIN l ON c2.w1 = l.w1 JOIN r ON c2.w2 = r.w2
                CROSS JOIN b WHERE n >= 5),
         f AS (SELECT w1, w2, n, pmi_micro,
                 row_number() OVER (ORDER BY pmi_micro DESC, w1, w2) AS rk FROM sc)
         SELECT CAST(rk AS BIGINT) AS rk, w1, w2, n, pmi_micro
         FROM f WHERE rk <= 20 ORDER BY rk""",
    "x_lang_scores" ->
      s"""WITH s AS (
           SELECT doc_id, lang AS labelled_lang, lower(text) AS t FROM documents WHERE doc_id < 100)
         SELECT doc_id, labelled_lang,
           (length(t) - length(replace(t, ' the ', ''))) / 5 AS s_en,
           (length(t) - length(replace(t, ' der ', ''))) / 5 AS s_de,
           (length(t) - length(replace(t, ' el ', ''))) / 4 AS s_es,
           (length(t) - length(replace(t, ' le ', ''))) / 4 AS s_fr,
           $langArgmaxCase AS predicted
         FROM s ORDER BY doc_id""",
    // Within-doc language segmentation: the shared aligned-line CTE,
    // each line space-padded + lowered through the SAME marker-argmax
    // CASE, dominant = row_number over (cnt DESC, pred ASC).
    "x_lang_segments" ->
      s"""WITH dt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id,
                 list_transform(range(0, CAST(ceil(len(toks) / 4.0) AS INT)),
                                i -> array_to_string(toks[i*4+1 : i*4+4], ' ')) AS lines
               FROM dt),
         l AS (SELECT doc_id, ' ' || lower(unnest(lines)) || ' ' AS t FROM c),
         p AS (SELECT doc_id, $langArgmaxCase AS pred FROM l),
         cell AS (SELECT doc_id, pred, CAST(count(*) AS BIGINT) AS cnt
                  FROM p GROUP BY 1, 2),
         dom AS (SELECT doc_id, pred AS dominant_lang, cnt AS n_dominant,
                   row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, pred ASC) AS rk
                 FROM cell),
         tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
                   CAST(count(*) AS BIGINT) AS n_langs
                 FROM cell GROUP BY 1)
         SELECT tot.doc_id, tot.n_lines, tot.n_langs,
           dom.dominant_lang, dom.n_dominant,
           CAST((tot.n_lines - dom.n_dominant) * 1000000 // tot.n_lines AS BIGINT) AS minority_pct_micro
         FROM tot JOIN dom ON tot.doc_id = dom.doc_id AND dom.rk = 1
         ORDER BY tot.doc_id""",
    // Language-ID confusion matrix: the langScores marker argmax over
    // the WHOLE corpus, aggregated to (labelled, predicted) cells with
    // each cell's share of its labelled language (diagonal = recall).
    "x_lang_confusion" ->
      s"""WITH s AS (SELECT lang AS labelled_lang, lower(text) AS t FROM documents),
         p AS (SELECT labelled_lang,
           $langArgmaxCase AS predicted
           FROM s),
         c AS (SELECT labelled_lang, predicted, CAST(count(*) AS BIGINT) AS n
               FROM p GROUP BY 1, 2),
         t AS (SELECT labelled_lang, predicted, n,
                 CAST(sum(n) OVER (PARTITION BY labelled_lang) AS BIGINT) AS n_label
               FROM c)
         SELECT labelled_lang, predicted, n, n_label,
           round(CAST(n AS DOUBLE) / n_label, 6) AS share
         FROM t ORDER BY labelled_lang, predicted""",
    // Trained language ID (round 18): the one-vs-rest integer-GD loop
    // replayed as an unrolled CTE chain (the x_quality_train
    // discipline) over hashed char-bigram + byte-class features.
    "x_lang_trained" -> langTrainedOracle,
    "x_lang_trained_eval" -> langTrainedEvalOracle,
    // Source x language composition: cell counts, within-source share,
    // per-source language entropy from window-summed integer micro-nat
    // terms (order-immune).
    "x_domain_lang_mix" ->
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2),
         s AS (SELECT source, lang, n,
             CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_src FROM c),
         q AS (SELECT source, lang, n, n_src,
             round(CAST(n AS DOUBLE) / n_src, 6) AS share,
             CAST(round(-(CAST(n AS DOUBLE) / n_src) * ln(CAST(n AS DOUBLE) / n_src) * 1e6) AS BIGINT) AS ent_q
           FROM s)
         SELECT source, lang, n, n_src, share,
           round(CAST(sum(ent_q) OVER (PARTITION BY source) AS DOUBLE) / 1e6, 6) AS lang_entropy
         FROM q ORDER BY source, lang""",
    // Per-doc character entropy: (doc, char) cell counts, per-term
    // integer micro-nat quantization (the x_domain_lang_mix recipe),
    // order-immune integer sum per doc; length >= 1 on both engines.
    "x_char_entropy" ->
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
                    FROM documents WHERE length(text) >= 1),
         ch AS (SELECT doc_id, n, unnest(string_split(text, '')) AS c FROM d),
         cell AS (SELECT doc_id, n, c, CAST(count(*) AS BIGINT) AS cnt
                  FROM ch GROUP BY 1, 2, 3),
         q AS (SELECT doc_id, n, cnt,
                 CAST(round(-(CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n) * 1e6) AS BIGINT) AS ent_q
               FROM cell)
         SELECT doc_id, n AS n_chars, CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(CAST(sum(ent_q) AS DOUBLE) / 1e6, 6) AS char_entropy
         FROM q GROUP BY doc_id, n ORDER BY doc_id""",
    // Distinct-n diversity: three row-local gram streams (1/2/3-grams),
    // totals and dedup-first distinct counts per (source, n).
    "x_ngram_diversity" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
         g AS (
           SELECT source, 1 AS n, unnest(toks) AS gram FROM t
           UNION ALL
           SELECT source, 2, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))
           FROM t WHERE len(toks) >= 2
           UNION ALL
           SELECT source, 3, unnest(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
           FROM t WHERE len(toks) >= 3),
         tot AS (SELECT source, CAST(n AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS total_ng
                 FROM g GROUP BY 1, 2),
         dst AS (SELECT source, CAST(n AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS distinct_ng
                 FROM (SELECT DISTINCT source, n, gram FROM g) GROUP BY 1, 2)
         SELECT tot.source, tot.n, total_ng, distinct_ng,
           round(CAST(distinct_ng AS DOUBLE) / total_ng, 6) AS diversity
         FROM tot JOIN dst ON tot.source = dst.source AND tot.n = dst.n
         ORDER BY tot.source, tot.n""",
    // Zipf fit: ln(rank)/ln(freq) quantized to integer 1e-5-nats per
    // row BEFORE summation (order-immune integer sums), top-100 ranks
    // per lang tie-broken by token; slope/r2 are double divisions of
    // the exact integer moments with one terminal round.
    "x_zipf_fit" ->
      """WITH f AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
           WHERE length(tok) > 0 GROUP BY lang, tok),
         r AS (SELECT lang, freq,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY freq DESC, tok ASC) AS BIGINT) AS rk
           FROM f),
         q AS (SELECT lang,
             CAST(round(ln(CAST(rk AS DOUBLE)) * 1e5) AS BIGINT) AS xi,
             CAST(round(ln(CAST(freq AS DOUBLE)) * 1e5) AS BIGINT) AS yi
           FROM r WHERE rk <= 100),
         s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_ranks,
             CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
             CAST(sum(xi * yi) AS BIGINT) AS sxy,
             CAST(sum(xi * xi) AS BIGINT) AS sxx,
             CAST(sum(yi * yi) AS BIGINT) AS syy
           FROM q GROUP BY lang),
         d AS (SELECT lang, n_ranks,
             n_ranks * sxy - sx * sy AS dxy,
             n_ranks * sxx - sx * sx AS dxx,
             n_ranks * syy - sy * sy AS dyy
           FROM s)
         SELECT lang, n_ranks,
           round(CAST(dxy AS DOUBLE) / CAST(dxx AS DOUBLE), 4) AS slope,
           round(CAST(dxy AS DOUBLE) * CAST(dxy AS DOUBLE)
                 / (CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 4) AS r2
         FROM d ORDER BY lang""",
    // Embedding outliers: seed-cell assignment (the semantic-clusters
    // CTE), per-cell mean/stddev of the rounded cosine (rounded 6
    // before the z-division, z to 4), outlier = z <= -2; singleton or
    // zero-variance cells yield null z and never flag.
    "x_embed_outliers" ->
      s"""WITH $seedAssignCtes,
         ax AS (SELECT a.vec_id, a.cell_id,
             round(list_dot_product(a.v, cent.cv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS cos_centroid
           FROM assigned a JOIN cent ON a.cell_id = cent.cell_id),
         mo AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS n_cell,
             CAST(sum(c_micro) AS BIGINT) AS sc,
             CAST(sum(c_micro * c_micro) AS BIGINT) AS sc2
           FROM (SELECT cell_id, CAST(round(cos_centroid * 1e6) AS BIGINT) AS c_micro
                 FROM ax) GROUP BY cell_id),
         st AS (SELECT cell_id, n_cell,
             round(CAST(sc AS DOUBLE) / n_cell / 1e6, 6) AS mu,
             CASE WHEN n_cell > 1 THEN
               round(sqrt(greatest((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n_cell) / (n_cell - 1), 0.0)) / 1e6, 6)
             END AS sd
           FROM mo)
         SELECT a.vec_id, a.cell_id, a.cos_centroid, st.n_cell, st.mu, st.sd,
           CASE WHEN sd > 0 THEN round((cos_centroid - mu) / sd, 4) END AS z,
           coalesce(CASE WHEN sd > 0 THEN round((cos_centroid - mu) / sd, 4) END <= -2.0, FALSE) AS outlier
         FROM ax a JOIN st ON a.cell_id = st.cell_id
         ORDER BY vec_id""",
    // Corpus-trained BPE (round 10: TRUE iterative learning): the
    // oracle RE-LEARNS the merge table with the actual BPE loop —
    // merge r is the top pair of the corpus AFTER merges 1..r-1 are
    // rendered (one placeholder char per learned symbol, so merged
    // symbols participate in later merges). The loop is unrolled as a
    // chain of CTEs (runs0 → m1 → runs1 → m2 → …): SQL can't iterate
    // an aggregate inside a recursive CTE, but 8 fixed iterations
    // unroll exactly. Tie-break (count desc, pair asc) is all-integer
    // and byte-wise on ASCII, so both engines derive identical merges;
    // replace() is greedy leftmost non-overlapping in both engines,
    // and rank r's placeholder chr(48+r-1) matches the Spark side's
    // '0'+i. An exhausted corpus (no pairs left) coalesces the merge
    // slot to a chr(1)chr(1) sentinel that can never match, mirroring
    // the Spark learner's early stop.
    "x_token_bpe" -> bpeIterativeOracle,
    "x_token_unigram" -> unigramOracle,
    // per-language fertility over the SAME 64-level BPE chain
    "x_token_fertility" ->
      s"""WITH $bpeOracleCtes
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
           CAST(sum(bpec.n_bpe) AS BIGINT) AS n_bpe,
           round(CAST(sum(d.n_chars) AS DOUBLE) / CAST(sum(bpec.n_bpe) AS DOUBLE), 4) AS chars_per_token
         FROM bpec JOIN documents d USING (doc_id)
         GROUP BY d.lang ORDER BY d.lang""",
    "x_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents WHERE doc_id < 100),
         t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token),
         df AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM t) GROUP BY token),
         scored AS (
           SELECT tf.doc_id, tf.token, tf.tf, df.df,
             round(tf.tf * ln(100.0 / df.df), 6) AS tfidf
           FROM tf JOIN df ON tf.token = df.token),
         ranked AS (
           SELECT doc_id, token, tf, df, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS BIGINT) AS rk
           FROM scored)
         SELECT doc_id, rk, token, tf, df, tfidf FROM ranked WHERE rk <= 3
         ORDER BY doc_id, rk""",
    // BM25 (k1=1.2, b=0.75, +1 idf floor): constants stay UNFOLDED
    // (`1.2 + 1`, `sl / n`) and per-term weights sum in fixed literal
    // term order — both engines then run bit-identical float
    // arithmetic; the score is rounded before ranking.
    "x_bm25" ->
      s"""WITH $bm25Ctes
         SELECT rk, doc_id, score FROM ranked WHERE rk <= 10 ORDER BY rk""",
    // Reciprocal Rank Fusion of the BM25 leg (top-20) and a cosine
    // vector leg against the vec_id-0 query embedding (top-20):
    // 1/(60+rank) per leg, absent legs contribute 0 and are emitted as
    // rank 0, fused ranking tie-broken by doc_id.
    "x_rank_fusion" ->
      s"""WITH $bm25Ctes,
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         vs AS (SELECT e.vec_id AS doc_id,
             round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
           FROM e, q WHERE e.vec_id <> 0),
         vranked AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS r_vec
           FROM vs),
         lex AS (SELECT doc_id, rk AS r_lex FROM ranked WHERE rk <= 20),
         vec AS (SELECT doc_id, r_vec FROM vranked WHERE r_vec <= 20),
         fused AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
             coalesce(r_lex, 0) AS r_lex, coalesce(r_vec, 0) AS r_vec
           FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id),
         ff AS (SELECT doc_id, r_lex, r_vec,
             round((CASE WHEN r_lex > 0 THEN 1.0 / (60 + r_lex) ELSE 0.0 END)
                 + (CASE WHEN r_vec > 0 THEN 1.0 / (60 + r_vec) ELSE 0.0 END), 6) AS rrf
           FROM fused)
         SELECT doc_id, r_lex, r_vec, rrf FROM ff
         ORDER BY rrf DESC, doc_id ASC LIMIT 10""",
    "x_multimodal_features" ->
      """WITH m AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id < 50),
         c AS (SELECT media_id, text,
           list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))) AS codes FROM m),
         h AS (SELECT media_id, text, codes,
           list_transform(range(0, 16), b -> len(list_filter(codes, cp -> cp % 256 // 16 = b))) AS hist FROM c),
         n AS (SELECT media_id, text, hist,
           sqrt(list_sum(list_transform(hist, x -> CAST(x AS DOUBLE) * x))) AS nrm FROM h)
         SELECT media_id,
           (['image', 'audio', 'video'])[CAST(media_id % 3 AS INT) + 1] AS kind,
           CAST(floor(length(text) / 32.0) + 1 AS INT) AS n_frames,
           round(hist[1] / nrm, 6) AS f0,
           round(hist[2] / nrm, 6) AS f1
         FROM n ORDER BY media_id""",
    // Golden rows for the real PPM codec: 2×2 red/blue checker and a
    // 3×1 black/grey/white ramp; the non-image payload is dropped by
    // the decode-failure path.
    "x_multimodal_ppm" ->
      """SELECT * FROM (VALUES
         (CAST(1 AS BIGINT), 2, 2, CAST(127.5 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(127.5 AS DOUBLE)),
         (CAST(2 AS BIGINT), 3, 1, CAST(127.6667 AS DOUBLE), CAST(127.6667 AS DOUBLE), CAST(127.6667 AS DOUBLE))
         ) AS t(media_id, width, height, mean_r, mean_g, mean_b) ORDER BY media_id""",
    // Image perceptual-hash near-dups: the oracle rebuilds the 9×8
    // thumbnail grays straight from the text bytes (same char-code
    // pixels the Spark side encodes into PPM), derives the 64 dHash
    // comparison bits, and brute-forces all pairs at Hamming ≤ 3 —
    // which equals the banded multi-index result exactly (pigeonhole:
    // 4 bands catch every pair under Hamming 4).
    "x_image_phash" ->
      s"""WITH $imagePhashCtes
         SELECT m1, m2, hamming FROM p WHERE hamming <= 3 ORDER BY m1, m2""",
    // Image near-dup clusters: the shared phash CTEs' Hamming-<=3
    // pairs solved to connected components by the same min-label
    // recursive reach as x_semantic_clusters; universe = decoded
    // thumbnails (the t CTE).
    "x_image_clusters" ->
      s"""WITH RECURSIVE $imagePhashCtes,
         pr AS (SELECT m1, m2 FROM p WHERE hamming <= 3),
         edges AS (SELECT m1 AS ea, m2 AS eb FROM pr UNION ALL SELECT m2, m1 FROM pr),
         reach(va, vb) AS (
           SELECT media_id, media_id FROM t
           UNION
           SELECT r.va, e2.eb FROM reach r JOIN edges e2 ON r.vb = e2.ea)
         SELECT va AS media_id, min(vb) AS cluster, (min(vb) = va) AS keep
         FROM reach GROUP BY va ORDER BY media_id""",
    // Per-channel image statistics: pixel byte j of the 9x8 thumbnail
    // is text byte (j mod n), channel = j mod 3; exact integer
    // n/s/sq/min/max, micro mean via truncating division, micro std
    // via the one-shape sqrt of the exact bigint radicand.
    "x_image_stats" ->
      s"""WITH $imageTextCte,
         px AS (SELECT media_id, j % 3 AS ch,
                  CAST(ascii(substr(text, (j % n) + 1, 1)) AS BIGINT) AS v
                FROM t, LATERAL (SELECT unnest(generate_series(0, 215)) AS j)),
         agg AS (SELECT (['r', 'g', 'b'])[CAST(ch AS INT) + 1] AS channel,
                  CAST(count(*) AS BIGINT) AS n_px,
                  CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS sq,
                  CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
                FROM px GROUP BY ch)
         SELECT channel, n_px, s AS sum_v,
           CAST(s * 1000000 // n_px AS BIGINT) AS mean_micro,
           CAST(floor(sqrt(CAST(n_px * sq - s * s AS DOUBLE)) * 1000000e0 / n_px + 0.5) AS BIGINT) AS std_micro,
           min_v, max_v
         FROM agg ORDER BY channel""",
    // Video frame sampling: payload bytes = text chars under the ASCII
    // guard; frames = 32-char slices (floor(len/32) full frames), keep
    // idx % 4 = 0, resize = 16-char prefix, checksum = ascii byte sum.
    "x_frame_sample" ->
      s"""WITH ${mediaTextCte(2)},
         f AS (SELECT media_id, r.i AS frame_idx,
                 substr(text, CAST(r.i * 32 + 1 AS INT), 16) AS rs
               FROM m, LATERAL (SELECT unnest(range(0, CAST(length(text) // 32 AS INT))) AS i) AS r
               WHERE r.i % 4 = 0)
         SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(length(rs) AS BIGINT) AS resized_len,
           CAST(list_sum(list_transform(range(1, length(rs) + 1),
             i -> ascii(substr(rs, CAST(i AS INT), 1)))) AS BIGINT) AS byte_sum
         FROM f ORDER BY media_id, frame_idx""",
    // Audio window energy: 32-char windows of the audio payloads,
    // sq_sum = exact integer sum of (byte-128)^2, mean-square by
    // truncating division, silence verdict against the 1800 threshold (calibrated so both verdicts occur on the synthetic byte distribution — space bytes read (32-128)^2 = 9216).
    "x_audio_energy" ->
      s"""WITH ${mediaTextCte(1)},
         f AS (SELECT media_id, r.i AS win_idx,
                 substr(text, CAST(r.i * 32 + 1 AS INT), 32) AS w
               FROM m, LATERAL (SELECT unnest(range(0, CAST(length(text) // 32 AS INT))) AS i) AS r),
         e AS (SELECT media_id, CAST(win_idx AS BIGINT) AS win_idx,
                 CAST(list_sum(list_transform(range(1, length(w) + 1),
                   i -> (ascii(substr(w, CAST(i AS INT), 1)) - 128)
                      * (ascii(substr(w, CAST(i AS INT), 1)) - 128))) AS BIGINT) AS sq_sum
               FROM f)
         SELECT media_id, win_idx, sq_sum,
           CAST(sq_sum // 32 AS BIGINT) AS mean_sq,
           (sq_sum // 32) < 1800 AS is_silence
         FROM e ORDER BY media_id, win_idx""",
  ) ++ corpusOracles

  /** The per-source AMS sign-register CTEs (tok → 16 md5 hex-digit
    * sign sums per source) — shared by the grouped-F2 and join-size
    * oracles (compose, never copy). A def, not a val (the round-11
    * object-initializer hazard).
    */
  private def f2KeyRegCtes: String =
    """t AS (SELECT source AS k, unnest(string_split(text, ' ')) AS token FROM documents),
         tok AS (SELECT k, token FROM t WHERE length(token) > 0),
         reg AS (SELECT k, r.i AS est_i,
                   CAST(sum(CASE WHEN (strpos('0123456789abcdef',
                       substring(md5(token), CAST(r.i + 1 AS INT), 1)) - 1) % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS z
                 FROM tok, range(16) AS r(i) GROUP BY 1, 2)"""

  /** The synthetic-thumbnail universe CTE (ASCII-only documents under
    * doc_id < 200, with byte length) — shared by the phash family and
    * the channel-stats oracle.
    */
  private def imageTextCte: String =
    """t AS (SELECT doc_id AS media_id, text, length(text) AS n
                    FROM documents WHERE doc_id < 200 AND length(text) >= 1
                      AND regexp_matches(text, '^[\x01-\x7F]*$'))"""

  /** The dHash pipeline CTEs (thumbnail grays → 64 comparison bits →
    * all-pairs Hamming `p`) — shared by the pair face and the cluster
    * face (compose, never copy). A def, not a val: entries above
    * interpolate it during the oracle map's init (the round-11 "WITH
    * null" object-initializer hazard).
    */
  private def imagePhashCtes: String =
    s"""$imageTextCte,
         g AS (SELECT media_id,
                 list_transform(range(72), p ->
                   (ascii(substr(text, ((3*p) % n) + 1, 1)) +
                    ascii(substr(text, ((3*p+1) % n) + 1, 1)) +
                    ascii(substr(text, ((3*p+2) % n) + 1, 1))) // 3) AS gray
               FROM t),
         b AS (SELECT media_id,
                 list_transform(range(64), i ->
                   CASE WHEN gray[(i // 8) * 9 + (i % 8) + 1] >
                             gray[(i // 8) * 9 + (i % 8) + 2] THEN 1 ELSE 0 END) AS bits
               FROM g),
         p AS (SELECT a.media_id AS m1, c.media_id AS m2,
                 CAST(list_sum(list_transform(range(64), i ->
                   CASE WHEN a.bits[i+1] <> c.bits[i+1] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
               FROM b a JOIN b c ON a.media_id < c.media_id)"""

  // a def, not a val: entries interpolate shared CTE vals declared
  // further down the file, and a val here would capture them as null
  // during object init (the round-11 x_embed_pca "WITH null" bug)
  private def corpusOracles: Map[String, String] = Map(
    // Single-pass column profile; the oracle spells the same stats as a
    // UNION ALL of per-column aggregates (DuckDB has no stack()).
    "x_profile_columns" ->
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows, count($c) AS n_non_null,
            count(DISTINCT $c) AS n_distinct, CAST(min($c) AS DOUBLE) AS min_val,
            CAST(max($c) AS DOUBLE) AS max_val, round(avg($c), 4) AS avg_val
            FROM lineitem""").mkString(" UNION ALL ") + " ORDER BY column_name"),
    "x_pii_redact" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_long_nums,
         regexp_replace(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'), '[0-9]{6,}', '<NUM>', 'g') AS redacted
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    // NFC composition + C0/DEL control strip + space-run collapse —
    // DuckDB's nfc_normalize implements the same Unicode canonical
    // composition as java.text.Normalizer, so norm_text compares exact.
    "x_text_normalize" ->
      """WITH n AS (
           SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(nfc_normalize(text), '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
               '  +', ' ', 'g')) AS norm_text,
             text
           FROM documents)
         SELECT doc_id, norm_text, norm_text <> text AS changed
         FROM n ORDER BY doc_id""",
    "x_token_hist" ->
      """WITH t AS (SELECT len(string_split(text, ' ')) AS n_tok FROM documents)
         SELECT CAST(least(n_tok // 10, 10) AS BIGINT) AS bucket,
           CAST(least(n_tok // 10, 10) * 10 AS BIGINT) AS lo_tokens,
           count(*) AS n_docs
         FROM t GROUP BY 1, 2 ORDER BY bucket""",
    // Per-dimension embedding profile; float aggregates rounded on both
    // sides, min/max exact (float widened to its exact double).
    "x_embed_stats" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
         x AS (SELECT j, v[j] AS x
               FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS j))
         SELECT CAST(j AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
           round(avg(x), 4) AS mean, round(stddev_samp(x), 4) AS std,
           min(x) AS min_x, max(x) AS max_x
         FROM x GROUP BY j ORDER BY dim""",
    // Top principal component via power iteration, all-integer
    // construction: 1e-4-quantized embeddings, exact integer Gram matrix
    // (HUGEINT sums here, the one-pass OuterProductAgg + BigInt driver
    // solve on the Spark side), exact integer matvecs, per-element
    // deterministic re-quantization to 1e-5 units each iteration —
    // bit-identical iterates on both engines, loadings are exact
    // rationals, no rounding boundary anywhere.
    "x_embed_pca" ->
      s"""WITH $pcaCtes,
         lam AS (SELECT n3.nrm / vn2.vn / 100000000.0 AS lambda FROM n3, vn2)
         SELECT CAST(k AS BIGINT) AS dim, CAST(vq AS DOUBLE) / 100000.0 AS loading, lambda
         FROM v3, lam ORDER BY dim""",
    // Per-vector alignment with the dominant component: cosine against
    // the PCA solve's exact-rational iterate (sequential list dot on
    // both engines); res_ratio derives from the ROUNDED cosine.
    "x_embed_anisotropy" ->
      s"""WITH $pcaCtes,
         vvec AS (SELECT list(CAST(CAST(CAST(vq AS DOUBLE) / 100000.0 AS FLOAT) AS DOUBLE) ORDER BY k) AS pc FROM v3),
         a AS (SELECT vec_id,
             round(list_dot_product(v, pc) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pc, pc))), 6) AS cos_pc1
           FROM ev, vvec)
         SELECT vec_id, cos_pc1, round(1.0 - cos_pc1 * cos_pc1, 6) AS res_ratio
         FROM a ORDER BY vec_id""",
    // Whitening apply: remove the top-2 principal components (exact-
    // integer deflation solve, both components' iterates bit-identical
    // cross-engine, float32-rounded before the dots) from every row.
    // Every emitted float is rounded AND +0.0-normalized on both sides
    // so a -0.0 vs +0.0 rounding-convention split can't break the hash.
    "x_embed_whiten" ->
      s"""WITH $pcaCtes,
         $pcaDeflateCtes,
         p1 AS (SELECT list(CAST(CAST(CAST(vq AS DOUBLE) / 100000.0 AS FLOAT) AS DOUBLE) ORDER BY k) AS pc FROM v3),
         p2 AS (SELECT list(CAST(CAST(CAST(vq AS DOUBLE) / 100000.0 AS FLOAT) AS DOUBLE) ORDER BY k) AS pc FROM v3b),
         lam1 AS (SELECT n3.nrm / vn2.vn / 100000000.0 AS l FROM n3, vn2),
         lam2 AS (SELECT n3b.nrm / vn2b.vn / 100000000.0 AS l FROM n3b, vn2b),
         dd AS (SELECT vec_id, v,
             list_dot_product(v, p1.pc) AS d1,
             list_dot_product(v, p2.pc) AS d2,
             list_dot_product(v, v) AS xx,
             p1.pc AS pc1, p2.pc AS pc2
           FROM ev, p1, p2)
         SELECT vec_id,
           round(d1, 6) + 0.0 AS proj1,
           round(d2, 6) + 0.0 AS proj2,
           array_to_string(list_transform(range(1, len(v) + 1),
             j -> CAST(CAST(round((v[j] - d1 * pc1[j] - d2 * pc2[j]) * 1000000, 0) AS BIGINT) AS VARCHAR)), ',') AS whitened_q,
           round(1.0 - (d1 * d1 + d2 * d2) / xx, 6) + 0.0 AS res_ratio,
           lam1.l AS lambda1, lam2.l AS lambda2
         FROM dd, lam1, lam2 ORDER BY vec_id""",
    // JL signed random projection 64 -> 16: 1e-4 integer quantization,
    // sign(r,c) = first md5 hex digit of 'rp:r:c' < '8', exact integer
    // dot products; norm_ratio is two-long division rounded on both sides
    "x_embed_rp" ->
      """WITH q AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
           FROM embeddings),
         y AS (SELECT vec_id, q,
             list_transform(range(16), r -> CAST(list_sum(
               list_transform(range(64), c ->
                 (CASE WHEN substring(md5('rp:' || CAST(r AS VARCHAR) || ':' || CAST(c AS VARCHAR)), 1, 1) < '8'
                       THEN 1 ELSE -1 END) * q[CAST(c AS INT) + 1])) AS BIGINT)) AS ys
           FROM q),
         n AS (SELECT vec_id, ys,
             CAST(list_sum(list_transform(ys, v -> v * v)) AS BIGINT) AS y2,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS q2
           FROM y)
         SELECT vec_id,
           array_to_string(ys, ',') AS proj_q,
           CASE WHEN q2 = 0 THEN 0.0 ELSE round(CAST(y2 AS DOUBLE) / (16 * q2), 6) END AS norm_ratio
         FROM n ORDER BY vec_id""",
    // Per-source top-3 by the shared quality score: the bounded
    // TopKByScore aggregate's (score DESC, id ASC) contract replayed
    // as a row_number window
    "x_domain_topk" ->
      s"""WITH q AS (
           SELECT source, doc_id,
             $qualityScoreSql AS score
           FROM documents),
         r AS (SELECT source, doc_id, score,
             row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rk
           FROM q)
         SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, score
         FROM r WHERE rk <= 3 ORDER BY source, rk""",
    // Empirical-Bayes source prior: micro-unit integer score sums, exact
    // floor-division global mean (mod-subtract construction — DuckDB //
    // and Java floorDiv agree by divisibility), k=10 pseudo-count shrink
    "x_source_prior" ->
      s"""WITH sc AS (
           SELECT source,
             CAST(round($qualityScoreSql * 1000000) AS BIGINT) AS q
           FROM documents),
         g AS (SELECT CAST((sum(q) - ((sum(q) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS gq FROM sc)
         SELECT source, count(*) AS n_docs,
           round(CAST(sum(q) AS DOUBLE) / (count(*) * 1000000.0), 6) AS mean_score,
           round(CAST(sum(q) + 10 * g.gq AS DOUBLE) / ((count(*) + 10) * 1000000.0), 6) AS prior_score,
           abs(round(CAST(sum(q) + 10 * g.gq AS DOUBLE) / ((count(*) + 10) * 1000000.0), 6) - g.gq / 1000000.0)
             <= abs(round(CAST(sum(q) AS DOUBLE) / (count(*) * 1000000.0), 6) - g.gq / 1000000.0) AS shrunk_toward_global
         FROM sc, g GROUP BY source, g.gq ORDER BY source""",
    // PSI drift between train/val token-count distributions: fixed-width
    // bins (÷32, cap 15), +0.5 Laplace smoothing (denominator + 8.0 =
    // 0.5 × 16 bins), ln contributions rounded on both sides.
    "x_psi_drift" ->
      """WITH b AS (
           SELECT least(len(string_split(text, ' ')) // 32, 15) AS bin,
             ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 AS bucket
           FROM documents),
         f AS (SELECT bin, bucket < 80 AS is_train FROM b WHERE bucket < 90),
         c AS (SELECT bin,
             CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS c_train,
             CAST(sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS c_val
           FROM f GROUP BY bin),
         t AS (SELECT sum(c_train) AS nt, sum(c_val) AS nv FROM c)
         SELECT CAST(c.bin AS BIGINT) AS bin, c_train, c_val,
           round((c_train + 0.5) / (nt + 8.0), 6) AS p_train,
           round((c_val + 0.5) / (nv + 8.0), 6) AS p_val,
           round(((c_train + 0.5) / (nt + 8.0) - (c_val + 0.5) / (nv + 8.0))
             * ln(((c_train + 0.5) / (nt + 8.0)) / ((c_val + 0.5) / (nv + 8.0))), 6) AS psi_contrib
         FROM c, t ORDER BY bin""",
    // Heavy hitters: sketch candidates + exact verify on the Spark
    // side equals the exact threshold count the oracle computes
    // directly (MG completeness: capacity 1024 > invPhi 500).
    "x_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         tt AS (SELECT tok FROM t WHERE length(tok) > 0),
         n AS (SELECT count(*) AS total FROM tt),
         c AS (SELECT tok, count(*) AS cnt FROM tt GROUP BY tok)
         SELECT tok, cnt FROM c, n WHERE cnt * 500 >= total ORDER BY tok""",
    // Apply leg of span dedup: every position covered by a cross-doc
    // duplicated 8-window dropped, survivors rejoined in order.
    "x_substr_apply" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         w AS (SELECT doc_id,
                 unnest(range(1, len(toks) - 6)) AS i,
                 unnest(list_transform(range(1, len(toks) - 6),
                        i -> md5(array_to_string(toks[i:i+7], ' ')))) AS h
               FROM t WHERE len(toks) >= 8),
         dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         dw AS (SELECT w.doc_id, w.i FROM w JOIN dup ON w.h = dup.h),
         cov AS (SELECT DISTINCT doc_id, i + k.k AS p FROM dw, range(8) AS k(k)),
         tok AS (SELECT doc_id, unnest(toks) AS tk, unnest(range(1, len(toks) + 1)) AS p FROM t),
         kept AS (SELECT tok.doc_id, tok.p, tok.tk
                  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
                  WHERE cov.p IS NULL),
         agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(tk, ' ' ORDER BY p) AS cleaned
                 FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(agg.cleaned, '') AS cleaned
         FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
         ORDER BY t.doc_id""",
    // Equi-depth histogram: exact decile boundaries rounded to 2 dp
    // (identical literals cross-engine — q16 establishes percentile
    // interpolation agreement at 4 dp on this data), then a pure
    // comparison-count bucket assignment.
    "x_equidepth_hist" ->
      """WITH b AS (SELECT list_transform(
             quantile_cont(l_extendedprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
             x -> round(x, 2)) AS bs
           FROM lineitem),
         r AS (SELECT l_extendedprice AS v,
                 1 + list_sum(list_transform(bs, x -> CASE WHEN v > x THEN 1 ELSE 0 END)) AS bucket
               FROM lineitem, b)
         SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
           round(min(v), 2) AS lo, round(max(v), 2) AS hi
         FROM r GROUP BY bucket ORDER BY bucket""",
    "x_domain_stats" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_distinct_text,
         round(avg(n_chars), 4) AS avg_chars,
         round(1 - count(DISTINCT text) / CAST(count(*) AS DOUBLE), 4) AS dup_ratio
         FROM documents GROUP BY source ORDER BY source""",
    // Gopher-style repetition signals: consecutive-token-pair dup ratio
    // (built via list_transform over the token list — identical pairs to
    // Spark's per-doc lead window) and top-token share.
    "x_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id,
                 list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS gs,
                 toks
               FROM t WHERE len(toks) > 1),
         tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
         tc AS (SELECT doc_id, tk, count(*) AS n FROM tok GROUP BY doc_id, tk),
         ts AS (SELECT doc_id, max(n) AS top_n, sum(n) AS n_tok FROM tc GROUP BY doc_id)
         SELECT g.doc_id,
           CAST(len(gs) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_grams,
           round(1 - len(list_distinct(gs)) / CAST(len(gs) AS DOUBLE), 4) AS dup2_ratio,
           round(top_n / CAST(n_tok AS DOUBLE), 4) AS top_tok_ratio,
           (round(1 - len(list_distinct(gs)) / CAST(len(gs) AS DOUBLE), 4) <= 0.9
            AND round(top_n / CAST(n_tok AS DOUBLE), 4) <= 0.2) AS keep
         FROM g JOIN ts ON g.doc_id = ts.doc_id
         ORDER BY g.doc_id""",
    // Deterministic md5-bucket split: bucket = first 4 hex digits of
    // md5(doc_id) mod 100 (hex → int spelled out digit-by-digit; DuckDB
    // has no conv()).
    "x_sample_split" ->
      """WITH b AS (
           SELECT doc_id,
             ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 AS bucket
           FROM documents)
         SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    // Length-grouped batching: pow-2 length buckets, batches of 8 in
    // doc_id order within each bucket (the plain window here IS the
    // Spark side's distributed range-offset rank), pad waste per batch
    "x_length_batching" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
         b AS (SELECT doc_id, n_tok,
             CAST((CASE WHEN n_tok >= 16 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tok >= 32 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tok >= 64 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tok >= 128 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tok >= 256 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tok >= 512 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tok >= 1024 THEN 1 ELSE 0 END) AS BIGINT) AS bkt
           FROM d),
         r AS (SELECT bkt, n_tok,
             (row_number() OVER (PARTITION BY bkt ORDER BY doc_id) - 1) // 8 AS batch
           FROM b)
         SELECT bkt, batch, count(*) AS n_docs, max(n_tok) AS batch_max,
           CAST(sum(n_tok) AS BIGINT) AS batch_tok,
           CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste,
           round(CAST(sum(n_tok) AS DOUBLE) / (count(*) * max(n_tok)), 6) AS fill_ratio
         FROM r GROUP BY bkt, batch ORDER BY bkt, batch""",
    // Curriculum: exact score quartiles (quantile_cont mirrors the
    // distributed selection's interpolation), stage = 4 − easier-than
    // count, shuffle key = the sample-split md5 16-bit trick unmodded
    "x_curriculum" ->
      s"""WITH q AS (
           SELECT doc_id,
             $qualityScoreSql AS score
           FROM documents),
         b AS (SELECT list_transform(quantile_cont(score, [0.25, 0.5, 0.75]),
                 x -> round(x, 6)) AS bs FROM q)
         SELECT doc_id, score,
           CAST(4 - list_sum(list_transform(bs, x -> CASE WHEN score > x THEN 1 ELSE 0 END)) AS BIGINT) AS stage,
           CAST((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS BIGINT) AS shuffle_key
         FROM q, b ORDER BY doc_id""",
    // Corpus-trained add-one-smoothed bigram LM, scored as mean negative
    // log-likelihood per doc (docs with >=1 bigram). Vocabulary = count
    // of distinct whitespace tokens corpus-wide.
    "x_lm_score" ->
      s"""WITH $lmScoreCtes
         SELECT doc_id, n_bigrams, avg_nll FROM lm ORDER BY doc_id""",
    // Interpolated Kneser-Ney (D = 0.75): discounted bigram mass plus
    // the continuation-count backoff N1+(·w2)/N1+(··). Composes the
    // JM chain's shared t/p/d2/c2/c1 CTEs (cu/v/s/lm go unreferenced
    // and unplanned); every term in the identical a/b shape as the
    // Spark column, B inlined as the engine's literal via one CAST.
    "x_lm_score_kn" ->
      s"""WITH $lmScoreCtes,
         np1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS np1 FROM c2 GROUP BY w1),
         nc1 AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc1 FROM c2 GROUP BY w2),
         bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c2),
         sk AS (SELECT d2.doc_id, d2.m,
                  -ln((c2.n2 - 0.75) / c1.n1
                      + 0.75 * np1.np1 / c1.n1 * (nc1.nc1 / CAST(bb.b AS DOUBLE))) AS nll
                FROM d2 JOIN c2 ON d2.w1 = c2.w1 AND d2.w2 = c2.w2
                        JOIN c1 ON d2.w1 = c1.w1
                        JOIN np1 ON d2.w1 = np1.w1
                        JOIN nc1 ON d2.w2 = nc1.w2
                        CROSS JOIN bb)
         SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(sum(m * nll) / sum(m), 6) AS avg_nll
         FROM sk GROUP BY doc_id ORDER BY doc_id""",
    // Per-language perplexity outliers over the per-language-CONDITIONED
    // LM scores (round 14): avg_nll quantized to integer 1e-5 units,
    // order-immune per-lang moments, two-sided |z| >= 2 flag (garbled
    // AND templated tails).
    "x_text_outliers" ->
      s"""WITH $lmLangScoreCtes,
         lg AS (SELECT doc_id, lang, avg_nll,
                  CAST(round(avg_nll * 1e5) AS BIGINT) AS am
                FROM lml),
         mo AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang,
                  CAST(sum(am) AS BIGINT) AS sc, CAST(sum(am * am) AS BIGINT) AS sc2
                FROM lg GROUP BY lang),
         st AS (SELECT lang, n_lang,
                  round(CAST(sc AS DOUBLE) / n_lang / 1e5, 6) AS mu,
                  CASE WHEN n_lang > 1 THEN
                    round(sqrt(greatest((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / n_lang) / (n_lang - 1), 0.0)) / 1e5, 6)
                  END AS sd
                FROM mo)
         SELECT lg.doc_id, lg.lang, lg.avg_nll, st.n_lang, st.mu, st.sd,
           CASE WHEN sd > 0 THEN round((avg_nll - mu) / sd, 4) END AS z,
           coalesce(abs(CASE WHEN sd > 0 THEN round((avg_nll - mu) / sd, 4) END) >= 2.0, FALSE) AS outlier
         FROM lg JOIN st ON lg.lang = st.lang ORDER BY lg.doc_id""",
    // C4-style line dedup: lines = aligned non-overlapping 4-token
    // chunks (the corpus has no newlines); drop lines seen 3+ times
    // corpus-wide; reassemble surviving lines in original order.
    "x_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id,
                 list_transform(range(0, CAST(ceil(len(toks) / 4.0) AS INT)),
                                i -> array_to_string(toks[i*4+1 : i*4+4], ' ')) AS lines
               FROM t),
         l AS (SELECT doc_id, unnest(lines) AS line, unnest(range(1, len(lines) + 1)) AS pos FROM c),
         cnt AS (SELECT line, count(*) AS cnt FROM l GROUP BY line),
         k AS (SELECT l.doc_id, l.pos, l.line FROM l JOIN cnt ON l.line = cnt.line WHERE cnt.cnt < 3),
         agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(line, ' ' ORDER BY pos) AS cleaned
                 FROM k GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
         SELECT tot.doc_id, tot.n_lines,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(agg.cleaned, '') AS cleaned
         FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
         ORDER BY tot.doc_id""",
    // Per-source template mass: same aligned 4-token lines as
    // x_line_dedup, counted by within-source DOC frequency (dedup-first
    // distinct (source, doc, line)); template = df >= 2; share is one
    // zero-guarded truncating micro-division.
    "x_template_lines" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, source,
                 list_transform(range(0, CAST(ceil(len(toks) / 4.0) AS INT)),
                                i -> array_to_string(toks[i*4+1 : i*4+4], ' ')) AS lines
               FROM t),
         l AS (SELECT doc_id, source, unnest(lines) AS line FROM c),
         dfq AS (SELECT source, line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1, 2),
         tm AS (SELECT source, line FROM dfq WHERE df >= 2),
         inst AS (SELECT source, CAST(count(*) AS BIGINT) AS n_line_instances FROM l GROUP BY 1),
         dst AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_lines,
                   CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_template_lines
                 FROM dfq GROUP BY 1),
         mass AS (SELECT l.source, CAST(count(*) AS BIGINT) AS template_mass
                  FROM l JOIN tm ON l.source = tm.source AND l.line = tm.line GROUP BY 1),
         nd AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1)
         SELECT nd.source, nd.n_docs,
           CAST(coalesce(inst.n_line_instances, 0) AS BIGINT) AS n_line_instances,
           CAST(coalesce(dst.n_distinct_lines, 0) AS BIGINT) AS n_distinct_lines,
           CAST(coalesce(dst.n_template_lines, 0) AS BIGINT) AS n_template_lines,
           CAST(coalesce(mass.template_mass, 0) AS BIGINT) AS template_mass,
           CASE WHEN coalesce(inst.n_line_instances, 0) = 0 THEN NULL
                ELSE CAST(coalesce(mass.template_mass, 0) * 1000000 // inst.n_line_instances AS BIGINT)
           END AS mass_pct_micro
         FROM nd
         LEFT JOIN inst ON nd.source = inst.source
         LEFT JOIN dst ON nd.source = dst.source
         LEFT JOIN mass ON nd.source = mass.source
         ORDER BY nd.source""",
    // Template cleaner: drop every line whose within-source doc
    // frequency >= 2, reassemble docs from surviving lines in order
    // (x_line_dedup's rebuild keyed by the domain-template rule).
    "x_template_apply" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, source,
                 list_transform(range(0, CAST(ceil(len(toks) / 4.0) AS INT)),
                                i -> array_to_string(toks[i*4+1 : i*4+4], ' ')) AS lines
               FROM t),
         l AS (SELECT doc_id, source, unnest(lines) AS line,
                 unnest(range(1, len(lines) + 1)) AS pos FROM c),
         dfq AS (SELECT source, line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1, 2),
         tm AS (SELECT source, line FROM dfq WHERE df >= 2),
         k AS (SELECT l.doc_id, l.pos, l.line FROM l
               LEFT JOIN tm ON l.source = tm.source AND l.line = tm.line
               WHERE tm.line IS NULL),
         agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(line, ' ' ORDER BY pos) AS cleaned
                 FROM k GROUP BY doc_id),
         tot AS (SELECT doc_id, source, count(*) AS n_lines FROM l GROUP BY 1, 2)
         SELECT tot.doc_id, tot.source, CAST(tot.n_lines AS BIGINT) AS n_lines,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(agg.cleaned, '') AS cleaned
         FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
         ORDER BY tot.doc_id""",
    // Linear quality classifier: fixed literal weights over features
    // rounded to 4 decimals BEFORE weighting (bit-identical doubles on
    // both engines); gate = sign of the score.
    "x_quality_classify" ->
      s"""SELECT doc_id,
         $qualityScoreSql AS score,
         $qualityScoreSql > 0 AS keep
         FROM documents ORDER BY doc_id""",
    // Trained quality classifier: the 8-step integer-GD loop replayed
    // as an unrolled CTE chain (see qualityTrainOracle).
    "x_quality_train" -> qualityTrainOracle,
    // Reliability diagram over the trained classifier: the final
    // weights' algebraic-sigmoid probability (the training loop's own
    // integer-micro-unit expression applied to fin.score_q) bins into
    // ten EQUAL-COUNT buckets via quantile_cont boundaries (the
    // x_vocab_growth decile-assignment shape — Spark's distributed
    // selection mirrors the interpolation exactly); bin sums are exact
    // integers, one terminal 6-dp round per displayed rate.
    "x_quality_calibration" ->
      s"""WITH $qualityBinCtes,
         b AS (SELECT bin,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(qp) AS BIGINT) AS sp,
                 CAST(sum(qy // 1000000) AS BIGINT) AS n_pos
               FROM bb GROUP BY 1)
         SELECT bin, n_docs,
           round(CAST(sp AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6, 6) AS mean_pred,
           n_pos,
           round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS obs_rate
         FROM b ORDER BY bin""",
    // Temperature scaling (round 15): 8 literal temperatures rescale
    // the final-weight logit, qz_T = (score_q*1e6)//T through the same
    // algebraic sigmoid; bins are the calibration diagram's own raw-qp
    // deciles (T-invariant population — T>0 rescaling is monotone);
    // per-T ECE is the exact integer sum(|sum(qp_T) - 1e6*n_pos|) over
    // bins and the fitted T is its argmin with ties to the smallest T
    // (ORDER BY e, t LIMIT 1 = the Spark side's minBy on (e, t)).
    // T=1 sits in the grid, so ece_cal <= ece_raw by construction.
    "x_quality_temperature" ->
      s"""WITH $qualityBinCtes,
         ts AS (SELECT unnest([250000, 500000, 750000, 1000000,
                               1500000, 2000000, 3000000, 4000000]) AS t),
         sc AS (SELECT bb.bin, bb.qy, bb.qp, ts.t,
                  (bb.score_q * 1000000) // ts.t AS qzt
                FROM bb CROSS JOIN ts),
         sp AS (SELECT bin, qy, qp, t,
                  500000 + (1000000 * qzt) // (2 * (1000000 + abs(qzt))) AS qpt
                FROM sc),
         bt AS MATERIALIZED (SELECT t, bin, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(qpt) AS BIGINT) AS spt,
                  CAST(sum(qy // 1000000) AS BIGINT) AS npos,
                  CAST(sum(qp) AS BIGINT) AS spr
                FROM sp GROUP BY t, bin),
         et AS (SELECT t, CAST(sum(abs(spt - 1000000 * npos)) AS BIGINT) AS e
                FROM bt GROUP BY t),
         er AS (SELECT CAST(sum(abs(spr - 1000000 * npos)) AS BIGINT) AS e,
                  CAST(sum(n) AS BIGINT) AS ntot
                FROM bt WHERE t = 1000000),
         best AS (SELECT t, e FROM et ORDER BY e ASC, t ASC LIMIT 1)
         SELECT bt.bin, bt.n AS n_docs, bt.npos AS n_pos,
           round(CAST(bt.spr AS DOUBLE) / CAST(bt.n AS DOUBLE) / 1e6, 6) AS mean_pred_raw,
           round(CAST(bt.spt AS DOUBLE) / CAST(bt.n AS DOUBLE) / 1e6, 6) AS mean_pred_cal,
           round(CAST(bt.npos AS DOUBLE) / CAST(bt.n AS DOUBLE), 6) AS obs_rate,
           CAST(best.t AS BIGINT) AS t_micro,
           round(CAST(er.e AS DOUBLE) / (CAST(er.ntot AS DOUBLE) * 1000000.0), 6) AS ece_raw,
           round(CAST(best.e AS DOUBLE) / (CAST(er.ntot AS DOUBLE) * 1000000.0), 6) AS ece_cal
         FROM bt, best, er WHERE bt.t = best.t ORDER BY bt.bin""",
    // PR operating-point menu: the calibration family's shared bb
    // frame aggregated per bin, thresholds enumerated over OBSERVED
    // bins (duplicate boundaries can merge deciles), cumulative tp /
    // n_pred via a bin >= thr self-join over <=10 rows, micro-unit
    // truncating divisions.
    "x_quality_pr" ->
      s"""WITH $qualityBinCtes,
         bstat AS MATERIALIZED (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(qy // 1000000) AS BIGINT) AS npos
                FROM bb GROUP BY bin),
         tot AS (SELECT CAST(sum(npos) AS BIGINT) AS pos_tot FROM bstat),
         pr AS (SELECT t.bin AS thr_bin,
                  CAST(sum(b.n) AS BIGINT) AS n_pred,
                  CAST(sum(b.npos) AS BIGINT) AS tp
                FROM bstat t JOIN bstat b ON b.bin >= t.bin
                GROUP BY t.bin)
         SELECT thr_bin, n_pred, tp,
           CAST((tp * 1000000) // n_pred AS BIGINT) AS precision_micro,
           CAST((tp * 1000000) // pos_tot AS BIGINT) AS recall_micro
         FROM pr CROSS JOIN tot ORDER BY thr_bin""",
    // Mean-substitution feature ablation under the trained chain's
    // final weights: means are truncating divisions of exact sums,
    // the ablated logit is exact integer arithmetic, flips compare
    // div-quantized score signs. `ab` is MATERIALIZED — referenced by
    // all three UNION legs (the DuckDB per-reference inlining hazard
    // would otherwise replay the GD chain three times).
    "x_quality_ablation" ->
      s"""WITH $qualityTrainCtes,
         mm AS (SELECT CAST(sum(qx1) // CAST(count(*) AS BIGINT) AS BIGINT) AS m1,
                  CAST(sum(qx2) // CAST(count(*) AS BIGINT) AS BIGINT) AS m2,
                  CAST(sum(qx3) // CAST(count(*) AS BIGINT) AS BIGINT) AS m3
                FROM feat),
         ab AS MATERIALIZED (SELECT f.doc_id, f.qx1, f.qx2, f.qx3,
                  (w.w0 * f.qx0 + w.w1 * f.qx1 + w.w2 * f.qx2 + w.w3 * f.qx3) AS zs,
                  w.w1 AS w1, w.w2 AS w2, w.w3 AS w3, m.m1, m.m2, m.m3
                FROM feat f CROSS JOIN w8 w CROSS JOIN mm m),
         legs AS (
           SELECT 'qx1' AS feature, m1 AS mean_q, zs // 10000 AS qz6,
                  (zs - w1 * qx1 + w1 * m1) // 10000 AS qz6a FROM ab
           UNION ALL
           SELECT 'qx2' AS feature, m2 AS mean_q, zs // 10000 AS qz6,
                  (zs - w2 * qx2 + w2 * m2) // 10000 AS qz6a FROM ab
           UNION ALL
           SELECT 'qx3' AS feature, m3 AS mean_q, zs // 10000 AS qz6,
                  (zs - w3 * qx3 + w3 * m3) // 10000 AS qz6a FROM ab)
         SELECT feature, CAST(max(mean_q) AS BIGINT) AS mean_q,
           CAST(sum(CASE WHEN (qz6 > 0) <> (qz6a > 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_flips,
           CAST(sum(abs(qz6a - qz6)) // CAST(count(*) AS BIGINT) AS BIGINT) AS mean_abs_dscore
         FROM legs GROUP BY feature ORDER BY feature""",
    // Per-domain hard cap: rank by (md5(doc_id), doc_id) within source,
    // keep rank <= 20.
    // Domain cap (round 14: rn left the contract — the Spark side caps
    // by boundary-tuple compare, which equals the rank rule because
    // doc_id makes the order total; the oracle keeps the rank form).
    "x_domain_cap" ->
      """SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20 AS keep
         FROM documents ORDER BY doc_id""",
    // Stratified split: exact 80/10/10 inside every source via the
    // deterministic md5 order and all-integer threshold comparisons
    // (round 14: rn left the contract — boundary-tuple compare on the
    // Spark side, rank form in the oracle; identical by total order).
    "x_split_stratified" ->
      """WITH r AS (SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
           FROM documents)
         SELECT doc_id, source, n_src,
           CASE WHEN rn * 10 <= n_src * 8 THEN 'train'
                WHEN rn * 10 <= n_src * 9 THEN 'val'
                ELSE 'test' END AS split
         FROM r ORDER BY doc_id""",
    // Temperature mixture (α = 1/2): weight floor(sqrt(unrounded
    // share)·1e6) quantized to integer micro-units so the normalizing
    // total is an order-immune integer sum; sqrt (not pow) because
    // sqrt is exactly rounded under IEEE-754 on both engines. The
    // displayed share rounds to 6 dp AFTER the weight quantization so
    // a sub-quantum tail source keeps a nonzero weight (boost reads
    // null there, not an infinity — ADVICE r13).
    "x_mixture_temperature" ->
      """WITH per AS (SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tok
           FROM documents GROUP BY source),
         sh AS (SELECT source, src_tok,
             CAST(src_tok AS DOUBLE)
               / (SELECT CAST(sum(src_tok) AS DOUBLE) FROM per) AS share_raw
           FROM per),
         w AS (SELECT source, src_tok, round(share_raw, 6) AS share,
             CAST(floor(sqrt(share_raw) * 1e6) AS BIGINT) AS w FROM sh),
         p AS (SELECT source, src_tok, share, w,
             round(CAST(w AS DOUBLE)
                   / (SELECT CAST(sum(w) AS DOUBLE) FROM w), 6) AS p_temp
           FROM w)
         SELECT source, src_tok, share, w, p_temp,
           CASE WHEN share > 0 THEN round(p_temp / share, 4) END AS boost
         FROM p ORDER BY source""",
    // Mixture sampling: per-source basis-point threshold
    // floor(min(1, 2000/src_tok)·10000) (integer division on both
    // engines), md5 4-hex-digit bucket mod 10000 decides membership.
    "x_mixture_sample" ->
      """WITH d AS (SELECT doc_id, source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                    FROM documents),
         tot AS (SELECT source, sum(n_tok) AS src_tok FROM d GROUP BY source),
         j AS (SELECT d.doc_id, d.source, d.n_tok,
                 CAST(least(10000, 20000000 // src_tok) AS BIGINT) AS thr,
                 CAST(((strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                     + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                     + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR)), 4, 1)) - 1)) % 10000 AS BIGINT) AS bucket
               FROM d JOIN tot ON d.source = tot.source)
         SELECT doc_id, source, n_tok, thr, bucket, bucket < thr AS keep
         FROM j ORDER BY doc_id""",
    // Mixture drift: achieved kept-token share vs the target share per
    // source after the mixture keep, with the per-source KL term —
    // Laplace-smoothed (+0.5/source), KL on unrounded shares, one final
    // round (the psi_drift convention).
    "x_mixture_drift" ->
      """WITH d AS (SELECT doc_id, source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                    FROM documents),
         tot AS (SELECT source, sum(n_tok) AS src_tok FROM d GROUP BY source),
         j AS (SELECT d.doc_id, d.source, d.n_tok, tot.src_tok,
                 CAST(least(10000, 20000000 // src_tok) AS BIGINT) AS thr,
                 CAST(((strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                     + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                     + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR)), 4, 1)) - 1)) % 10000 AS BIGINT) AS bucket
               FROM d JOIN tot ON d.source = tot.source),
         per AS (SELECT source,
                   CAST(sum(n_tok) AS BIGINT) AS src_tok,
                   CAST(sum(CASE WHEN bucket < thr THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tok
                 FROM j GROUP BY source),
         per2 AS (SELECT source, src_tok, kept_tok,
                    CAST(least(2000, src_tok) AS BIGINT) AS target_tok FROM per),
         g AS (SELECT sum(kept_tok) AS kt, sum(target_tok) AS tt, count(*) AS ns FROM per2)
         SELECT source, src_tok, target_tok, kept_tok,
           round((kept_tok + 0.5) / (g.kt + 0.5 * g.ns), 6) AS p_kept,
           round((target_tok + 0.5) / (g.tt + 0.5 * g.ns), 6) AS p_target,
           round(((kept_tok + 0.5) / (g.kt + 0.5 * g.ns))
             * ln(((kept_tok + 0.5) / (g.kt + 0.5 * g.ns)) / ((target_tok + 0.5) / (g.tt + 0.5 * g.ns))), 6) AS kl_contrib
         FROM per2, g ORDER BY source""",
    // Eval-set 8-gram overlap (docs 0-19 stand in for the benchmark).
    // Word-13-gram decontamination — the GPT-3 appendix-C / PaLM
    // published rule: ANY shared 13-token n-gram marks the document.
    // Spark joins 8-byte xxhash64s, the oracle the literal strings —
    // counts agree by the chunk-family collision-free contract.
    "x_decontam_13gram" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         arr AS (SELECT doc_id,
             CASE WHEN len(toks) < 13 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 11),
                    i -> array_to_string(toks[i:i + 12], ' '))) END AS ngs
           FROM t),
         g AS (SELECT doc_id, unnest(ngs) AS ng FROM arr),
         ev AS (SELECT DISTINCT ng FROM g WHERE doc_id < 20),
         ov AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared
                FROM g JOIN ev USING (ng) GROUP BY g.doc_id)
         SELECT arr.doc_id, CAST(len(ngs) AS BIGINT) AS n_13g,
           coalesce(ov.n_shared, 0) AS n_shared,
           coalesce(ov.n_shared, 0) >= 1 AS contaminated
         FROM arr LEFT JOIN ov ON arr.doc_id = ov.doc_id
         ORDER BY arr.doc_id""",
    // Deterministic T5 span corruption: one 3-token span per FULL
    // 20-token block at an md5-derived offset (4-hex bucket mod 18);
    // the partial tail block stays unmasked.
    "x_span_corruption" ->
      s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         b AS (SELECT doc_id, n_tok, n_tok // 20 AS n_blocks FROM t),
         sp AS (SELECT doc_id, unnest(range(n_blocks)) AS bi FROM b),
         spp AS (SELECT doc_id, bi,
             bi * 20 + 1 + ${duckHex4("doc_id || ':' || bi")} % 18 AS st FROM sp),
         man AS (SELECT doc_id,
             string_agg(CAST(st AS VARCHAR) || '-3', ',' ORDER BY bi) AS spans
           FROM spp GROUP BY doc_id)
         SELECT b.doc_id, b.n_tok, b.n_blocks,
           CAST(b.n_blocks * 3 AS BIGINT) AS n_masked,
           round(CAST(b.n_blocks * 3 AS DOUBLE) / b.n_tok, 4) AS mask_rate,
           coalesce(man.spans, '') AS spans
         FROM b LEFT JOIN man ON b.doc_id = man.doc_id
         ORDER BY b.doc_id""",
    // Fill-in-middle split: md5-derived cut points 0 <= a <= b <= n,
    // segment digests prove the split itself (md5 is identical hex on
    // both engines).
    "x_fim_split" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         c AS (SELECT doc_id, toks, n_tok,
             ${duckHex4("doc_id || ':a'")} % (n_tok + 1) AS p_end FROM t),
         c2 AS (SELECT doc_id, toks, n_tok, p_end,
             p_end + ${duckHex4("doc_id || ':b'")} % (n_tok - p_end + 1) AS m_end FROM c)
         SELECT doc_id, n_tok, p_end, m_end,
           md5(coalesce(array_to_string(toks[1:CAST(p_end AS INT)], ' '), '')) AS prefix_md5,
           md5(coalesce(array_to_string(toks[CAST(p_end + 1 AS INT):CAST(m_end AS INT)], ' '), '')) AS middle_md5,
           md5(coalesce(array_to_string(toks[CAST(m_end + 1 AS INT):CAST(n_tok AS INT)], ' '), '')) AS suffix_md5
         FROM c2 ORDER BY doc_id""",
    // Per-language-conditioned JM LM scores (round 14) — the chain
    // anchor for the perplexity family's shared memo.
    "x_lm_score_lang" ->
      s"""WITH $lmLangScoreCtes
         SELECT doc_id, lang, n_bigrams, avg_nll FROM lml ORDER BY doc_id""",
    // Incremental merge-equals-retrain (round 14): the Spark side
    // trains on 2/3 of the corpus and MERGES the last third's counts
    // in; the oracle is the FULL retrain — identical SQL to
    // x_lm_score_lang — so a passing hash compare proves count merging
    // is exact and the left-join scoring kernel reproduces the batch
    // face on in-model documents.
    "x_lm_merge_incremental" ->
      s"""WITH $lmLangScoreCtes
         SELECT doc_id, lang, n_bigrams, avg_nll FROM lml ORDER BY doc_id""",
    // CCNet head/middle/tail (round 14): per-language BOUNDARY compare
    // — b1/b2 are the avg_nll values at ranks floor(n/3)/floor(2n/3)
    // (the oracle derives them by rank; the Spark side by distributed
    // selection — same value, the rank-k order statistic is
    // tiebreak-invariant), and every doc buckets by avg_nll <= b.
    // Boundary TIES all take the lower bucket. Tiny languages
    // (ADVICE r14 wording fix): n<3 leaves b1 NULL (no head bucket);
    // b2 is NULL only when floor(2n/3)=0, i.e. n=1 — an n=2 language
    // still gets a middle boundary (rank 1), so its docs split
    // middle/tail, not all-tail.
    "x_ppl_buckets" ->
      s"""WITH $lmLangScoreCtes,
         rb AS (SELECT doc_id, lang, avg_nll,
                  CAST(row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
                FROM lml),
         bb AS (SELECT lang, CAST(max(n_lang) AS BIGINT) AS n_lang,
                  max(CASE WHEN rn * 3 <= n_lang THEN avg_nll END) AS b1,
                  max(CASE WHEN rn * 3 <= n_lang * 2 THEN avg_nll END) AS b2
                FROM rb GROUP BY lang)
         SELECT rb.doc_id, rb.lang, rb.avg_nll, bb.n_lang,
           CASE WHEN rb.avg_nll <= bb.b1 THEN 'head'
                WHEN rb.avg_nll <= bb.b2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM rb JOIN bb ON rb.lang = bb.lang ORDER BY rb.doc_id""",
    // Per-source dataset card: doc/token volume, near-dup involvement,
    // quality-gate keep share, language breadth — the ngram pair CTEs
    // + the shared quality score, rolled to sources.
    "x_dataset_card" ->
      s"""WITH $ngramPairCtes,
         pairs AS (
           SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
           WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
         dd AS (SELECT DISTINCT unnest([d1, d2]) AS doc_id FROM pairs),
         base AS (SELECT d.doc_id, d.source, d.lang,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
             ($qualityScoreSql) > 0 AS keep_q,
             dd.doc_id IS NOT NULL AS is_dup
           FROM documents d LEFT JOIN dd ON d.doc_id = dd.doc_id),
         lg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs
                FROM (SELECT DISTINCT source, lang FROM base) GROUP BY source)
         SELECT b.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b.n_tok) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN b.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(CAST(sum(CASE WHEN b.is_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_share,
           CAST(sum(CASE WHEN b.keep_q THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_quality,
           round(CAST(sum(CASE WHEN b.keep_q THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS quality_keep_share,
           any_value(lg.n_langs) AS n_langs
         FROM base b JOIN lg ON b.source = lg.source
         GROUP BY b.source ORDER BY b.source""",
    // LSH banding S-curve: every exponent in the (bands, rows) design
    // space is a power of two, so s^r and (1-p)^b are SQUARING CHAINS
    // (identical multiplication trees both engines; pow is only
    // <=1-ulp), DuckDB's lateral column aliases mirroring Spark's
    // foldLeft chain. Measured pair mass buckets the memoized verified
    // pairs by floor(jac*20), capped into the top bucket at J = 1.0.
    "x_lsh_tuning" ->
      s"""WITH $ngramPairCtes,
         pj AS (SELECT CAST(least(floor(sh / (n1.n_ng + n2.n_ng - sh) * 20), 19) * 5 AS BIGINT) AS s_x100
                FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
                WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
         pc AS (SELECT s_x100, CAST(count(*) AS BIGINT) AS n_pairs FROM pj GROUP BY s_x100),
         grid AS (SELECT CAST(b.bands AS BIGINT) AS bands,
                    CAST(b.rows_per_band AS BIGINT) AS rows_per_band,
                    CAST(i.i * 5 AS BIGINT) AS s_x100
                  FROM (VALUES (16, 8), (32, 4), (64, 2)) b(bands, rows_per_band),
                       (SELECT unnest(range(1, 20)) AS i) i),
         t AS (SELECT bands, rows_per_band, s_x100,
                 s_x100 / 100.0 AS sv,
                 sv * sv AS s2, s2 * s2 AS s4, s4 * s4 AS s8,
                 CASE rows_per_band WHEN 2 THEN s2 WHEN 4 THEN s4 ELSE s8 END AS pb
               FROM grid),
         t2 AS (SELECT bands, rows_per_band, s_x100, pb,
                  (1.0 - pb) AS q1, q1 * q1 AS q2, q2 * q2 AS q4, q4 * q4 AS q8,
                  q8 * q8 AS q16, q16 * q16 AS q32, q32 * q32 AS q64,
                  CASE bands WHEN 16 THEN q16 WHEN 32 THEN q32 ELSE q64 END AS qb
                FROM t)
         SELECT t2.bands, t2.rows_per_band, t2.s_x100,
           round(pb, 6) AS p_band, round(1.0 - qb, 6) AS p_cand,
           CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs
         FROM t2 LEFT JOIN pc ON t2.s_x100 = pc.s_x100
         ORDER BY bands, t2.s_x100""",
    // Dedup-adjusted temperature mixture: the canonical keep-best
    // verdict (quality argmax per near-dup cluster) gates each doc's
    // token mass; weights = floor(sqrt(unrounded KEPT share)*1e6) with
    // the raw variant's integer conventions.
    "x_mixture_dedup_adjusted" ->
      s"""WITH RECURSIVE $ngramPairCtes,
         pairs AS (
           SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
           WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
         edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
         clus AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
         q AS (SELECT doc_id, $qualityScoreSql AS score FROM documents),
         kb AS (SELECT c.doc_id,
                  (row_number() OVER (PARTITION BY c.cluster ORDER BY q.score DESC, c.doc_id ASC) = 1) AS keep_best
                FROM clus c JOIN q ON c.doc_id = q.doc_id),
         per AS (SELECT d.source,
                   CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS src_tok,
                   CAST(sum(CASE WHEN kb.keep_best THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT) AS kept_tok
                 FROM documents d JOIN kb ON d.doc_id = kb.doc_id
                 GROUP BY d.source),
         sh2 AS (SELECT source, src_tok, kept_tok,
                   CAST(src_tok AS DOUBLE) / (SELECT CAST(sum(src_tok) AS DOUBLE) FROM per) AS share_raw_u,
                   CAST(kept_tok AS DOUBLE) / (SELECT CAST(sum(kept_tok) AS DOUBLE) FROM per) AS share_kept_u
                 FROM per),
         w2 AS (SELECT source, src_tok, kept_tok,
                  round(share_raw_u, 6) AS share_raw,
                  round(share_kept_u, 6) AS share_kept,
                  CAST(floor(sqrt(share_kept_u) * 1e6) AS BIGINT) AS w
                FROM sh2),
         p2 AS (SELECT source, src_tok, kept_tok, share_raw, share_kept, w,
                  round(CAST(w AS DOUBLE) / (SELECT CAST(sum(w) AS DOUBLE) FROM w2), 6) AS p_temp
                FROM w2)
         SELECT source, src_tok, kept_tok, share_raw, share_kept, w, p_temp,
           CASE WHEN share_raw > 0 THEN round(p_temp / share_raw, 4) END AS boost_vs_raw,
           round(1.0 - CAST(kept_tok AS DOUBLE) / CAST(src_tok AS DOUBLE), 6) AS dup_tok_share
         FROM p2 ORDER BY source""",
    "x_decontam" ->
      """WITH g0 AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(length(text) - 6, 2)), i -> substr(text, i, 8))) AS ng
           FROM documents),
         ev AS (SELECT DISTINCT ng FROM g0 WHERE doc_id < 20),
         ov AS (SELECT doc_id, count(*) AS n_shared FROM g0 JOIN ev ON g0.ng = ev.ng GROUP BY doc_id)
         SELECT d.doc_id, coalesce(ov.n_shared, 0) AS n_shared,
           coalesce(ov.n_shared, 0) >= 10 AS contaminated
         FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
         ORDER BY d.doc_id""",
    // Verdict query: same exact overlap, plus the bloom path's soundness
    // invariant (no false negatives → every doc's bloom hit count covers
    // its exact count). DuckDB can't build the identical bitmap, but it
    // CAN assert what must hold of it — `true AS bloom_ok` carries real
    // content because the Spark side computes bloom_ok from the probe.
    "x_decontam_bloom" ->
      """WITH g0 AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(length(text) - 6, 2)), i -> substr(text, i, 8))) AS ng
           FROM documents),
         ev AS (SELECT DISTINCT ng FROM g0 WHERE doc_id < 20),
         ov AS (SELECT doc_id, count(*) AS n_shared FROM g0 JOIN ev ON g0.ng = ev.ng GROUP BY doc_id)
         SELECT d.doc_id, coalesce(ov.n_shared, 0) AS n_shared,
           coalesce(ov.n_shared, 0) >= 10 AS contaminated,
           true AS bloom_ok
         FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
         ORDER BY d.doc_id""",
    // Semantic decontamination: eval = vec_id < 20; a corpus vector is
    // contaminated iff some eval vector shares its sign-bit bucket and
    // has 6-dp-rounded cosine ≥ 0.4 (same bucket + cosine contract as
    // x_embed_neardup_lsh; eval members self-flag, as in x_decontam).
    "x_decontam_semantic" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
             $signBucketSql AS bucket
           FROM embeddings),
         hits AS (
           SELECT c.vec_id, count(*) AS n_close
           FROM e c JOIN e q ON c.bucket = q.bucket AND q.vec_id < 20
           WHERE round(list_dot_product(c.v, q.v) / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v))), 6) >= 0.4
           GROUP BY c.vec_id)
         SELECT a.vec_id, coalesce(h.n_close, 0) AS n_close,
           coalesce(h.n_close, 0) >= 1 AS contaminated
         FROM embeddings a LEFT JOIN hits h ON a.vec_id = h.vec_id
         ORDER BY a.vec_id""",
    // Multi-probe twin: each eval row probes its bucket + 8 Hamming-1
    // buckets (masks 0,1,2,...,128). Probe buckets per eval row are
    // distinct and a corpus row lives in one bucket, so each (corpus,
    // eval) pair matches at most once — counts exact with no dedup.
    // mask=0 recovers the single-bucket n_close inside the same join.
    "x_decontam_semantic_probe" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
             $signBucketSql AS bucket
           FROM embeddings),
         m AS (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS mask),
         q AS (
           SELECT vec_id AS eval_id, v AS qv, mask,
             xor(bucket::BIGINT, mask::BIGINT) AS qb
           FROM e, m WHERE vec_id < 20),
         hits AS (
           SELECT c.vec_id,
             CAST(coalesce(sum(CASE WHEN q.mask = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_close,
             CAST(count(*) AS BIGINT) AS n_close_probe
           FROM e c JOIN q ON c.bucket = q.qb
           WHERE round(list_dot_product(c.v, q.qv) / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) >= 0.4
           GROUP BY c.vec_id)
         SELECT a.vec_id,
           coalesce(h.n_close, 0) AS n_close,
           coalesce(h.n_close_probe, 0) AS n_close_probe,
           coalesce(h.n_close_probe, 0) - coalesce(h.n_close, 0) AS probe_gain,
           coalesce(h.n_close_probe, 0) >= coalesce(h.n_close, 0) AS probe_ok,
           coalesce(h.n_close_probe, 0) >= 1 AS contaminated
         FROM embeddings a LEFT JOIN hits h ON a.vec_id = h.vec_id
         ORDER BY a.vec_id""",
    // Greedy sequential packing: a doc's bin = floor(prefix token sum
    // before it / 2048). The oracle's single global cumsum is the
    // semantics; the Spark side computes it as a distributed prefix sum.
    // Overlapping 64-token chunks advancing by 48; last start is the
    // first one whose window reaches the final token (integer ceil), so
    // no redundant tail chunks. md5 keys the chunk text for downstream
    // chunk-level dedup.
    "x_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         st AS (SELECT doc_id, toks, n_tok,
             unnest(generate_series(1, greatest(0, (n_tok - 64 + 47) // 48) * 48 + 1, 48)) AS start_tok
           FROM t)
         SELECT doc_id,
           CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least(start_tok + 63, n_tok) AS BIGINT) AS end_tok,
           CAST(least(start_tok + 63, n_tok) - start_tok + 1 AS BIGINT) AS n_tok_chunk,
           md5(array_to_string(toks[start_tok:least(start_tok + 63, n_tok)], ' ')) AS chunk_md5
         FROM st ORDER BY doc_id, chunk_id""",
    // Per-chunk quality gate: same boundary arithmetic, per-chunk TTR
    // (rounded 4) and the (ttr >= 0.3 AND n >= 16) keep verdict.
    "x_chunk_quality" ->
      s"""WITH $chunkScanCtes,
         c AS (SELECT doc_id, CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_id,
             toks[CAST(start_tok AS INT):CAST(least(start_tok + 63, n_tok) AS INT)] AS sl
           FROM st)
         SELECT doc_id, chunk_id, CAST(len(sl) AS BIGINT) AS n_tok_chunk,
           round(len(list_distinct(sl)) / CAST(len(sl) AS DOUBLE), 4) AS ttr,
           (round(len(list_distinct(sl)) / CAST(len(sl) AS DOUBLE), 4) >= 0.3
            AND len(sl) >= 16) AS keep
         FROM c ORDER BY doc_id, chunk_id""",
    // Chunk-granularity dedup: chunk hashes served by >=2 distinct docs
    "x_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         st AS (SELECT doc_id, toks, n_tok,
             unnest(generate_series(1, greatest(0, (n_tok - 64 + 47) // 48) * 48 + 1, 48)) AS start_tok
           FROM t),
         ch AS (SELECT doc_id,
             md5(array_to_string(toks[start_tok:least(start_tok + 63, n_tok)], ' ')) AS chunk_md5
           FROM st)
         SELECT chunk_md5,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS owner, max(doc_id) AS max_doc,
           CAST(count(*) AS BIGINT) AS n_copies
         FROM ch GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2
         ORDER BY chunk_md5""",
    // Chunk-level near-dup: word-3-gram Jaccard >= 0.8 between distinct
    // chunk contents (one lexicographic-min representative per md5 —
    // exact copies are chunkDedup's job). The Spark side generates
    // candidates by banded MinHash (miss prob < 6e-8 at the threshold,
    // recall-spec'd vs brute force); the contract both engines compute
    // is the exact shingle-join Jaccard below. Integer threshold
    // (5·sh >= 4·(n1+n2−sh)) and row-level two-long division keep the
    // boundary and the emitted ratio bit-identical cross-engine.
    "x_chunk_neardup" ->
      s"""WITH $chunkPairCtes
         SELECT j.m1, j.m2, r1.doc_id AS d1, r1.cid AS c1, r2.doc_id AS d2, r2.cid AS c2,
           j.n1, j.n2, j.sh AS shared, j.sh / (j.n1 + j.n2 - j.sh) AS jac
         FROM j JOIN rep r1 ON j.m1 = r1.m JOIN rep r2 ON j.m2 = r2.m
         ORDER BY j.m1, j.m2""",
    // Chunk clusters: connected components over the whole chunk-dup
    // graph — exact copies edge to their md5-min representative,
    // near-dup representatives (the x_chunk_neardup contract) edge to
    // each other; label = component-min packed (doc_id·2^20 + chunk_id)
    // key, decomposed back; keep = the canonical chunk.
    "x_chunk_clusters" ->
      s"""WITH RECURSIVE $chunkPairCtes,
         kch AS (SELECT doc_id, cid, m, doc_id * 1048576 + cid AS k FROM ch),
         rk AS (SELECT m, min(k) AS rk FROM kch GROUP BY m),
         eqe AS (SELECT rk.rk AS ea, kch.k AS eb FROM kch JOIN rk ON kch.m = rk.m WHERE kch.k <> rk.rk),
         nde AS (SELECT r1.doc_id * 1048576 + r1.cid AS ea, r2.doc_id * 1048576 + r2.cid AS eb
           FROM j JOIN rep r1 ON j.m1 = r1.m JOIN rep r2 ON j.m2 = r2.m),
         edges AS (SELECT ea, eb FROM eqe UNION ALL SELECT eb, ea FROM eqe
           UNION ALL SELECT ea, eb FROM nde UNION ALL SELECT eb, ea FROM nde),
         reach(a, b) AS (
           SELECT k, k FROM kch
           UNION
           SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
         lab AS (SELECT a AS k, min(b) AS cl FROM reach GROUP BY a)
         SELECT kch.doc_id, kch.cid AS chunk_id, kch.m AS chunk_md5,
           CAST(lab.cl // 1048576 AS BIGINT) AS cluster_doc,
           CAST(lab.cl % 1048576 AS BIGINT) AS cluster_chunk,
           (lab.cl = kch.k) AS keep
         FROM kch JOIN lab ON kch.k = lab.k
         ORDER BY kch.doc_id, chunk_id""",
    // Incremental chunk dedup: the arriving batch (doc_id >= 400)
    // judged chunk-by-chunk against the corpus — md5 equality IS the
    // predicate (the streaming twin's contract); first-wins inside the
    // batch by the packed (doc_id·2^20 + chunk_id) key.
    "x_chunk_incremental" ->
      s"""WITH $chunkScanCtes,
         ch AS (SELECT doc_id, CAST((start_tok - 1) // 48 AS BIGINT) AS cid,
             md5(array_to_string(toks[start_tok:least(start_tok + 63, n_tok)], ' ')) AS m
           FROM st),
         cor AS (SELECT m, min(doc_id) AS corpus_owner FROM ch WHERE doc_id < 400 GROUP BY m),
         b AS (SELECT doc_id, cid, m, doc_id * 1048576 + cid AS k FROM ch WHERE doc_id >= 400),
         bf AS (SELECT m, min(k) AS fk FROM b GROUP BY m)
         SELECT b.doc_id, b.cid AS chunk_id, b.m AS chunk_md5,
           coalesce(cor.corpus_owner, -1) AS corpus_owner,
           cor.corpus_owner IS NOT NULL AS dup_of_corpus,
           b.k > bf.fk AS dup_of_batch,
           (cor.corpus_owner IS NULL AND b.k = bf.fk) AS keep
         FROM b JOIN bf ON b.m = bf.m LEFT JOIN cor ON b.m = cor.m
         ORDER BY b.doc_id, chunk_id""",
    // DSIR importance resampling: hashed-bigram log-likelihood ratios
    // (val split = target, train split = raw pool), quantized to integer
    // micro-nats so per-doc weights are exact integer sums; Gumbel-top-k
    // draw with md5-derived deterministic uniforms.
    "x_dsir_sample" ->
      """WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS w,
             ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 AS sbucket
           FROM documents),
         d AS (SELECT doc_id, w, sbucket >= 80 AS is_target FROM d0 WHERE sbucket < 90),
         f AS (SELECT doc_id, is_target,
             ((strpos('0123456789abcdef', substring(bg, 1, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substring(bg, 2, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(bg, 3, 1)) - 1)) % 1024 AS b
           FROM (SELECT doc_id, is_target, md5(w[i] || ' ' || w[i + 1]) AS bg
             FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)) t),
         c AS (SELECT b,
             CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS BIGINT) AS cr
           FROM f GROUP BY b),
         t2 AS (SELECT sum(ct) AS tct, sum(cr) AS tcr FROM c),
         lam AS (SELECT b,
             CAST(floor((ln((ct + 0.5) / (tct + 512.0)) - ln((cr + 0.5) / (tcr + 512.0))) * 1000000 + 0.5) AS BIGINT) AS lam_q
           FROM c, t2),
         pd AS (SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feat,
             CAST(sum(lam_q) AS BIGINT) AS logw_q
           FROM f JOIN lam USING (b) WHERE NOT is_target GROUP BY f.doc_id),
         uu AS (SELECT doc_id, n_feat, logw_q,
             ((strpos('0123456789abcdef', substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 1048576
            + (strpos('0123456789abcdef', substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 65536
            + (strpos('0123456789abcdef', substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 6, 1)) - 1)) AS h24
           FROM pd),
         sc AS (SELECT doc_id, n_feat, logw_q,
             round(logw_q / 1000000.0 - ln(-ln((h24 + 0.5) / 16777216.0)), 6) AS g
           FROM uu),
         ranked AS (SELECT doc_id, n_feat, logw_q, g,
             CAST(row_number() OVER (ORDER BY g DESC, doc_id ASC) AS BIGINT) AS rk FROM sc)
         SELECT rk, doc_id, n_feat, logw_q / 1000000.0 AS logw, g
         FROM ranked WHERE rk <= 100 ORDER BY rk""",
    "x_pack_bins" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id) AS cum FROM t)
         SELECT doc_id, n_tok, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin
         FROM c ORDER BY doc_id""",
    // True sequence packing: the global token stream cut at every
    // 2048-token boundary; a doc straddling a boundary emits one
    // (bin, slice) row per boundary crossed, slice positions 1-based
    // within the doc. Same single-cumsum semantics as x_pack_bins; the
    // Spark side computes it as the distributed prefix sum.
    "x_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         c AS (SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT) AS tb FROM t),
         s AS (SELECT doc_id, n_tok, tb,
             unnest(generate_series(tb // 2048, (tb + n_tok - 1) // 2048)) AS bin
           FROM c)
         SELECT doc_id, n_tok, CAST(bin AS BIGINT) AS bin,
           CAST(bin - tb // 2048 AS BIGINT) AS slice_id,
           CAST(greatest(bin * 2048 - tb, 0) + 1 AS BIGINT) AS slice_start,
           CAST(least((bin + 1) * 2048 - tb, n_tok) AS BIGINT) AS slice_end,
           CAST(least((bin + 1) * 2048 - tb, n_tok) - greatest(bin * 2048 - tb, 0) AS BIGINT) AS n_tok_slice
         FROM s ORDER BY doc_id, bin""",
    // Per-bin assembly manifest over the same slices: ordered
    // doc:start-end spans (doc_id order within a bin — unique, so the
    // string is canonical on both engines).
    "x_pack_manifest" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         c AS (SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT) AS tb FROM t),
         s AS (SELECT doc_id, n_tok, tb,
             unnest(generate_series(tb // 2048, (tb + n_tok - 1) // 2048)) AS bin
           FROM c),
         sl AS (SELECT doc_id, CAST(bin AS BIGINT) AS bin,
             CAST(greatest(bin * 2048 - tb, 0) + 1 AS BIGINT) AS slice_start,
             CAST(least((bin + 1) * 2048 - tb, n_tok) AS BIGINT) AS slice_end,
             CAST(least((bin + 1) * 2048 - tb, n_tok) - greatest(bin * 2048 - tb, 0) AS BIGINT) AS n_tok_slice
           FROM s)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_slices,
           CAST(sum(n_tok_slice) AS BIGINT) AS bin_tok,
           string_agg(doc_id || ':' || slice_start || '-' || slice_end, ',' ORDER BY doc_id) AS manifest
         FROM sl GROUP BY bin ORDER BY bin""")

  /** Iterative-BPE oracle, the 8-iteration training loop unrolled as a
    * CTE chain (see the x_token_bpe map entry for the contract). Built
    * programmatically so each unrolled level is generated, not
    * hand-copied 8 times.
    */
  /** The 64-level BPE training/application CTE chain through the
    * per-doc `bpec` counts — shared by x_token_bpe (the doc_id < 50
    * report face) and x_token_fertility (the per-language audit), per
    * the compose-never-copy convention.
    */
  private val bpeOracleCtes: String = {
    val nMerges = 64
    // never-matching sentinel for exhausted merge slots (corpus out of
    // pairs): chr(1) can't appear in alpha+placeholder+space text.
    // Placeholders are BMP private-use chars U+E000+rank (= chr(57344
    // + rank)) — round 13 lifted the digit placeholders' 10-merge cap.
    // Training runs over the DISTINCT (token, cnt) vocabulary
    // (pair counts weighted by type frequency ≡ per-occurrence
    // counts — Sennrich's formulation), so each of the 64 levels
    // re-renders a vocab-bounded frame, not the corpus; MATERIALIZED
    // keeps the doubly-referenced chain from exponential re-inlining.
    def mergeRef(r: Int) = s"coalesce((SELECT pair FROM m$r), chr(1) || chr(1))"
    val levels = (1 to nMerges).map { r =>
      s"""m$r AS (SELECT pair FROM (
           SELECT unnest(list_transform(range(length(tok) - 1), i -> substr(tok, i + 1, 2))) AS pair, cnt
           FROM runs${r - 1} WHERE length(tok) >= 2)
         GROUP BY pair ORDER BY sum(cnt) DESC, pair ASC LIMIT 1),
         runs$r AS MATERIALIZED (SELECT replace(tok, ${mergeRef(r)}, chr(${57344 + r - 1})) AS tok, cnt FROM runs${r - 1})"""
    }.mkString(",\n         ")
    val appliedExpr = (1 to nMerges).foldLeft("joined") { (acc, r) =>
      s"replace($acc, ${mergeRef(r)}, chr(${57344 + r - 1}))"
    }
    s"""runs0 AS MATERIALIZED (
           SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT unnest(regexp_extract_all(text, '[a-zA-Z]+')) AS tok FROM documents)
           GROUP BY tok),
         $levels,
         toks AS (SELECT doc_id,
                    array_to_string(regexp_extract_all(text, '[a-zA-Z]+'), ' ') AS joined,
                    len(regexp_extract_all(text, '[a-zA-Z]+')) AS n_tok, text
                  FROM documents),
         applied AS (SELECT doc_id, n_tok, text, $appliedExpr AS s FROM toks),
         bpec AS (SELECT doc_id,
           CAST(length(s) - greatest(n_tok - 1, 0) AS BIGINT) AS n_subword,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
           CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
           CAST(length(s) - greatest(n_tok - 1, 0)
                + len(regexp_extract_all(text, '[0-9]+'))
                + len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe
         FROM applied)"""
  }

  private val bpeIterativeOracle: String =
    s"""WITH $bpeOracleCtes
       SELECT doc_id, n_subword, n_num, n_punct, n_bpe
       FROM bpec WHERE doc_id < 50 ORDER BY doc_id"""

  /** Unigram-LM tokenizer oracle (x_token_unigram, round 20 — VERDICT
    * r19 #3): the 2-round hard-EM unrolled as a MATERIALIZED CTE chain
    * (the bpeIterativeOracle convention, generated per round, not
    * hand-copied). Each round's greedy leftmost-longest segmentation
    * of the type table is replayed as a precomputed per-position step
    * table (the step at (tok, pos) is path-independent, so it can be
    * computed BEFORE the walk) plus a plain recursive walk over it —
    * the standard recursive-CTE shape, no aggregates or correlated
    * vocab lookups in the recursive term. Budgets and tie-breaks
    * ((count DESC, piece ASC)) mirror TextAnalysis.learnUnigramPieces
    * exactly; all counts are exact BIGINTs.
    */
  private val unigramOracle: String = {
    val lMax = 4                  // TextAnalysis.UnigramPieceLenMax
    val budgets = Seq(48, 40, 32) // TextAnalysis.UnigramBudgets
    def stepsCte(r: Int, vocab: String): String = {
      val arms = (lMax to 2 by -1).map(l =>
        s"WHEN substr(tok, pos, $l) IN (SELECT p FROM $vocab) THEN $l")
        .mkString("\n             ")
      s"""steps$r AS MATERIALIZED (
           SELECT tok, cnt, pos, CASE
             $arms
             ELSE 1 END AS step
           FROM (SELECT tok, cnt, unnest(generate_series(1, length(tok))) AS pos FROM toks))"""
    }
    def walkCte(r: Int): String =
      s"""walk$r AS (
           SELECT tok, cnt, 1 AS pos FROM toks
           UNION ALL
           SELECT w.tok, w.cnt, w.pos + s.step
           FROM walk$r w JOIN steps$r s ON s.tok = w.tok AND s.pos = w.pos
           WHERE w.pos <= length(w.tok))"""
    val rounds = (1 until budgets.size).map { r =>
      s"""${stepsCte(r, s"v$r")},
         ${walkCte(r)},
         usage$r AS (
           SELECT substr(w.tok, w.pos, s.step) AS p, CAST(sum(w.cnt) AS BIGINT) AS u
           FROM walk$r w JOIN steps$r s ON s.tok = w.tok AND s.pos = w.pos
           WHERE s.step >= 2
           GROUP BY p),
         v${r + 1} AS MATERIALIZED (
           SELECT p FROM usage$r ORDER BY u DESC, p ASC LIMIT ${budgets(r)})"""
    }.mkString(",\n         ")
    val fin = budgets.size
    s"""WITH RECURSIVE
         toks AS MATERIALIZED (
           SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT unnest(regexp_extract_all(text, '[a-zA-Z]+')) AS tok FROM documents)
           GROUP BY tok),
         cand AS (
           SELECT substr(tok, pos, L) AS p, CAST(sum(cnt) AS BIGINT) AS w
           FROM (SELECT tok, cnt, unnest(generate_series(1, length(tok))) AS pos FROM toks),
                (SELECT unnest(generate_series(2, $lMax)) AS L)
           WHERE pos + L - 1 <= length(tok)
           GROUP BY p),
         v1 AS MATERIALIZED (SELECT p FROM cand ORDER BY w DESC, p ASC LIMIT ${budgets.head}),
         $rounds,
         ${stepsCte(fin, s"v$fin")},
         ${walkCte(fin)},
         npieces AS (
           SELECT w.tok, CAST(count(*) AS BIGINT) AS np
           FROM walk$fin w WHERE w.pos <= length(w.tok)
           GROUP BY w.tok),
         doct AS (
           SELECT doc_id, unnest(regexp_extract_all(text, '[a-zA-Z]+')) AS tok FROM documents),
         uagg AS (
           SELECT d.doc_id, CAST(sum(n.np) AS BIGINT) AS n_sub
           FROM doct d JOIN npieces n ON d.tok = n.tok GROUP BY d.doc_id)
       SELECT doc_id,
         CAST(coalesce(a.n_sub, 0) AS BIGINT) AS n_subword,
         CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_punct,
         CAST(coalesce(a.n_sub, 0)
              + len(regexp_extract_all(text, '[0-9]+'))
              + len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_uni
       FROM documents LEFT JOIN uagg a USING (doc_id)
       WHERE doc_id < 50 ORDER BY doc_id"""
  }


  /** As-of semantics shared by the join+aggregate and sort-merge
    * formulations: each event's most recent order date at or before it.
    */
  private val asofOracle: String =
    """SELECT event_id, user_id, ts, max(o_orderdate) AS last_order_date
       FROM (SELECT event_id, user_id, ts FROM events WHERE event_id < 200) e
       LEFT JOIN orders ON user_id = o_custkey AND o_orderdate <= ts
       GROUP BY event_id, user_id, ts ORDER BY event_id"""

  /** Rare-shingle (8-gram, df≤100) Jaccard ≥ 0.8 pair set — the shared
    * contract for the exact inverted-index path and the MinHash-LSH path.
    */
  /** Shared CTE prefix: the df≤100 8-gram shingle frame and pairwise
    * shared-shingle counts (the pair-set contract every near-dup oracle
    * builds on).
    */
  /** Exact-integer PCA power-iteration CTEs (shared by x_embed_pca and
    * x_embed_anisotropy): 1e-4-quantized embeddings → exact HUGEINT
    * Gram matrix `c` → three unrolled integer matvec + deterministic
    * re-quantization steps ending at the final iterate `v3`, with the
    * norm CTEs (`n3`, `vn2`) the λ estimate needs.
    *
    * Oracle-side range bound (the Spark solve's BigInt is immune):
    * `sum(w·w)` in the norm CTEs grows as (N·1e8·1e5)² · dim, which
    * crosses HUGEINT's ~1.7e38 near N ≈ 1e6 embedding rows — DuckDB
    * would raise a checked-overflow error, not mis-hash. Far above the
    * sf0.01 gate (500 rows) and the sf0.1 bench (2000); if the gate
    * corpus ever grows past ~1e5 rows, drop the iterate scale from
    * 1e5 to 1e4 on BOTH sides.
    */
  /** Chunk near-dup CTE chain shared by x_chunk_neardup and
    * x_chunk_clusters: overlapping chunks → one representative per
    * chunk_md5 (lexicographic-min (doc_id, chunk_id)) → distinct
    * word-3-gram shingles per rep → pairwise shared counts → verified
    * pairs `j` at the integer threshold 5·sh ≥ 4·(n1+n2−sh) (J ≥ 0.8).
    */
  /** Chunk-boundary scan CTEs (tokens + window starts) shared by every
    * chunk-family oracle that doesn't ride [[chunkPairCtes]] whole —
    * one definition of the boundary arithmetic, per the generated-not-
    * copied convention.
    */
  private val chunkScanCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         st AS (SELECT doc_id, toks, n_tok,
             unnest(generate_series(1, greatest(0, (n_tok - 64 + 47) // 48) * 48 + 1, 48)) AS start_tok
           FROM t)"""

  private val chunkPairCtes: String =
    s"""$chunkScanCtes,
         ch AS MATERIALIZED (SELECT doc_id, CAST((start_tok - 1) // 48 AS BIGINT) AS cid,
             md5(array_to_string(toks[start_tok:least(start_tok + 63, n_tok)], ' ')) AS m,
             toks[start_tok:least(start_tok + 63, n_tok)] AS ts
           FROM st),
         rep AS MATERIALIZED (SELECT m, doc_id, cid, ts FROM (
             SELECT m, doc_id, cid, ts,
               row_number() OVER (PARTITION BY m ORDER BY doc_id, cid) AS rn FROM ch)
           WHERE rn = 1),
         shg AS MATERIALIZED (SELECT m, unnest(list_distinct(list_transform(range(1, len(ts) - 1),
             i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]))) AS g
           FROM rep WHERE len(ts) >= 3),
         n AS (SELECT m, CAST(count(*) AS BIGINT) AS n_g FROM shg GROUP BY m),
         p AS (SELECT a.m AS m1, b.m AS m2, CAST(count(*) AS BIGINT) AS sh
           FROM shg a JOIN shg b ON a.g = b.g AND a.m < b.m GROUP BY 1, 2),
         j AS (SELECT m1, m2, sh, n1.n_g AS n1, n2.n_g AS n2
           FROM p JOIN n n1 ON p.m1 = n1.m JOIN n n2 ON p.m2 = n2.m
           WHERE sh * 5 >= (n1.n_g + n2.n_g - sh) * 4)"""

  /** Second-component CTEs for x_embed_whiten, appended after
    * [[pcaCtes]] (see Profiling.pcaComponents for the algorithm):
    * exact-integer Hotelling deflation of the Gram matrix (Rayleigh
    * quotient R = vᵀCv and (vᵀv)² are exact HUGEINTs; every rounding
    * is half-away-from-zero with positive-operand `//` only, the sign
    * split off in a CASE), then three unrolled power steps over the
    * deflated matrix — each step RE-ORTHOGONALIZED against the first
    * component's iterate v3 (w −= round((w·v3)·v3/(v3ᵀv3))) before
    * normalization, exactly as the Scala solve does — ending at
    * iterate `v3b` with its norm CTEs. Generated per step, not
    * hand-copied three times (the bpeIterativeOracle convention).
    * Numerator bound: R·|v_j·v_k|·2 ~ rows·8e31 — HUGEINT-safe below
    * ~2e6 rows, same note as pcaCtes.
    */
  private val pcaDeflateCtes: String = {
    val steps = (1 to 3).map { i =>
      val prev = if (i == 1) "v0b" else s"v${i - 1}b"
      s"""w${i}r AS (SELECT j2 AS k, sum(cq * vq) AS w FROM cb JOIN $prev ON cb.j1 = $prev.k GROUP BY 1),
         q${i}b AS (SELECT CAST(sum(w${i}r.w * v3.vq) AS HUGEINT) AS p FROM w${i}r JOIN v3 ON w${i}r.k = v3.k),
         w${i}b AS (SELECT w${i}r.k,
             w${i}r.w - (CASE WHEN q${i}b.p * v3.vq >= 0 THEN 1 ELSE -1 END) *
               ((abs(q${i}b.p * v3.vq) * 2 + vnf.vn2) // (vnf.vn2 * 2)) AS w
           FROM w${i}r JOIN v3 ON w${i}r.k = v3.k, q${i}b, vnf),
         n${i}b AS (SELECT sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm FROM w${i}b),
         v${i}b AS (SELECT k, CAST(floor(CAST(w AS DOUBLE) / nrm * 100000 + 0.5) AS HUGEINT) AS vq FROM w${i}b, n${i}b)"""
    }.mkString(",\n         ")
    s"""ray AS (SELECT CAST(sum(a.vq * c.cq * b.vq) AS HUGEINT) AS r
           FROM c JOIN v3 a ON c.j1 = a.k JOIN v3 b ON c.j2 = b.k),
         vnf AS (SELECT CAST(sum(vq * vq) AS HUGEINT) AS vn2 FROM v3),
         cb AS MATERIALIZED (SELECT c.j1, c.j2,
             c.cq - (CASE WHEN a.vq * b.vq >= 0 THEN 1 ELSE -1 END) *
               ((ray.r * abs(a.vq * b.vq) * 2 + vnf.vn2 * vnf.vn2) // (vnf.vn2 * vnf.vn2 * 2)) AS cq
           FROM c JOIN v3 a ON c.j1 = a.k JOIN v3 b ON c.j2 = b.k, ray, vnf),
         v0b AS (SELECT k, CAST(100000 AS HUGEINT) AS vq FROM dims),
         $steps,
         vn2b AS (SELECT sqrt(CAST(sum(vq * vq) AS DOUBLE)) AS vn FROM v2b)"""
  }

  private val pcaCtes: String =
    """ev AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         x AS MATERIALIZED (SELECT vec_id, j, CAST(round(v[j] * 10000) AS BIGINT) AS xq
           FROM ev, LATERAL (SELECT unnest(generate_series(1, len(v))) AS j)),
         c AS MATERIALIZED (SELECT a.j AS j1, b.j AS j2, sum(a.xq * b.xq) AS cq
           FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
         dims AS (SELECT DISTINCT j AS k FROM x),
         v0 AS (SELECT k, CAST(100000 AS HUGEINT) AS vq FROM dims),
         w1 AS (SELECT j2 AS k, sum(cq * vq) AS w FROM c JOIN v0 ON c.j1 = v0.k GROUP BY 1),
         n1 AS (SELECT sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm FROM w1),
         v1 AS (SELECT k, CAST(floor(CAST(w AS DOUBLE) / nrm * 100000 + 0.5) AS HUGEINT) AS vq FROM w1, n1),
         w2 AS (SELECT j2 AS k, sum(cq * vq) AS w FROM c JOIN v1 ON c.j1 = v1.k GROUP BY 1),
         n2 AS (SELECT sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm FROM w2),
         v2 AS (SELECT k, CAST(floor(CAST(w AS DOUBLE) / nrm * 100000 + 0.5) AS HUGEINT) AS vq FROM w2, n2),
         w3 AS (SELECT j2 AS k, sum(cq * vq) AS w FROM c JOIN v2 ON c.j1 = v2.k GROUP BY 1),
         vn2 AS (SELECT sqrt(CAST(sum(vq * vq) AS DOUBLE)) AS vn FROM v2),
         n3 AS (SELECT sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm FROM w3),
         v3 AS MATERIALIZED (SELECT k, CAST(floor(CAST(w AS DOUBLE) / n3.nrm * 100000 + 0.5) AS HUGEINT) AS vq FROM w3, n3)"""

  /** BM25 scoring + full ranking CTEs (shared by x_bm25 and
    * x_rank_fusion): `ranked` holds every matching doc with its rounded
    * score and dense 1-based rank by (score DESC, doc_id ASC).
    */
  private val bm25Ctes: String =
    """d AS (SELECT doc_id, text,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sl FROM d),
         tf AS (SELECT doc_id, dl, token, CAST(count(*) AS DOUBLE) AS tf FROM (
             SELECT doc_id, dl, unnest(string_split(text, ' ')) AS token FROM d) t
           WHERE token IN ('hash', 'merge', 'window')
           GROUP BY doc_id, dl, token),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         w AS (SELECT tf.doc_id, tf.token,
             ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
               tf.tf * (1.2 + 1.0) /
               (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / (s.sl / s.n))) AS w
           FROM tf JOIN df USING (token) CROSS JOIN s),
         sc AS (SELECT doc_id, round(
             coalesce(sum(CASE WHEN token = 'hash' THEN w END), 0) +
             coalesce(sum(CASE WHEN token = 'merge' THEN w END), 0) +
             coalesce(sum(CASE WHEN token = 'window' THEN w END), 0), 6) AS score
           FROM w GROUP BY doc_id),
         ranked AS (SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk
           FROM sc)"""

  /** SimHash-64 fingerprint + all-pairs Hamming CTE chain shared by the
    * pairs face and the clusters face — md5-per-token bit votes, hex
    * digit reassembly, and the exact per-pair bit_count distance.
    */
  private val simhashPairCtes: String =
    """toks AS (
           SELECT doc_id, md5(t.tok) AS h
           FROM documents, unnest(string_split(text, ' ')) AS t(tok)
           WHERE length(t.tok) > 0
         ), bits AS (
           SELECT doc_id, r.j,
             CASE WHEN ((strpos('0123456789abcdef', substring(h, CAST(r.j // 4 AS INT) + 1, 1)) - 1 >> (r.j % 4)) & 1) = 1
                  THEN 1 ELSE -1 END AS contrib
           FROM toks, range(64) AS r(j)
         ), sums AS (
           SELECT doc_id, j, CASE WHEN sum(contrib) > 0 THEN 1 ELSE 0 END AS b
           FROM bits GROUP BY doc_id, j
         ), digits AS (
           SELECT doc_id, j // 4 AS k, sum(b * (1 << (j % 4))) AS dv
           FROM sums GROUP BY doc_id, j // 4
         ), fps AS (
           SELECT doc_id, string_agg(substring('0123456789abcdef', CAST(dv AS INT) + 1, 1), '' ORDER BY k) AS fp
           FROM digits GROUP BY doc_id
         ), pairs AS (
           SELECT a.doc_id AS d1, c.doc_id AS d2,
             CAST(list_sum(list_transform(range(16), k ->
               bit_count(xor(strpos('0123456789abcdef', substring(a.fp, CAST(k AS INT) + 1, 1)) - 1,
                             strpos('0123456789abcdef', substring(c.fp, CAST(k AS INT) + 1, 1)) - 1)))) AS BIGINT) AS hamming
           FROM fps a JOIN fps c ON a.doc_id < c.doc_id
         )"""

  /** Bigram-LM scoring CTE chain (corpus-trained add-one-smoothed
    * model, per-doc weighted-mean NLL as `lm`) shared by the score
    * face and the per-language outlier face.
    */
  // Interpolated (Jelinek-Mercer, λ = 0.8) bigram/unigram model —
  // round 13; every term written in the identical a/b shape as the
  // Spark column so the doubles agree bit-for-bit pre-round. Spark
  // inlines (T + V) as one double literal; the integer sum here is
  // exact in double far below 2^53, so the operands match exactly.
  private val lmScoreCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       p AS (SELECT doc_id, unnest(toks[1:-2]) AS w1, unnest(toks[2:-1]) AS w2
             FROM t WHERE len(toks) > 1),
       d2 AS (SELECT doc_id, w1, w2, count(*) AS m FROM p GROUP BY doc_id, w1, w2),
       c2 AS (SELECT w1, w2, sum(m) AS n2 FROM d2 GROUP BY w1, w2),
       c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY w1),
       cu AS (SELECT tok AS w2, CAST(count(*) AS BIGINT) AS nu
              FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
       v AS (SELECT count(DISTINCT tok) AS vocab,
                    CAST(count(*) AS BIGINT) AS tot
             FROM (SELECT unnest(toks) AS tok FROM t)),
       s AS (SELECT d2.doc_id, d2.m,
               -ln(0.8 * ((c2.n2 + 1.0) / (c1.n1 + v.vocab))
                   + 0.2 * ((cu.nu + 1.0) / CAST(v.tot + v.vocab AS DOUBLE))) AS nll
             FROM d2 JOIN c2 ON d2.w1 = c2.w1 AND d2.w2 = c2.w2
                     JOIN c1 ON d2.w1 = c1.w1
                     JOIN cu ON d2.w2 = cu.w2
                     CROSS JOIN v),
       lm AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
                round(sum(m * nll) / sum(m), 6) AS avg_nll
              FROM s GROUP BY doc_id)"""

  /** The per-LANGUAGE-conditioned JM model's shared CTE chain (round
    * 14; VERDICT r13 task 7) — [[lmScoreCtes]] with `lang` added to
    * every count key and per-language V/T from the `vv` aggregate,
    * mirroring TextAnalysis.lmScoreLangFor term-for-term (same a/b
    * shapes, λ literals, one terminal 6-dp round). Ends in `lml`
    * (doc_id, lang, n_bigrams, avg_nll).
    */
  private val lmLangScoreCtes: String =
    """tt AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       pp AS (SELECT doc_id, lang, unnest(toks[1:-2]) AS w1, unnest(toks[2:-1]) AS w2
              FROM tt WHERE len(toks) > 1),
       dd2 AS (SELECT doc_id, lang, w1, w2, count(*) AS m FROM pp GROUP BY doc_id, lang, w1, w2),
       cc2 AS (SELECT lang, w1, w2, sum(m) AS n2 FROM dd2 GROUP BY lang, w1, w2),
       cc1 AS (SELECT lang, w1, sum(n2) AS n1 FROM cc2 GROUP BY lang, w1),
       ccu AS (SELECT lang, tok AS w2, CAST(count(*) AS BIGINT) AS nu
               FROM (SELECT lang, unnest(toks) AS tok FROM tt) GROUP BY lang, tok),
       vv AS (SELECT lang, count(DISTINCT tok) AS vocab,
                     CAST(count(*) AS BIGINT) AS tot
              FROM (SELECT lang, unnest(toks) AS tok FROM tt) GROUP BY lang),
       ss AS (SELECT dd2.doc_id, dd2.lang, dd2.m,
                -ln(0.8 * ((cc2.n2 + 1.0) / (cc1.n1 + vv.vocab))
                    + 0.2 * ((ccu.nu + 1.0) / CAST(vv.tot + vv.vocab AS DOUBLE))) AS nll
              FROM dd2 JOIN cc2 ON dd2.lang = cc2.lang AND dd2.w1 = cc2.w1 AND dd2.w2 = cc2.w2
                       JOIN cc1 ON dd2.lang = cc1.lang AND dd2.w1 = cc1.w1
                       JOIN ccu ON dd2.lang = ccu.lang AND dd2.w2 = ccu.w2
                       JOIN vv ON dd2.lang = vv.lang),
       lml AS (SELECT doc_id, lang, CAST(sum(m) AS BIGINT) AS n_bigrams,
                 round(sum(m * nll) / sum(m), 6) AS avg_nll
               FROM ss GROUP BY doc_id, lang)"""

  /** DuckDB 4-hex md5 bucket (0..65535) of `arg` — the strpos-digit
    * construction of the mixture-sample oracles (DuckDB has no conv);
    * the SQL twin of Spark's
    * `CAST(conv(substring(md5(arg), 1, 4), 16, 10) AS BIGINT)`.
    */
  private def duckHex4(arg: String): String =
    s"""CAST(((strpos('0123456789abcdef', substring(md5($arg), 1, 1)) - 1) * 4096
       + (strpos('0123456789abcdef', substring(md5($arg), 2, 1)) - 1) * 256
       + (strpos('0123456789abcdef', substring(md5($arg), 3, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substring(md5($arg), 4, 1)) - 1)) AS BIGINT)"""

  /** The 6-dp linear quality score over `text` — the SQL twin of
    * TextAnalysis.qualityScore, shared by every oracle that scores
    * documents (classifier, curriculum, canonical, prior, top-k,
    * calibration, funnel). One definition; indentation-free so every
    * call site can inline it.
    */
  private val qualityScoreSql: String =
    "round(-3.0 + 0.02 * len(string_split(text, ' ')) + 3.0 * round(len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) + 4.0 * round((length(text) - length(replace(text, ' ', ''))) / CAST(length(text) AS DOUBLE), 4), 6)"

  /** The ASCII-guarded synthetic-media universe CTE for kind
    * `doc_id % 3 = kindMod` (1 = audio, 2 = video) — shared by the
    * frame-sample and audio-energy oracles (the imageTextCte
    * precedent; review: the block was copy-pasted with only the kind
    * modulus differing).
    */
  private def mediaTextCte(kindMod: Int): String =
    s"""m AS (SELECT doc_id AS media_id, text FROM documents
                    WHERE doc_id < 200 AND doc_id % 3 = $kindMod
                      AND regexp_matches(text, '^[\\x01-\\x7F]*$$')
                      AND length(text) >= 32)"""

  /** The 8-bit sign-bucket CASE chain over `embedding` — the SQL twin
    * of Similarity.signBucket, shared by every LSH-bucket oracle
    * (review: 7 verbatim copies; the cos6-hoist rule applied to the
    * oracle side).
    */
  private val signBucketSql: String =
    """(CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END
            + CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END
            + CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END
            + CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END)"""

  /** The marker-argmax CASE over `t` = lower(text) — the SQL twin of
    * TextAnalysis.langPredFor's priority chain, shared by the scores
    * and confusion oracles.
    */
  private val langArgmaxCase: String =
    """CASE
             WHEN (length(t) - length(replace(t, ' the ', ''))) / 5 >= (length(t) - length(replace(t, ' der ', ''))) / 5
              AND (length(t) - length(replace(t, ' the ', ''))) / 5 >= (length(t) - length(replace(t, ' el ', ''))) / 4
              AND (length(t) - length(replace(t, ' the ', ''))) / 5 >= (length(t) - length(replace(t, ' le ', ''))) / 4 THEN 'en'
             WHEN (length(t) - length(replace(t, ' der ', ''))) / 5 >= (length(t) - length(replace(t, ' el ', ''))) / 4
              AND (length(t) - length(replace(t, ' der ', ''))) / 5 >= (length(t) - length(replace(t, ' le ', ''))) / 4 THEN 'de'
             WHEN (length(t) - length(replace(t, ' el ', ''))) / 4 >= (length(t) - length(replace(t, ' le ', ''))) / 4 THEN 'es'
             ELSE 'fr'
           END"""

  /** Seed-cell assignment CTE chain — e → cent (vec_id < 16) →
    * assigned(vec_id, v, cell_id) by rounded-cosine argmax with
    * cell_id tiebreak: the SQL twin of Similarity.seedCentroids +
    * the NearestSeed kernel (assignCells and the nprobe lists), shared
    * by the semantic-clusters / purity / kNN / outlier oracles so the
    * assignment contract lives in ONE place. `allrank` keeps EVERY
    * (vector, cell) preference rank so the nprobe oracle can read
    * ranks 1..nprobe; `assigned` is rank 1.
    */
  private val seedRankCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
         allrank AS (
             SELECT e.vec_id, e.v, cent.cell_id,
               round(list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS ccos,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.v, cent.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
                          cent.cell_id ASC) AS cell_rank
             FROM e, cent)"""

  private val seedAssignCtes: String =
    s"""$seedRankCtes,
         assigned AS (
           SELECT vec_id, v, cell_id FROM allrank WHERE cell_rank = 1)"""

  /** The nprobe=4 probe-candidate block shared by the x_sim_ivf_probe
    * and x_rank_ndcg oracles (compose, never copy): held-out queries
    * (vec_id 16..25) probe their 4 nearest cells off the shared
    * allrank sort; `cand` is MATERIALIZED (multi-referenced — the
    * DuckDB per-reference inlining hazard) and `bruterk` keeps the
    * brute-force truth RANKS 1..3, serving both the recall read
    * (membership) and the DCG read (rank positions).
    */
  /** The probe-candidate CTEs, parameterized on nprobe (round 15: the
    * curve oracle needs the prefix-taggable nprobe=8 frame; the
    * standing probe/nDCG oracles keep their nprobe=4 instantiation).
    */

  /** The KMV pair-overlap oracle, parameterized on the (source, text)
    * relation — instantiated by `x_kmv_overlap` (the documents table
    * as-is) and `x_kmv_decontam` (the same rows keyed by the
    * x_sample_split md5 draw). Compose, never copy.
    */
  /** The KMV sketch/truth CTE prefix shared by the overlap and the
    * a-not-b oracles (compose, never copy): shingle universe `tok`,
    * per-source bottom-64 sketch `sk`, the unordered (lo < hi) pair
    * scaffold, the per-pair union re-aggregation `m` with its size
    * `ms`, and the exact truth frames `ns`/`iv`.
    */
  /** The sketch-only KMV prefix (shingles → distinct hashes → per-
    * source bottom-64 + per-source exact counts) — the part the
    * cardinality oracle needs without the pair scaffold.
    */
  private def kmvBaseCtesFor(docsSel: String): String =
    s"""t AS (SELECT d.source, substring(d.text, j, 8) AS sh
               FROM ($docsSel) d,
               LATERAL (SELECT unnest(generate_series(1, length(d.text) - 7)) AS j)
               WHERE length(d.text) >= 8),
         tok AS MATERIALIZED (SELECT DISTINCT source, ${hexDecodeSql("md5(sh)", 1, 8)} AS h
                FROM t),
         sk AS MATERIALIZED (SELECT source, h FROM (
             SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rk
             FROM tok) x WHERE rk <= 64),
         ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1)"""

  private def kmvSketchCtesFor(docsSel: String): String =
    s"""${kmvBaseCtesFor(docsSel)},
         srcs AS (SELECT DISTINCT source FROM tok),
         pairs AS MATERIALIZED (SELECT a.source AS source_a, b.source AS source_b
                  FROM srcs a JOIN srcs b ON a.source < b.source),
         uni AS (SELECT DISTINCT source_a, source_b, h FROM (
             SELECT p.source_a, p.source_b, s.h FROM pairs p JOIN sk s ON s.source = p.source_a
             UNION ALL
             SELECT p.source_a, p.source_b, s.h FROM pairs p JOIN sk s ON s.source = p.source_b) u),
         m AS MATERIALIZED (SELECT source_a, source_b, h FROM (
             SELECT source_a, source_b, h,
               row_number() OVER (PARTITION BY source_a, source_b ORDER BY h ASC) AS rk
             FROM uni) x WHERE rk <= 64),
         ms AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS m_size FROM m GROUP BY 1, 2),
         iv AS (SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS exact_inter
                FROM tok a JOIN tok b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)"""

  /** KMV cardinality oracle: per-source (m_size, θ = max sketch hash)
    * → the (k−1)·2³² // θ bottom-k estimator, degenerate-exact below
    * k, truth off the shared `ns` counts.
    */
  private def kmvCardOracle: String =
    s"""WITH ${kmvBaseCtesFor("SELECT source, text FROM documents")},
         ss AS (SELECT source, CAST(count(*) AS BIGINT) AS m_size,
                  CAST(max(h) AS BIGINT) AS theta FROM sk GROUP BY 1),
         est AS (SELECT ss.source, ss.m_size, ss.theta,
                  CAST(CASE WHEN ss.m_size < 64 THEN ss.m_size
                       ELSE 63 * 4294967296 // ss.theta END AS BIGINT) AS est_distinct,
                  ns.n AS exact_distinct
                FROM ss JOIN ns ON ns.source = ss.source)
         SELECT source, m_size, theta, est_distinct, exact_distinct,
           CASE WHEN exact_distinct = 0 THEN NULL
                ELSE CAST(abs(est_distinct - exact_distinct) * 1000000 // exact_distinct AS BIGINT) END AS err_micro
         FROM est ORDER BY source"""

  private def kmvOracleFor(docsSel: String): String =
    s"""WITH ${kmvSketchCtesFor(docsSel)},
         mb AS (SELECT m.source_a, m.source_b, CAST(count(*) AS BIGINT) AS kmv_overlap
                FROM m JOIN sk sa ON sa.source = m.source_a AND sa.h = m.h
                       JOIN sk sb ON sb.source = m.source_b AND sb.h = m.h
                GROUP BY 1, 2)
         SELECT p.source_a, p.source_b,
           CAST(coalesce(ms.m_size, 0) AS BIGINT) AS m_size,
           CAST(coalesce(mb.kmv_overlap, 0) AS BIGINT) AS kmv_overlap,
           CASE WHEN coalesce(ms.m_size, 0) = 0 THEN NULL
                ELSE CAST(coalesce(mb.kmv_overlap, 0) * 1000000 // ms.m_size AS BIGINT) END AS kmv_jaccard_micro,
           CAST(coalesce(iv.exact_inter, 0) AS BIGINT) AS exact_inter,
           CAST(coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(iv.exact_inter, 0) AS BIGINT) AS exact_union,
           CASE WHEN coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(iv.exact_inter, 0) = 0 THEN NULL
                ELSE CAST(coalesce(iv.exact_inter, 0) * 1000000
                  // (coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(iv.exact_inter, 0)) AS BIGINT) END AS exact_jaccard_micro
         FROM pairs p
         LEFT JOIN ms ON ms.source_a = p.source_a AND ms.source_b = p.source_b
         LEFT JOIN mb ON mb.source_a = p.source_a AND mb.source_b = p.source_b
         LEFT JOIN iv ON iv.source_a = p.source_a AND iv.source_b = p.source_b
         LEFT JOIN ns na ON na.source = p.source_a
         LEFT JOIN ns nb ON nb.source = p.source_b
         ORDER BY p.source_a, p.source_b"""

  /** KMV a-not-b oracle: the shared sketch CTEs, M's three-way
    * membership partition (A-only / B-only via anti-join WHERE IS
    * NULL), then both ordered directions off the one unordered
    * scaffold; exact truth |A\B| = n_a − |A∩B| from the same frames.
    */
  private val kmvDiffOracle: String =
    s"""WITH ${kmvSketchCtesFor("SELECT source, text FROM documents")},
         ma AS (SELECT m.source_a, m.source_b, CAST(count(*) AS BIGINT) AS only_a
                FROM m JOIN sk sa ON sa.source = m.source_a AND sa.h = m.h
                LEFT JOIN sk sb ON sb.source = m.source_b AND sb.h = m.h
                WHERE sb.h IS NULL GROUP BY 1, 2),
         mb2 AS (SELECT m.source_a, m.source_b, CAST(count(*) AS BIGINT) AS only_b
                FROM m JOIN sk sb ON sb.source = m.source_b AND sb.h = m.h
                LEFT JOIN sk sa ON sa.source = m.source_a AND sa.h = m.h
                WHERE sa.h IS NULL GROUP BY 1, 2),
         base AS MATERIALIZED (SELECT p.source_a, p.source_b,
                CAST(coalesce(ms.m_size, 0) AS BIGINT) AS m_size,
                CAST(coalesce(ma.only_a, 0) AS BIGINT) AS only_a,
                CAST(coalesce(mb2.only_b, 0) AS BIGINT) AS only_b,
                CAST(coalesce(iv.exact_inter, 0) AS BIGINT) AS xi,
                CAST(coalesce(na.n, 0) AS BIGINT) AS n_a,
                CAST(coalesce(nb.n, 0) AS BIGINT) AS n_b
              FROM pairs p
              LEFT JOIN ms ON ms.source_a = p.source_a AND ms.source_b = p.source_b
              LEFT JOIN ma ON ma.source_a = p.source_a AND ma.source_b = p.source_b
              LEFT JOIN mb2 ON mb2.source_a = p.source_a AND mb2.source_b = p.source_b
              LEFT JOIN iv ON iv.source_a = p.source_a AND iv.source_b = p.source_b
              LEFT JOIN ns na ON na.source = p.source_a
              LEFT JOIN ns nb ON nb.source = p.source_b),
         ord2 AS (SELECT source_a, source_b, m_size, only_a AS kmv_only_a,
                n_a - xi AS exact_only_a, n_a + n_b - xi AS exact_union
              FROM base
              UNION ALL
              SELECT source_b AS source_a, source_a AS source_b, m_size,
                only_b AS kmv_only_a,
                n_b - xi AS exact_only_a, n_a + n_b - xi AS exact_union
              FROM base)
         SELECT source_a, source_b, m_size, kmv_only_a,
           CASE WHEN m_size = 0 THEN NULL
                ELSE CAST(kmv_only_a * 1000000 // m_size AS BIGINT) END AS kmv_only_a_micro,
           CAST(exact_only_a AS BIGINT) AS exact_only_a,
           CAST(exact_union AS BIGINT) AS exact_union,
           CASE WHEN exact_union = 0 THEN NULL
                ELSE CAST(exact_only_a * 1000000 // exact_union AS BIGINT) END AS exact_only_a_micro
         FROM ord2 ORDER BY source_a, source_b"""

  /** Brute-force truth-rank CTE (rk 1..3 per held-out query) —
    * expects CTEs `e` and `q`; shared by the probe-family oracles and
    * the NSW oracle (compose, never copy).
    */
  private val bruteRkCte: String =
    """bruterk AS MATERIALIZED (SELECT query_id, neighbor_id, rk FROM (
                  SELECT q.query_id, e.vec_id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                               e.vec_id ASC) AS rk
                  FROM e, q WHERE e.vec_id <> q.query_id) t WHERE rk <= 3)"""

  private def probeCandCtesFor(nprobe: Int): String =
    s"""$seedAssignCtes,
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id >= 16 AND vec_id < 26),
         pc AS (SELECT vec_id AS query_id, cell_id, cell_rank AS probe_rank
                FROM allrank WHERE vec_id >= 16 AND vec_id < 26 AND cell_rank <= $nprobe),
         cand AS MATERIALIZED (SELECT pc.query_id, pc.probe_rank, a.vec_id AS neighbor_id,
                    round(list_dot_product(q.qv, a.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cos
                  FROM assigned a
                  JOIN pc ON a.cell_id = pc.cell_id
                  JOIN q ON q.query_id = pc.query_id
                  WHERE a.vec_id <> pc.query_id),
         $bruteRkCte"""

  private val probeCandCtes: String = probeCandCtesFor(4)

  /** Graph-ANN oracle (`x_sim_nsw`): bounded-degree within-cell
    * neighbor graph (top-4 by rounded cosine with id tiebreak,
    * symmetrized, distinct) off the shared seed-assignment CTEs, then
    * the SAME fixed 3-round greedy beam search as the engine,
    * loop-generated one CTE pair per round (the [[pageRankIterCtes]]
    * idiom): candidates = beam ∪ graph-neighbors(beam) minus the
    * query, beam = row_number top-4 by (rounded cos DESC, id ASC).
    * Every beam/candidate CTE is multi-referenced (the next round +
    * the n_scored union), so AS MATERIALIZED throughout — the DuckDB
    * per-reference inlining hazard. Truth membership reads the shared
    * [[bruteRkCte]].
    */
  /** One beam round pair (candidates + ranked beam) per iteration,
    * parameterized on CTE name prefix, graph CTE, round count, and
    * beam width — instantiated by the flat oracle ("", g, 3, 4) and
    * TWICE by the hierarchical oracle ("u"/gU upper, "h"/g base).
    * Expects `${'$'}{prefix}b0`, `q`, `e`; emits rk in each beam so a
    * later stage can read the top-1 winner.
    */
  private def nswRoundCtesFor(prefix: String, graph: String,
      rounds: Int, beamW: Int): String =
    (1 to rounds).map { r =>
      s"""${prefix}c$r AS MATERIALIZED (SELECT DISTINCT query_id, cand FROM (
             SELECT query_id, cand FROM ${prefix}b${r - 1}
             UNION ALL
             SELECT b.query_id, $graph.dst AS cand FROM ${prefix}b${r - 1} b JOIN $graph ON b.cand = $graph.src) u
           WHERE cand <> query_id),
         ${prefix}b$r AS MATERIALIZED (SELECT query_id, cand, cos_q, rk FROM (
             SELECT c.query_id, c.cand,
               round(list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_q,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY round(list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) DESC,
                          c.cand ASC) AS rk
             FROM ${prefix}c$r c JOIN q ON q.query_id = c.query_id JOIN e ON e.vec_id = c.cand) t
           WHERE rk <= $beamW)"""
    }.mkString(",\n         ")

  private val nswRoundCtes: String = nswRoundCtesFor("", "g", 3, 4)

  private val nswOracle: String =
    s"""WITH $seedAssignCtes,
         pr AS MATERIALIZED (SELECT a.vec_id AS v1, b.vec_id AS v2,
             round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_q
           FROM assigned a JOIN assigned b
             ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id),
         oute AS (SELECT v1, v2 FROM (
             SELECT v1, v2, row_number() OVER (PARTITION BY v1 ORDER BY cos_q DESC, v2 ASC) AS rk
             FROM pr) t WHERE rk <= 4),
         g AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT v1 AS src, v2 AS dst FROM oute
             UNION ALL SELECT v2 AS src, v1 AS dst FROM oute) u),
         q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id >= 16 AND vec_id < 26),
         ent AS (SELECT qc.query_id, min(a.vec_id) AS cand
           FROM assigned a
           JOIN (SELECT vec_id AS query_id, cell_id FROM assigned
                 WHERE vec_id >= 16 AND vec_id < 26) qc ON a.cell_id = qc.cell_id
           WHERE a.vec_id <> qc.query_id GROUP BY qc.query_id),
         b0 AS MATERIALIZED (SELECT en.query_id, en.cand,
             round(list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_q
           FROM ent en JOIN q ON q.query_id = en.query_id JOIN e ON e.vec_id = en.cand),
         $nswRoundCtes,
         sc AS (SELECT query_id, CAST(count(DISTINCT cand) AS BIGINT) AS n_scored FROM (
             SELECT query_id, cand FROM b0
             UNION ALL SELECT query_id, cand FROM c1
             UNION ALL SELECT query_id, cand FROM c2
             UNION ALL SELECT query_id, cand FROM c3) u GROUP BY query_id),
         $bruteRkCte,
         fin AS (SELECT query_id, cand, cos_q,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, cand ASC) AS rk
           FROM b3)
         SELECT f.query_id, CAST(f.rk AS BIGINT) AS rk, f.cand AS neighbor_id,
           CAST(floor(f.cos_q * 1e6 + 0.5) AS BIGINT) AS cos_micro,
           sc.n_scored,
           (bt.neighbor_id IS NOT NULL) AS is_truth
         FROM fin f
         JOIN sc ON sc.query_id = f.query_id
         LEFT JOIN bruterk bt ON bt.query_id = f.query_id AND bt.neighbor_id = f.cand
         WHERE f.rk <= 3
         ORDER BY f.query_id, f.rk"""

  /** Hierarchical graph-ANN oracle (`x_sim_nsw_hier`): the flat
    * oracle's machinery twice over — an upper layer restricted to the
    * 1/8 md5 draw (own pair/graph CTEs, 2 beam rounds at width 2),
    * whose per-query winner seeds the base-layer rounds via a
    * deterministic coalesce against the flat min-id entry; n_scored
    * unions BOTH layers' candidate sets. Round CTEs come from the
    * SAME [[nswRoundCtesFor]] generator as the flat oracle.
    */
  private val nswHierOracle: String =
    s"""WITH $seedAssignCtes,
         q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id >= 16 AND vec_id < 26),
         qc AS MATERIALIZED (SELECT vec_id AS query_id, cell_id FROM assigned
               WHERE vec_id >= 16 AND vec_id < 26),
         pr AS MATERIALIZED (SELECT a.vec_id AS v1, b.vec_id AS v2,
             round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_q
           FROM assigned a JOIN assigned b
             ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id),
         oute AS (SELECT v1, v2 FROM (
             SELECT v1, v2, row_number() OVER (PARTITION BY v1 ORDER BY cos_q DESC, v2 ASC) AS rk
             FROM pr) t WHERE rk <= 4),
         g AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT v1 AS src, v2 AS dst FROM oute
             UNION ALL SELECT v2 AS src, v1 AS dst FROM oute) u),
         up AS MATERIALIZED (SELECT a.vec_id, a.v, a.cell_id FROM assigned a
           WHERE ${hexDecodeSql("md5('g:' || CAST(a.vec_id AS VARCHAR))", 1, 8)} < 536870912),
         prU AS MATERIALIZED (SELECT a.vec_id AS v1, b.vec_id AS v2,
             round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_q
           FROM up a JOIN up b
             ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id),
         outU AS (SELECT v1, v2 FROM (
             SELECT v1, v2, row_number() OVER (PARTITION BY v1 ORDER BY cos_q DESC, v2 ASC) AS rk
             FROM prU) t WHERE rk <= 4),
         gU AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT v1 AS src, v2 AS dst FROM outU
             UNION ALL SELECT v2 AS src, v1 AS dst FROM outU) u),
         entU AS (SELECT qc.query_id, min(u2.vec_id) AS cand
           FROM up u2 JOIN qc ON u2.cell_id = qc.cell_id
           WHERE u2.vec_id <> qc.query_id GROUP BY qc.query_id),
         ub0 AS MATERIALIZED (SELECT en.query_id, en.cand,
             round(list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_q
           FROM entU en JOIN q ON q.query_id = en.query_id JOIN e ON e.vec_id = en.cand),
         ${nswRoundCtesFor("u", "gU", 2, 2)},
         entB AS (SELECT qc.query_id, min(a.vec_id) AS cand
           FROM assigned a JOIN qc ON a.cell_id = qc.cell_id
           WHERE a.vec_id <> qc.query_id GROUP BY qc.query_id),
         ent2 AS (SELECT b.query_id, coalesce(u1.cand, b.cand) AS cand
           FROM entB b LEFT JOIN (SELECT query_id, cand FROM ub2 WHERE rk = 1) u1
             ON u1.query_id = b.query_id),
         hb0 AS MATERIALIZED (SELECT en.query_id, en.cand,
             round(list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_q
           FROM ent2 en JOIN q ON q.query_id = en.query_id JOIN e ON e.vec_id = en.cand),
         ${nswRoundCtesFor("h", "g", 3, 4)},
         sc AS (SELECT query_id, CAST(count(DISTINCT cand) AS BIGINT) AS n_scored FROM (
             SELECT query_id, cand FROM ub0
             UNION ALL SELECT query_id, cand FROM uc1
             UNION ALL SELECT query_id, cand FROM uc2
             UNION ALL SELECT query_id, cand FROM hb0
             UNION ALL SELECT query_id, cand FROM hc1
             UNION ALL SELECT query_id, cand FROM hc2
             UNION ALL SELECT query_id, cand FROM hc3) u GROUP BY query_id),
         $bruteRkCte,
         fin AS (SELECT query_id, cand, cos_q,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, cand ASC) AS rk
           FROM hb3)
         SELECT f.query_id, CAST(f.rk AS BIGINT) AS rk, f.cand AS neighbor_id,
           CAST(floor(f.cos_q * 1e6 + 0.5) AS BIGINT) AS cos_micro,
           sc.n_scored,
           (bt.neighbor_id IS NOT NULL) AS is_truth
         FROM fin f
         JOIN sc ON sc.query_id = f.query_id
         LEFT JOIN bruterk bt ON bt.query_id = f.query_id AND bt.neighbor_id = f.cand
         WHERE f.rk <= 3
         ORDER BY f.query_id, f.rk"""

  /** LexRank oracle: within-cell micro-quantized cosine edges off the
    * shared seed-assignment CTEs, then the SAME loop-generated
    * PageRank rounds as x_textrank ([[pageRankIterCtes]]).
    */
  private val lexRankOracle: String =
    s"""WITH $seedAssignCtes,
         half AS (SELECT v1, v2, CAST(floor(cq * 1e6 + 0.5) AS BIGINT) AS wt FROM (
             SELECT a.vec_id AS v1, b.vec_id AS v2,
               round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cq
             FROM assigned a JOIN assigned b
               ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id) t
           WHERE cq >= 0.2),
         ed AS MATERIALIZED (SELECT v1 AS w1, v2 AS w2, wt FROM half
                             UNION ALL SELECT v2 AS w1, v1 AS w2, wt FROM half),
         deg AS MATERIALIZED (SELECT w1 AS w, CAST(sum(wt) AS BIGINT) AS wdeg
                              FROM ed GROUP BY 1),
         r0 AS (SELECT w, CAST(1000000 AS BIGINT) AS r FROM deg),
         ${pageRankIterCtes()},
         f AS (SELECT r5.w, d.wdeg, r5.r,
                 row_number() OVER (ORDER BY r5.r DESC, r5.w) AS rk
               FROM r5 JOIN deg d ON r5.w = d.w)
         SELECT CAST(f.rk AS BIGINT) AS rk, f.w AS vec_id, c.cell_id, f.wdeg,
           f.r AS rank_micro
         FROM f JOIN assigned c ON f.w = c.vec_id
         WHERE f.rk <= 10 ORDER BY f.rk"""

  /** kNN-graph LexRank oracle: the NSW oracle's bounded-degree graph
    * CTEs (within-cell top-4 by (rounded cos DESC, id ASC),
    * symmetrized, distinct) re-scored against the embedding table for
    * micro-quantized positive weights, then the SAME loop-generated
    * PageRank rounds and top-10 tail as [[lexRankOracle]] (compose,
    * never copy).
    */
  private val lexRankGraphOracle: String =
    s"""WITH $seedAssignCtes,
         pr AS MATERIALIZED (SELECT a.vec_id AS v1, b.vec_id AS v2,
             round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_q
           FROM assigned a JOIN assigned b
             ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id),
         oute AS (SELECT v1, v2 FROM (
             SELECT v1, v2, row_number() OVER (PARTITION BY v1 ORDER BY cos_q DESC, v2 ASC) AS rk
             FROM pr) t WHERE rk <= 4),
         g AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             SELECT v1 AS src, v2 AS dst FROM oute
             UNION ALL SELECT v2 AS src, v1 AS dst FROM oute) u),
         ed AS MATERIALIZED (SELECT src AS w1, dst AS w2,
             CAST(floor(cq * 1e6 + 0.5) AS BIGINT) AS wt FROM (
             SELECT g.src, g.dst,
               round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cq
             FROM g JOIN e a ON a.vec_id = g.src JOIN e b ON b.vec_id = g.dst) t
           WHERE cq > 0),
         deg AS MATERIALIZED (SELECT w1 AS w, CAST(sum(wt) AS BIGINT) AS wdeg
                              FROM ed GROUP BY 1),
         r0 AS (SELECT w, CAST(1000000 AS BIGINT) AS r FROM deg),
         ${pageRankIterCtes()},
         f AS (SELECT r5.w, d.wdeg, r5.r,
                 row_number() OVER (ORDER BY r5.r DESC, r5.w) AS rk
               FROM r5 JOIN deg d ON r5.w = d.w)
         SELECT CAST(f.rk AS BIGINT) AS rk, f.w AS vec_id, c.cell_id, f.wdeg,
           f.r AS rank_micro
         FROM f JOIN assigned c ON f.w = c.vec_id
         WHERE f.rk <= 10 ORDER BY f.rk"""

  /** The recall-vs-nprobe curve oracle: the nprobe=8 candidate frame
    * with each level p ∈ {1,2,4,8} read as the prefix probe_rank ≤ p —
    * cand/bruterk are multi-referenced (8×/4×) and MATERIALIZED in
    * [[probeCandCtesFor]].
    */
  private val ivfCurveOracle: String = {
    val legs = Seq(1, 2, 4, 8).map { p =>
      s"""SELECT CAST($p AS BIGINT) AS nprobe,
           (SELECT CAST(count(*) AS BIGINT) FROM cand WHERE probe_rank <= $p) AS n_cand,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rk
                FROM cand WHERE probe_rank <= $p) t WHERE rk <= 3) tk
            JOIN bruterk b ON tk.query_id = b.query_id
                          AND tk.neighbor_id = b.neighbor_id) AS n_hits"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH ${probeCandCtesFor(8)}
         SELECT nprobe, n_cand, n_hits,
           CAST(n_hits * 100 // 30 AS BIGINT) AS recall_pct
         FROM ($legs)
         ORDER BY nprobe"""
  }

  /** Micro-quantized cosine distance between table aliases x and c
    * (each exposing a DOUBLE[] column v) — the k-means|| oracle's
    * distance atom.
    */
  private val kppDmSql: String =
    "CAST(floor((1 - round(list_dot_product(x.v, c.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.v, c.v))), 6)) * 1e6 + 0.5) AS BIGINT)"

  /** One k-means|| oversampling round as CTE text: d$t = per-vector
    * min micro-distance² to candidate set c$t, phi$t = the potential,
    * sel$t = the hash draw hu·φ < 65536·ℓ·d² in exact HUGEINT
    * arithmetic capped at `cap` rows by vec_id (the engine's
    * boundedness guarantee, replayed), c$(t+1) = the union. Every CTE
    * here is multi-referenced downstream — AS MATERIALIZED throughout
    * (the DuckDB per-reference inlining hazard; unrolled, the
    * candidate chain re-expands per reference like the GD chain did).
    */
  private def kppRoundCtes(t: Int, ell: Int, cap: Int): String =
    s"""d$t AS MATERIALIZED (
           SELECT x.vec_id, min($kppDmSql) AS dm
           FROM he x CROSS JOIN c$t c GROUP BY x.vec_id),
         phi$t AS MATERIALIZED (SELECT sum(dm * dm) AS phi FROM d$t),
         sel$t AS MATERIALIZED (
           SELECT d.vec_id FROM d$t d
           JOIN he h ON h.vec_id = d.vec_id
           CROSS JOIN phi$t p
           WHERE CAST(h.hu AS HUGEINT) * CAST(p.phi AS HUGEINT)
                 < ${65536L * ell} * CAST(d.dm AS HUGEINT) * CAST(d.dm AS HUGEINT)
           ORDER BY d.vec_id LIMIT $cap),
         c${t + 1} AS MATERIALIZED (
           SELECT * FROM c$t UNION ALL
           SELECT e.vec_id, e.v FROM e JOIN sel$t USING (vec_id))"""

  /** The full k-means|| training chain (round 15) shared by the
    * x_kmeans_scalable and x_sim_ivf_kpp oracles — compose, never
    * copy: e/he (md5 16-bit draw per vector) → c0 (vec_id 0) → three
    * unrolled oversampling rounds → d3/phi3 (the closing potential) →
    * mass weighting (pairs → argmin wa → wt) → `fin`, the top-8
    * reduced seed set.
    */
  private lazy val kppChainCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         he AS MATERIALIZED (SELECT vec_id, v,
             ((strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 3, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), 4, 1)) - 1)) AS hu
           FROM e),
         c0 AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id = 0),
         ${kppRoundCtes(0, 8, 32)},
         ${kppRoundCtes(1, 8, 32)},
         ${kppRoundCtes(2, 8, 32)},
         d3 AS MATERIALIZED (
           SELECT x.vec_id, min($kppDmSql) AS dm
           FROM he x CROSS JOIN c3 c GROUP BY x.vec_id),
         phi3 AS (SELECT sum(dm * dm) AS phi FROM d3),
         pairs AS (SELECT x.vec_id AS pid, c.vec_id AS cid, $kppDmSql AS dm
                   FROM he x CROSS JOIN c3 c),
         wa AS (SELECT pid, cid FROM (
                  SELECT pid, cid,
                    row_number() OVER (PARTITION BY pid ORDER BY dm ASC, cid ASC) AS rn
                  FROM pairs) t WHERE rn = 1),
         wt AS (SELECT cid, CAST(count(*) AS BIGINT) AS w FROM wa GROUP BY cid),
         fin AS MATERIALIZED (
           SELECT c.vec_id, c.v FROM c3 c LEFT JOIN wt ON wt.cid = c.vec_id
           ORDER BY coalesce(wt.w, 0) DESC, c.vec_id ASC LIMIT 8)"""

  /** One unrolled MMR greedy step as CTE text (x_sim_mmr): ms$t = the
    * not-yet-selected candidates with their max micro-sim to the
    * selected set sel1..sel$(t-1); sel$t = the argmax of the integer
    * MMR score (7·rel − 3·msim) // 10 with vec_id tie-break — the
    * ORDER BY runs on the DIV-10 value because the engine tie-breaks
    * at that quantization (two raw scores in the same decade ARE a
    * tie). Every CTE is MATERIALIZED (each sel feeds every later ms —
    * the DuckDB per-reference inlining hazard).
    */
  private def mmrStepCtes(t: Int): String = {
    def simTo(j: Int): String =
      s"CAST(floor(round(list_dot_product(c.v, s$j.v) / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s$j.v, s$j.v))), 6) * 1e6 + 0.5) AS BIGINT)"
    val sims = (1 until t).map(simTo)
    val msim = if (sims.length == 1) sims.head else s"greatest(${sims.mkString(", ")})"
    val froms = (1 until t).map(j => s"sel$j s$j").mkString(", ")
    val excl = (1 until t).map(j => s"c.vec_id <> s$j.vec_id").mkString(" AND ")
    s"""ms$t AS MATERIALIZED (
           SELECT c.vec_id, c.v, c.rel, $msim AS msim
           FROM cand c, $froms WHERE $excl),
         sel$t AS MATERIALIZED (
           SELECT vec_id, v, rel, (7 * rel - 3 * msim) // 10 AS score
           FROM ms$t ORDER BY (7 * rel - 3 * msim) // 10 DESC, vec_id ASC LIMIT 1)"""
  }

  /** The binary-gain DCG discount CASE over a rank expression — text
    * twin of the engine's literal table (ONE source:
    * [[graft.ext.Similarity.ndcgDiscountMicro]]).
    */
  private def ndcgCaseSql(rkExpr: String, k: Int): String =
    Similarity.ndcgDiscountMicro.take(k).zipWithIndex
      .map { case (d, i) => s"WHEN $rkExpr = ${i + 1} THEN $d" }
      .mkString("CASE ", " ", " ELSE 0 END")

  /** The residual-PQ training chain shared by the x_sim_ivf_pq and
    * x_sim_ivf_pq_probe oracles (round 15 split — compose, never
    * copy): coarse assignment (the [[seedAssignCtes]] contract, with
    * `allrank` kept visible for the probe tail's rank-≤nprobe read) →
    * residuals → 8-subvector split → seed books from rows [16,32) →
    * two unrolled Lloyd's iterations (codes → integer micro-unit
    * means → books) → final codes and per-vector ADC reconstruction.
    * The multi-referenced CTEs are `AS MATERIALIZED` — the same
    * DuckDB per-reference-inlining hazard the quality GD chain hit
    * this round (rsub alone is referenced five times; inlined, the
    * training tree re-expands per reference).
    */
  private val pqResidualCtes: String =
    s"""$seedAssignCtes,
         resid AS MATERIALIZED (
           SELECT a.vec_id, a.cell_id,
             list_transform(range(1, len(a.v) + 1), i -> a.v[i] - cent.cv[i]) AS rv
           FROM assigned a JOIN cent USING (cell_id)),
         rsub AS MATERIALIZED (SELECT vec_id, r.j, list_slice(rv, r.j * 8 + 1, r.j * 8 + 8) AS sv
                  FROM resid, range(8) r(j)),
         cb0 AS MATERIALIZED (SELECT CAST(vec_id - 16 AS BIGINT) AS c, j, sv AS cv
                 FROM rsub WHERE vec_id >= 16 AND vec_id < 32),
         codes0 AS MATERIALIZED (
           SELECT vec_id, j, c AS code FROM (
             SELECT rsub.vec_id, rsub.j, cb0.c,
               row_number() OVER (PARTITION BY rsub.vec_id, rsub.j
                 ORDER BY round(list_dot_product(sv, sv) - 2 * list_dot_product(sv, cb0.cv) + list_dot_product(cb0.cv, cb0.cv), 6) ASC,
                          cb0.c ASC) AS rn
             FROM rsub JOIN cb0 USING (j)) t WHERE rn = 1),
         qsub AS MATERIALIZED (SELECT vec_id, j, unnest(sv) AS x, unnest(range(8)) AS d FROM rsub),
         tr1 AS (SELECT codes0.j, codes0.code AS c, qsub.d,
                   CAST(sum(CAST(floor(qsub.x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                     / (CAST(count(*) AS DOUBLE) * 1e6) AS mx
                 FROM qsub JOIN codes0 ON codes0.vec_id = qsub.vec_id AND codes0.j = qsub.j
                 GROUP BY 1, 2, 3),
         cbe0 AS (SELECT j, c, unnest(cv) AS sx, unnest(range(8)) AS d FROM cb0),
         cb1 AS MATERIALIZED (SELECT cbe0.j, cbe0.c, list(coalesce(tr1.mx, cbe0.sx) ORDER BY cbe0.d) AS cv
                 FROM cbe0 LEFT JOIN tr1 ON tr1.j = cbe0.j AND tr1.c = cbe0.c AND tr1.d = cbe0.d
                 GROUP BY cbe0.j, cbe0.c),
         codes1 AS MATERIALIZED (
           SELECT vec_id, j, c AS code FROM (
             SELECT rsub.vec_id, rsub.j, cb1.c,
               row_number() OVER (PARTITION BY rsub.vec_id, rsub.j
                 ORDER BY round(list_dot_product(sv, sv) - 2 * list_dot_product(sv, cb1.cv) + list_dot_product(cb1.cv, cb1.cv), 6) ASC,
                          cb1.c ASC) AS rn
             FROM rsub JOIN cb1 USING (j)) t WHERE rn = 1),
         tr2 AS (SELECT codes1.j, codes1.code AS c, qsub.d,
                   CAST(sum(CAST(floor(qsub.x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                     / (CAST(count(*) AS DOUBLE) * 1e6) AS mx
                 FROM qsub JOIN codes1 ON codes1.vec_id = qsub.vec_id AND codes1.j = qsub.j
                 GROUP BY 1, 2, 3),
         cbe1 AS (SELECT j, c, unnest(cv) AS sx, unnest(range(8)) AS d FROM cb1),
         cb2 AS MATERIALIZED (SELECT cbe1.j, cbe1.c, list(coalesce(tr2.mx, cbe1.sx) ORDER BY cbe1.d) AS cv
                 FROM cbe1 LEFT JOIN tr2 ON tr2.j = cbe1.j AND tr2.c = cbe1.c AND tr2.d = cbe1.d
                 GROUP BY cbe1.j, cbe1.c),
         codes2 AS MATERIALIZED (
           SELECT vec_id, j, c AS code FROM (
             SELECT rsub.vec_id, rsub.j, cb2.c,
               row_number() OVER (PARTITION BY rsub.vec_id, rsub.j
                 ORDER BY round(list_dot_product(sv, sv) - 2 * list_dot_product(sv, cb2.cv) + list_dot_product(cb2.cv, cb2.cv), 6) ASC,
                          cb2.c ASC) AS rn
             FROM rsub JOIN cb2 USING (j)) t WHERE rn = 1),
         recon2 AS MATERIALIZED (
           SELECT codes2.vec_id, flatten(list(cb2.cv ORDER BY codes2.j)) AS rv
           FROM codes2 JOIN cb2 ON cb2.j = codes2.j AND cb2.c = codes2.code
           GROUP BY codes2.vec_id)"""

  private val ngramPairCtes: String =
    """g0 AS (
         SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(length(text) - 6, 2)), i -> substr(text, i, 8))) AS ng
         FROM documents),
       rare AS (SELECT ng FROM g0 GROUP BY ng HAVING count(*) <= 100),
       g AS (SELECT doc_id, g0.ng FROM g0 JOIN rare ON g0.ng = rare.ng),
       n AS (SELECT doc_id, count(*) AS n_ng FROM g GROUP BY doc_id),
       s AS (
         SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS sh
         FROM g a JOIN g b ON a.ng = b.ng AND a.doc_id < b.doc_id
         GROUP BY 1, 2)"""

  /** The per-document Gopher rule counts AND flags shared by the
    * x_gopher_rules report and the x_filter_agreement matrix (compose,
    * never copy — review r15: the six thresholds live ONCE here, in
    * one polarity).
    */
  private val gopherCountCtes: String =
    """gcnt AS (SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns,
           CAST(len(regexp_extract_all(text, '[^ ]*[a-zA-Z][^ ]*')) AS BIGINT) AS n_alpha,
           CAST(len(list_intersect(string_split(text, ' '),
                ['the','be','to','of','and','that','have','with','a','in','is','it'])) AS BIGINT) AS n_stop,
           CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym
         FROM documents),
       gflag AS (SELECT doc_id, source,
           NOT (n_tok BETWEEN 50 AND 100000) AS f_len,
           (chars_ns < n_tok * 3 OR chars_ns > n_tok * 10) AS f_wordlen,
           (n_alpha * 5 < n_tok * 4) AS f_alpha,
           (n_stop < 2) AS f_stop,
           (n_sym * 10 > n_tok) AS f_symbol
         FROM gcnt)"""

  /** Decode `nDigits` hex chars of md5-hex column `c` starting at
    * 1-based `start` into a bigint — DuckDB has no conv(); the strpos
    * decode idiom, loop-generated so the digit weights cannot typo.
    */
  private def hexDecodeSql(c: String, start: Int, nDigits: Int): String =
    (0 until nDigits).map { i =>
      // strpos returns BIGINT in DuckDB, so the products stay 64-bit
      s"(strpos('0123456789abcdef', substring($c, ${start + i}, 1)) - 1) * ${1L << (4 * (nDigits - 1 - i))}"
    }.mkString("(", " + ", ")")

  /** The damped-PageRank iteration rounds as loop-generated CTE text —
    * the oracle twin of [[graft.ext.Graph.pageRank]], shared by the
    * x_textrank and x_lexrank oracles (one definition of the
    * arithmetic on each side). Expects CTEs `ed` (w1, w2, wt) and
    * `deg` (w, wdeg) — both multi-referenced per round, so callers
    * MATERIALIZE them — plus `r0`; emits r1..r$iters, each
    * single-reference.
    */
  private def pageRankIterCtes(iters: Int = 5): String =
    (1 to iters).map { i =>
      s"""r$i AS (SELECT d.w, CAST(150000 + 85 * coalesce(c$i.contrib, 0) // 100 AS BIGINT) AS r
            FROM deg d LEFT JOIN (
              SELECT e.w2 AS w, sum(r.r * e.wt // g.wdeg) AS contrib
              FROM ed e JOIN r${i - 1} r ON e.w1 = r.w JOIN deg g ON e.w1 = g.w
              GROUP BY e.w2) c$i ON d.w = c$i.w)"""
    }.mkString(",\n         ")

  /** TextRank oracle: bigram edges off the same zip-slice token walk,
    * then the shared [[pageRankIterCtes]] rounds; `ed`/`deg` are
    * multi-referenced by every round and MATERIALIZED.
    */
  private val textRankOracle: String = {
    val iterCtes = pageRankIterCtes()
    s"""WITH c AS (SELECT string_split(text, ' ') AS toks FROM documents
                   WHERE len(string_split(text, ' ')) >= 2),
         bg AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
                       unnest(toks[2:len(toks)]) AS w2 FROM c),
         e0 AS (SELECT w1, w2 FROM bg UNION ALL SELECT w2 AS w1, w1 AS w2 FROM bg),
         ed AS MATERIALIZED (SELECT w1, w2, CAST(count(*) AS BIGINT) AS wt
                             FROM e0 GROUP BY 1, 2),
         deg AS MATERIALIZED (SELECT w1 AS w, CAST(sum(wt) AS BIGINT) AS wdeg
                              FROM ed GROUP BY 1),
         r0 AS (SELECT w, CAST(1000000 AS BIGINT) AS r FROM deg),
         $iterCtes,
         f AS (SELECT r5.w, d.wdeg, r5.r,
                 row_number() OVER (ORDER BY r5.r DESC, r5.w) AS rk
               FROM r5 JOIN deg d ON r5.w = d.w)
         SELECT CAST(rk AS BIGINT) AS rk, w AS token, wdeg, r AS rank_micro
         FROM f WHERE rk <= 20 ORDER BY rk"""
  }

  private val ngramJaccardOracle: String =
    s"""WITH $ngramPairCtes
       SELECT d1, d2, sh / (n1.n_ng + n2.n_ng - sh) AS jac
       FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
       WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8
       ORDER BY d1, d2"""

  /** Connected components of the pair graph via recursive transitive
    * closure — per-doc min reachable id = the cluster label the Spark
    * side derives by min-label propagation.
    */
  private val dedupClustersOracle: String =
    s"""WITH RECURSIVE $ngramPairCtes,
       pairs AS (
         SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
       edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       reach(a, b) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea)
       SELECT a AS doc_id, min(b) AS cluster, (min(b) = a) AS keep
       FROM reach GROUP BY a ORDER BY doc_id"""

  /** Quality-aware canonical per near-dup cluster: same recursive
    * closure as [[dedupClustersOracle]], then keep the member the
    * quality classifier (x_quality_classify's exact rounded formula)
    * scores highest, ties to the lower doc_id.
    */
  private val dedupCanonicalOracle: String =
    s"""WITH RECURSIVE $ngramPairCtes,
       pairs AS (
         SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
       edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       reach(a, b) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
       clus AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
       q AS (SELECT doc_id,
           $qualityScoreSql AS score
         FROM documents)
       SELECT c.doc_id, c.cluster, q.score,
         (row_number() OVER (PARTITION BY c.cluster ORDER BY q.score DESC, c.doc_id ASC) = 1) AS keep_best
       FROM clus c JOIN q ON c.doc_id = q.doc_id
       ORDER BY c.doc_id"""

  /** Near-dup pairs straddling the md5 train/val/test split — the same
    * pair contract as [[ngramJaccardOracle]] joined to `x_sample_split`'s
    * exact bucket arithmetic on both endpoints; `train_eval` marks pairs
    * with exactly one endpoint in train.
    */
  private val splitLeakageOracle: String =
    s"""WITH $ngramPairCtes,
       pairs AS (
         SELECT d1, d2, sh / (n1.n_ng + n2.n_ng - sh) AS jac
         FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
       sp AS (
         SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
             ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 AS b
           FROM documents))
       SELECT p.d1, p.d2, p.jac, s1.split AS split_1, s2.split AS split_2,
         ((s1.split = 'train') <> (s2.split = 'train')) AS train_eval
       FROM pairs p JOIN sp s1 ON p.d1 = s1.doc_id JOIN sp s2 ON p.d2 = s2.doc_id
       WHERE s1.split <> s2.split
       ORDER BY p.d1, p.d2"""

  /** Incremental first-wins verdicts for the arriving batch (doc_id ≥
    * 400): a new doc is vetoed by any Jaccard ≥ 0.8 partner with a
    * smaller id — corpus partners and earlier-batch partners reported
    * separately. Same pair contract as [[ngramJaccardOracle]].
    */
  private val dedupIncrementalOracle: String =
    s"""WITH $ngramPairCtes,
       pairs AS (
         SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
       pd AS (SELECT d2 AS doc_id, min(d1) AS best,
                max(CASE WHEN d1 < 400 THEN 1 ELSE 0 END) AS hc,
                max(CASE WHEN d1 >= 400 THEN 1 ELSE 0 END) AS hb
              FROM pairs WHERE d2 >= 400 GROUP BY d2)
       SELECT d.doc_id, coalesce(pd.best, -1) AS best_match,
         coalesce(pd.hc, 0) = 1 AS dup_of_corpus,
         coalesce(pd.hb, 0) = 1 AS dup_of_batch,
         (coalesce(pd.hc, 0) = 0 AND coalesce(pd.hb, 0) = 0) AS keep
       FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       WHERE d.doc_id >= 400 ORDER BY d.doc_id"""

  /** The capstone verdict: cluster-canonical AND repetition-pass AND
    * 5–10,000 tokens. Cluster labels come from the same recursive
    * closure as [[dedupClustersOracle]]; the repetition gate mirrors
    * `x_repetition`'s thresholds with the same rounding; token counts
    * include empty split tokens on both engines.
    */
  /** The repetition/length gate chain (t → gr/tok/tc/tsx → rep) —
    * the SQL twin of TextAnalysis.repetitionScoresFor's gate, shared
    * by the dedup-apply/funnel verdicts and the x_quality_train label
    * CTE (compose, never copy).
    */
  private val repGateCtes: String =
    """t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       gr AS (SELECT doc_id,
                list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS gs
              FROM t WHERE len(toks) > 1),
       tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
       tc AS (SELECT doc_id, tk, count(*) AS cnt FROM tok GROUP BY doc_id, tk),
       tsx AS (SELECT doc_id, max(cnt) AS top_n, sum(cnt) AS n_tok FROM tc GROUP BY doc_id),
       rep AS (SELECT gr.doc_id,
                 (round(1 - len(list_distinct(gs)) / CAST(len(gs) AS DOUBLE), 4) <= 0.9
                  AND round(top_n / CAST(n_tok AS DOUBLE), 4) <= 0.2) AS keep_rep
               FROM gr JOIN tsx ON gr.doc_id = tsx.doc_id)"""

  private val applyVerdictCtes: String =
    s"""$ngramPairCtes,
       pairs AS (
         SELECT d1, d2 FROM s JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         WHERE sh / (n1.n_ng + n2.n_ng - sh) >= 0.8),
       edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       reach(a, b) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
       clus AS (SELECT a AS doc_id, min(b) AS cluster, (min(b) = a) AS keep_dedup
                FROM reach GROUP BY a),
       $repGateCtes,
       av AS (SELECT c.doc_id, c.cluster, c.keep_dedup,
                coalesce(rep.keep_rep, TRUE) AS keep_rep,
                (tsx.n_tok BETWEEN 5 AND 10000) AS keep_len
              FROM clus c JOIN tsx ON c.doc_id = tsx.doc_id
              LEFT JOIN rep ON c.doc_id = rep.doc_id)"""

  /** x_quality_train oracle: the 8-step integer GD replayed as an
    * unrolled CTE chain — integer-quantized features (floor-division
    * quanta), zero-init weights, per step one corpus pass computing
    * qz6/qp and four HUGEINT gradient sums, and a truncating-division
    * update (DuckDB `//` truncates toward zero — the same contract as
    * Spark `div` and Java long `/`). Final scores from the step-8
    * weights.
    */
  /** The unrolled 8-step integer-GD CTE chain, ending in `fin`
    * (doc_id, qy, score_q = the final-weights qz6) — shared by the
    * x_quality_train oracle and (round 14) the calibration oracle,
    * which re-applies the training loop's own algebraic sigmoid to
    * score_q.
    *
    * `feat` and every `wN` are MATERIALIZED (a DuckDB planner hint,
    * semantics unchanged): DuckDB 1.0 inlines a CTE once PER
    * REFERENCE, and each level references w(N-1) twice (the score
    * pass sN and the weight update wN) — inlined, the chain expands
    * the feat subtree 2^8-fold, which round 15 measured as a >20 min
    * / >78 GB-spill oracle replay at sf0.1 (vs 0.6 s materialized).
    */
  private val qualityTrainCtes: String = {
    val iters = 8
    val levels = (1 to iters).map { r =>
      s"""s$r AS (SELECT f.doc_id, f.qx0, f.qx1, f.qx2, f.qx3, f.qy,
             (w.w0 * f.qx0 + w.w1 * f.qx1 + w.w2 * f.qx2 + w.w3 * f.qx3) // 10000 AS qz6
           FROM feat f CROSS JOIN w${r - 1} w),
         p$r AS (SELECT *, 500000 + (1000000 * qz6) // (2 * (1000000 + abs(qz6))) AS qp FROM s$r),
         g$r AS (SELECT sum(qx0 * (qp - qy)) AS g0, sum(qx1 * (qp - qy)) AS g1,
                   sum(qx2 * (qp - qy)) AS g2, sum(qx3 * (qp - qy)) AS g3,
                   CAST(count(*) AS BIGINT) AS n FROM p$r),
         w$r AS MATERIALIZED (SELECT CAST(w.w0 - g.g0 // (2 * g.n * 10000) AS BIGINT) AS w0,
                   CAST(w.w1 - g.g1 // (2 * g.n * 10000) AS BIGINT) AS w1,
                   CAST(w.w2 - g.g2 // (2 * g.n * 10000) AS BIGINT) AS w2,
                   CAST(w.w3 - g.g3 // (2 * g.n * 10000) AS BIGINT) AS w3
                 FROM w${r - 1} w CROSS JOIN g$r g)"""
    }.mkString(",\n         ")
    s"""$repGateCtes,
         feat AS MATERIALIZED (SELECT t.doc_id,
             CAST(10000 AS BIGINT) AS qx0,
             CAST(len(toks) AS BIGINT) * 100 AS qx1,
             (CAST(len(list_distinct(toks)) AS BIGINT) * 10000) // CAST(len(toks) AS BIGINT) AS qx2,
             CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
                  ELSE (CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) * 10000) // CAST(length(text) AS BIGINT) END AS qx3,
             CASE WHEN coalesce(rep.keep_rep, TRUE) AND tsx.n_tok BETWEEN 5 AND 10000
                  THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS qy
           FROM t JOIN tsx ON t.doc_id = tsx.doc_id
           LEFT JOIN rep ON t.doc_id = rep.doc_id),
         w0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
         $levels,
         fin AS (SELECT f.doc_id, f.qy,
             (w.w0 * f.qx0 + w.w1 * f.qx1 + w.w2 * f.qx2 + w.w3 * f.qx3) // 10000 AS score_q
           FROM feat f CROSS JOIN w$iters w)"""
  }

  /** The calibration family's shared binning CTEs (round 15): the
    * trained chain's `fin` → per-doc raw probability `qp` under the
    * training loop's algebraic sigmoid → equal-count decile `bin` from
    * quantile_cont boundaries (the x_vocab_growth decile-assignment
    * shape). `bb` carries score_q so the temperature oracle can
    * re-temper the logit per candidate T; the reliability diagram and
    * the temperature fit COMPOSE this block (never splice it).
    */
  private val qualityBinCtes: String =
    s"""$qualityTrainCtes,
         pf AS MATERIALIZED (SELECT doc_id, qy, score_q,
                  500000 + (1000000 * score_q) // (2 * (1000000 + abs(score_q))) AS qp
                FROM fin),
         bq AS (SELECT quantile_cont(CAST(qp AS DOUBLE),
                  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs FROM pf),
         bb AS (SELECT pf.qy, pf.qp, pf.score_q,
                  CAST(list_sum(list_transform(bs,
                    x -> CASE WHEN CAST(pf.qp AS DOUBLE) > x THEN 1 ELSE 0 END)) AS BIGINT) AS bin
                FROM pf, bq)"""

  /** The A-ES draw CTEs shared by the corpus-wide and stratified
    * weighted-sample oracles: the trained chain's final weights →
    * per-doc sigmoid probability `pw` → the quantized exponential key
    * `dr` (compose, never copy).
    */
  private def aesKeyCtes: String =
    s"""$qualityTrainCtes,
         pw AS (SELECT doc_id,
                  500000 + (1000000 * score_q) // (2 * (1000000 + abs(score_q))) AS qp
                FROM fin),
         dr AS (SELECT doc_id, qp,
                  CAST(floor((-ln((${hexDecodeSql("md5('es:' || CAST(doc_id AS VARCHAR))", 1, 8)} + 1) / 4294967296e0)) * 1000000000000e0 / CAST(qp AS DOUBLE) + 0.5) AS BIGINT) AS key_micro
                FROM pw)"""

  private val qualityTrainOracle: String =
    s"""WITH $qualityTrainCtes
         SELECT doc_id, CAST(score_q AS BIGINT) AS score_q, score_q > 0 AS keep,
           qy = 1000000 AS label
         FROM fin ORDER BY doc_id"""

  /** x_lang_trained oracle machinery (round 18): the one-vs-rest
    * integer-GD loop of [[graft.ext.TextAnalysis.trainLangWeights]]
    * replayed as an unrolled CTE chain — the [[qualityTrainCtes]]
    * discipline (MATERIALIZED feat and weight levels; DuckDB inlines
    * CTEs per reference) widened to 5 classes × 11 features. The
    * hashed-bigram bucket is the engine-portable md5 16-bit trick
    * (the Corpus sampler convention); `strlen` is DuckDB's byte
    * length (Spark twin: `octet_length`); DuckDB `regexp_replace`
    * needs the explicit 'g' flag Spark applies implicitly. Ends in
    * `lfin` (doc_id, lang, z_de..z_zh).
    */
  private val langTrainCtes: String = {
    val cs = Seq("de", "en", "es", "fr", "zh")
    val D = 11
    val B = 4
    val iters = 6
    val w0Cols = cs.flatMap(c => (0 until D).map(j => s"CAST(0 AS BIGINT) AS w_${c}_$j")).mkString(", ")
    val levels = (1 to iters).map { r =>
      val zs = cs.map(c =>
        s"(${(0 until D).map(j => s"w.w_${c}_$j * f.qx$j").mkString(" + ")}) // 10000 AS qz6_$c")
        .mkString(",\n             ")
      val qps = cs.map(c =>
        s"500000 + (1000000 * qz6_$c) // (2 * (1000000 + abs(qz6_$c))) AS qp_$c")
        .mkString(",\n             ")
      val gs = cs.flatMap(c => (0 until D).map(j =>
        s"sum(qx$j * (qp_$c - qy_$c)) AS g_${c}_$j")).mkString(",\n             ")
      val ws = cs.flatMap(c => (0 until D).map(j =>
        s"CAST(w.w_${c}_$j - g.g_${c}_$j // (2 * g.n * 10000) AS BIGINT) AS w_${c}_$j"))
        .mkString(",\n             ")
      s"""ls$r AS (SELECT f.*, $zs FROM lfeat f CROSS JOIN lw${r - 1} w),
         lp$r AS (SELECT *, $qps FROM ls$r),
         lg$r AS (SELECT $gs, CAST(count(*) AS BIGINT) AS n FROM lp$r),
         lw$r AS MATERIALIZED (SELECT $ws FROM lw${r - 1} w CROSS JOIN lg$r g)"""
    }.mkString(",\n         ")
    val bCnts = (0 until B).map(k =>
      s"CAST(sum(CASE WHEN bucket = $k THEN 1 ELSE 0 END) AS BIGINT) AS b$k").mkString(", ")
    val markers = Seq(" the ", " der ", " el ", " le ")
    val markerFeats = markers.zipWithIndex.map { case (m, k) =>
      s"((CAST(length(lower(d.text)) - length(replace(lower(d.text), '$m', '')) AS BIGINT) // ${m.length}) * 10000) // CAST(len(string_split(d.text, ' ')) AS BIGINT) AS qx${3 + k}"
    }.mkString(",\n             ")
    val bShares = (0 until B).map(k =>
      s"(CAST(ba.b$k AS BIGINT) * 10000) // ba.n_bi AS qx${3 + markers.length + k}").mkString(",\n             ")
    val qys = cs.map(c =>
      s"CASE WHEN d.lang = '$c' THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS qy_$c")
      .mkString(",\n             ")
    val zFin = cs.map(c =>
      s"CAST((${(0 until D).map(j => s"w.w_${c}_$j * f.qx$j").mkString(" + ")}) // 10000 AS BIGINT) AS z_$c")
      .mkString(",\n             ")
    s"""lpos AS (SELECT doc_id, lower(text) AS t,
             unnest(generate_series(1, greatest(length(lower(text)) - 1, 1))) AS i
           FROM documents),
         lbb AS (SELECT doc_id,
             ${hexDecodeSql("md5(substr(t, i, 2))", 1, 4)} % $B AS bucket
           FROM lpos),
         lba AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bi, $bCnts
           FROM lbb GROUP BY doc_id),
         lfeat AS MATERIALIZED (SELECT d.doc_id, d.lang,
             CAST(10000 AS BIGINT) AS qx0,
             (CAST(strlen(d.text) - length(d.text) AS BIGINT) * 10000) // greatest(CAST(strlen(d.text) AS BIGINT), 1) AS qx1,
             (CAST(length(regexp_replace(lower(d.text), '[^aeiou]', '', 'g')) AS BIGINT) * 10000) // greatest(CAST(length(d.text) AS BIGINT), 1) AS qx2,
             $markerFeats,
             $bShares,
             $qys
           FROM documents d JOIN lba ba ON d.doc_id = ba.doc_id),
         lw0 AS MATERIALIZED (SELECT $w0Cols),
         $levels,
         lfin AS (SELECT f.doc_id, f.lang, $zFin
           FROM lfeat f CROSS JOIN lw$iters w)"""
  }

  /** The trained argmax with the fixed alphabetical-priority tie-break
    * chain — the SQL twin of langScoredFor's argmax column.
    */
  private val langTrainedArgmaxCase: String = {
    val cs = Seq("de", "en", "es", "fr", "zh")
    val whens = cs.indices.init.map { i =>
      val c = cs(i)
      val cond = cs.drop(i + 1).map(o => s"z_$c >= z_$o").mkString(" AND ")
      s"WHEN $cond THEN '$c'"
    }.mkString(" ")
    s"CASE $whens ELSE '${cs.last}' END"
  }

  private val langTrainedOracle: String =
    s"""WITH $langTrainCtes
       SELECT doc_id, lang AS labelled_lang, z_de, z_en, z_es, z_fr, z_zh,
         $langTrainedArgmaxCase AS predicted,
         ($langTrainedArgmaxCase) = lang AS correct
       FROM lfin ORDER BY doc_id"""

  private val langTrainedEvalOracle: String =
    s"""WITH $langTrainCtes,
         lpr AS (SELECT lang AS labelled_lang, $langTrainedArgmaxCase AS predicted FROM lfin),
         lc AS (SELECT labelled_lang, predicted, CAST(count(*) AS BIGINT) AS n
                FROM lpr GROUP BY 1, 2),
         lt AS (SELECT labelled_lang, predicted, n,
                  CAST(sum(n) OVER (PARTITION BY labelled_lang) AS BIGINT) AS n_label
                FROM lc)
       SELECT labelled_lang, predicted, n, n_label,
         round(CAST(n AS DOUBLE) / n_label, 6) AS share
       FROM lt ORDER BY labelled_lang, predicted"""

  private val dedupApplyOracle: String =
    s"""WITH RECURSIVE $applyVerdictCtes
       SELECT doc_id, cluster, keep_dedup, keep_rep, keep_len,
         (keep_dedup AND keep_rep AND keep_len) AS keep
       FROM av ORDER BY doc_id"""

  /** The funnel oracle: the SAME verdict chain as [[dedupApplyOracle]]
    * (the shared per-doc `av` CTE — composed, not substring-spliced:
    * review r12 flagged the earlier indexOf surgery as a latent
    * object-initializer crash) plus the quality and decontam gates,
    * each doc's first failing stage, and the bounded generate_series
    * prefix fan-out — the SQL twin of graft.ext.Dedup.filterFunnel.
    */
  private val filterFunnelOracle: String =
    s"""WITH RECURSIVE $applyVerdictCtes,
       q AS (SELECT doc_id,
             ($qualityScoreSql > 0) AS keep_quality
           FROM documents),
       ev AS (SELECT DISTINCT ng FROM g0 WHERE doc_id < 20),
       ol AS (SELECT g0.doc_id, CAST(count(*) AS BIGINT) AS n_shared
              FROM g0 JOIN ev ON g0.ng = ev.ng GROUP BY g0.doc_id),
       dc AS (SELECT d.doc_id, coalesce(ol.n_shared, 0) < 10 AS keep_decontam
              FROM documents d LEFT JOIN ol ON d.doc_id = ol.doc_id),
       ffi AS (SELECT av.doc_id,
                 CASE WHEN NOT keep_len THEN 1
                      WHEN NOT keep_rep THEN 2
                      WHEN NOT keep_quality THEN 3
                      WHEN NOT keep_dedup THEN 4
                      WHEN NOT keep_decontam THEN 5
                      ELSE 99 END AS ffi
               FROM av JOIN q ON av.doc_id = q.doc_id
                       JOIN dc ON av.doc_id = dc.doc_id),
       sv0 AS (SELECT CAST(stage_idx AS BIGINT) AS stage_idx,
                CAST(count(*) AS BIGINT) AS n_surviving
              FROM (SELECT unnest(generate_series(0, least(ffi - 1, 5))) AS stage_idx FROM ffi)
              GROUP BY 1),
       sv AS (SELECT CAST(s.stage_idx AS BIGINT) AS stage_idx,
                CAST(coalesce(sv0.n_surviving, 0) AS BIGINT) AS n_surviving
              FROM (SELECT unnest(generate_series(0, 5)) AS stage_idx) s
              LEFT JOIN sv0 ON s.stage_idx = sv0.stage_idx)
       SELECT (['0_raw', '1_length', '2_repetition', '3_quality', '4_dedup', '5_decontam'])[CAST(cur.stage_idx + 1 AS INT)] AS stage,
         cur.n_surviving,
         CAST(coalesce(prev.n_surviving - cur.n_surviving, 0) AS BIGINT) AS n_dropped,
         round(CAST(cur.n_surviving AS DOUBLE)
               / (SELECT CAST(n_surviving AS DOUBLE) FROM sv WHERE stage_idx = 0), 6) AS survival_rate
       FROM sv cur LEFT JOIN sv prev ON cur.stage_idx = prev.stage_idx + 1
       ORDER BY stage"""

  /** x_funnel_orders oracle (round 18): the funnel's shared verdict
    * CTEs (av + q + dc — composed, never spliced) joined into one
    * five-boolean frame, then PER ORDER the first-fail CASE, the
    * prefix fan-out survivors, and the shifted self-join — generated
    * from the SAME [[graft.ext.Dedup.FunnelOrders]] list the Spark
    * face reads, so adding an order extends both engines at once.
    */
  private val funnelOrdersOracle: String = {
    val blocks = graft.ext.Dedup.FunnelOrders.map { case (ord, gates) =>
      val ffi = gates.zipWithIndex
        .map { case ((_, c), i) => s"WHEN NOT $c THEN ${i + 1}" }.mkString(" ")
      val labels = ("'0_raw'" +: gates.zipWithIndex.map { case ((name, _), i) =>
        s"'${i + 1}_$name'"
      }).mkString(", ")
      s"""ffo_$ord AS (SELECT CASE $ffi ELSE 99 END AS ffi FROM gall),
       svo0_$ord AS (SELECT CAST(stage_idx AS BIGINT) AS stage_idx,
                CAST(count(*) AS BIGINT) AS n_surviving
              FROM (SELECT unnest(generate_series(0, least(ffi - 1, 5))) AS stage_idx FROM ffo_$ord)
              GROUP BY 1),
       svo_$ord AS (SELECT CAST(s.stage_idx AS BIGINT) AS stage_idx,
                CAST(coalesce(v.n_surviving, 0) AS BIGINT) AS n_surviving
              FROM (SELECT unnest(generate_series(0, 5)) AS stage_idx) s
              LEFT JOIN svo0_$ord v ON s.stage_idx = v.stage_idx),
       blk_$ord AS (SELECT '$ord' AS ord,
           ([$labels])[CAST(cur.stage_idx + 1 AS INT)] AS stage,
           cur.n_surviving,
           CAST(coalesce(prev.n_surviving - cur.n_surviving, 0) AS BIGINT) AS n_dropped,
           round(CAST(cur.n_surviving AS DOUBLE)
                 / (SELECT CAST(n_surviving AS DOUBLE) FROM svo_$ord WHERE stage_idx = 0), 6) AS survival_rate
         FROM svo_$ord cur LEFT JOIN svo_$ord prev ON cur.stage_idx = prev.stage_idx + 1)"""
    }
    val union = graft.ext.Dedup.FunnelOrders
      .map { case (ord, _) => s"SELECT * FROM blk_$ord" }.mkString(" UNION ALL ")
    s"""WITH RECURSIVE $applyVerdictCtes,
       q AS (SELECT doc_id,
             ($qualityScoreSql > 0) AS keep_quality
           FROM documents),
       ev AS (SELECT DISTINCT ng FROM g0 WHERE doc_id < 20),
       ol AS (SELECT g0.doc_id, CAST(count(*) AS BIGINT) AS n_shared
              FROM g0 JOIN ev ON g0.ng = ev.ng GROUP BY g0.doc_id),
       dc AS (SELECT d.doc_id, coalesce(ol.n_shared, 0) < 10 AS keep_decontam
              FROM documents d LEFT JOIN ol ON d.doc_id = ol.doc_id),
       gall AS MATERIALIZED (SELECT av.doc_id, av.keep_dedup, av.keep_rep, av.keep_len,
                q.keep_quality, dc.keep_decontam
              FROM av JOIN q ON av.doc_id = q.doc_id
                      JOIN dc ON av.doc_id = dc.doc_id),
       ${blocks.mkString(",\n       ")}
       $union ORDER BY ord, stage"""
  }
}
