package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Analytics, Curation, DataOps, Decontamination, DecisionSupport, Dedup, Html, Multimodal, Similarity, Telematics, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_speed_radar"       -> Telematics.speedRadar _,
    "t2_avg_speed_control" -> Telematics.avgSpeedControl _,
    "t3_accident_runs"     -> Telematics.accidentRuns _,
    "t4_congestion_daily"  -> Telematics.congestionDaily _,
    "t5_saturated_pairs"   -> Telematics.saturatedPairs _,
    "t6_session_windows"   -> Telematics.sessionWindows _,
    "t7_purchase_attribution" -> ((s: SparkSession, d: String) => {
      // same operator function as the streaming interval join — watermark
      // degenerates to a no-op on a bounded frame
      val e = graft.Tables.events(s, d)
      graft.streaming.StreamOps.purchaseAttribution(e, e)
        .orderBy("purchase_id", "click_id")
    }),
    "t8_asof_attribution"  -> Telematics.asofAttribution _,
    "t9_sliding_windows"   -> Telematics.slidingWindows _,
    "q_pivot_events"       -> Analytics.pivotEvents _,
    "q_running_total"      -> Analytics.runningTotals _,
    "q_funnel"             -> Analytics.funnel _,
    "j1_json_extract"      -> Analytics.jsonPropsRollup _,
    "q1_pricing_summary"   -> Analytics.pricingSummary _,
    "q3_shipping_priority" -> Analytics.shippingPriority _,
    "q5_local_supplier"    -> Analytics.localSupplierVolume _,
    "q6_forecast_revenue"  -> Analytics.forecastRevenue _,
    "q10_returned_items"   -> Analytics.returnedItems _,
    "q14_promo_revenue"    -> Analytics.promoRevenue _,
    "q19_bracket_revenue"  -> Analytics.bracketRevenue _,
    "q4_order_priority"    -> Analytics.orderPriority _,
    "q_dormant_customers"  -> Analytics.dormantCustomers _,
    "q_rollup_events"      -> Analytics.eventRollup _,
    "q7_user_stats"        -> Analytics.userStats _,
    "q8_approx_stats"      -> Analytics.approxStats _,
    "q_salted_purchases"   -> ((s: SparkSession, d: String) => Analytics.saltedPurchaseTotals(s, d)),
    "q_top_users_window"   -> Analytics.topUsers _,
    "q2_min_price_supplier" -> DecisionSupport.minPriceSupplier _,
    "q7_nation_trade"      -> ((s: SparkSession, d: String) => DecisionSupport.nationTrade(s, d)),
    "q8_market_share"      -> DecisionSupport.marketShare _,
    "q11_important_stock"  -> DecisionSupport.importantStock _,
    "q12_late_shipments"   -> DecisionSupport.lateShipments _,
    "q20_stock_surplus"    -> DecisionSupport.stockSurplus _,
    "q21_blame_supplier"   -> DecisionSupport.blameSupplier _,
    "q_winsorize"          -> ((s: SparkSession, d: String) => Analytics.winsorizedStats(s, d)),
    "q_cohort_retention"   -> Analytics.cohortRetention _,
    "q_window_nav"         -> Analytics.windowNav _,
    "x15_pii_scrub"        -> TextAnalysis.piiScrub _,
    "x17_entropy"          -> TextAnalysis.docEntropy _,
    "x18_zipf_slope"       -> ((s: SparkSession, d: String) => TextAnalysis.zipfSlope(s, d)),
    "x19_source_overlap"   -> TextAnalysis.sourceOverlap _,
    "e1_quantize_error"    -> Curation.quantizeError _,
    "v1_table_profile"     -> DataOps.tableProfile _,
    "cdc1_snapshot_diff"   -> ((s: SparkSession, d: String) => DataOps.snapshotDiff(s, d)),
    "v2_integrity_check"   -> DataOps.integrityCheck _,
    "x20_pack_sequences"   -> ((s: SparkSession, d: String) => Curation.packSequences(s, d)),
    "x21_dsir_weights"     -> ((s: SparkSession, d: String) => Curation.dsirWeights(s, d)),
    "x22_doc_chunks"       -> ((s: SparkSession, d: String) => Curation.docChunks(s, d)),
    "x23_bpe_merges"       -> ((s: SparkSession, d: String) => TextAnalysis.bpeMerges(s, d)),
    "x24_token_compression" -> ((s: SparkSession, d: String) => TextAnalysis.tokenCompression(s, d)),
    "x25_mixture_weights"  -> ((s: SparkSession, d: String) => Curation.mixtureWeights(s, d)),
    "x26_dup_spans"        -> ((s: SparkSession, d: String) => Decontamination.dupShingleFraction(s, d)),
    "x29_dup_span_removal" -> ((s: SparkSession, d: String) => Decontamination.dupSpanRemoval(s, d)),
    "x27_pack_segments"    -> ((s: SparkSession, d: String) => Curation.packSegments(s, d)),
    "q_topk_agg"           -> ((s: SparkSession, d: String) => Analytics.topKPerType(s, d)),
    "q9_nation_revenue"    -> DecisionSupport.nationRevenue _,
    "q13_order_distribution" -> DecisionSupport.orderCountDistribution _,
    "q15_top_supplier"     -> DecisionSupport.topSupplier _,
    "q16_supplier_variety" -> DecisionSupport.supplierVariety _,
    "q17_small_qty_revenue" -> DecisionSupport.smallQtyRevenue _,
    "q18_large_orders"     -> ((s: SparkSession, d: String) => DecisionSupport.largeOrders(s, d)),
    "q22_idle_rich"        -> DecisionSupport.idleRichCustomers _,
    "r1_value_brackets"    -> ((s: SparkSession, d: String) => Analytics.valueBrackets(s, d)),
    "q_trend"              -> Analytics.valueTrend _,
    "q_cube_events"        -> Analytics.eventCube _,
    "q_lag_delta"          -> Analytics.purchaseDeltas _,
    "q_sketch_union"       -> Analytics.sketchUnion _,
    "n1_normalized_dedup"  -> Curation.normalizedDedup _,
    "h1_heavy_hitters"     -> ((s: SparkSession, d: String) => Curation.heavyHitters(s, d)),
    "k1_centroid_assign"   -> ((s: SparkSession, d: String) => Curation.centroidAssign(s, d)),
    "k2_semdedup_pairs"    -> ((s: SparkSession, d: String) => Curation.semDedupPairs(s, d)),
    "k3_kmeans_refine"     -> ((s: SparkSession, d: String) => Curation.kmeansRefine(s, d)),
    "p1_pipeline_decision" -> ((s: SparkSession, d: String) => Curation.pipelineDecision(s, d)),
    "d1_exact_dedup"       -> Dedup.exactDedup _,
    "d2_minhash_lsh"       -> ((s: SparkSession, d: String) => Dedup.minhashLsh(s, d)),
    "d3_simhash"           -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "d4_ngram_jaccard"     -> ((s: SparkSession, d: String) => Dedup.ngramJaccard(s, d)),
    "d5_embedding_neardup" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDup(s, d)),
    // the d5 hot-label guard run with its cap lowered INTO the data (sf0.01
    // labels hold 44-59 vectors), so sub-bucketing actually fires and the
    // oracle hash-checks the guarded path, not just the cold path
    "d5_hot_guard"         -> ((s: SparkSession, d: String) =>
      Dedup.embeddingNearDup(s, d, maxBlockSize = 48, subCells = 8)),
    "d8_incremental_dedup" -> ((s: SparkSession, d: String) => Dedup.incrementalDedup(s, d)),
    "d6_dedup_groups"      -> ((s: SparkSession, d: String) => Dedup.dedupGroups(s, d)),
    "d7_keep_list"         -> ((s: SparkSession, d: String) => Dedup.keepList(s, d)),
    "g1_triangle_counts"   -> ((s: SparkSession, d: String) => Dedup.triangleCounts(s, d)),
    "c1_contamination"     -> ((s: SparkSession, d: String) => Decontamination.contaminated(s, d)),
    "s1_ann_topk"          -> Similarity.annTopK _,
    "s4_hard_negatives"    -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    "s2_ann_ivf"           -> ((s: SparkSession, d: String) => Similarity.annIvf(s, d)),
    "s3_ann_ivf_kmeans"    -> ((s: SparkSession, d: String) => Similarity.annIvfKmeans(s, d)),
    "s5_ann_ivf_pq"        -> ((s: SparkSession, d: String) => Similarity.annIvfPq(s, d)),
    "x1_lang_id"           -> TextAnalysis.langId _,
    "x2_quality_score"     -> TextAnalysis.qualityScore _,
    "x3_token_stats"       -> TextAnalysis.tokenStats _,
    "x4_fingerprint"       -> TextAnalysis.fingerprints _,
    "x5_unigram_logprob"   -> TextAnalysis.unigramLogProb _,
    "x7_hash_embedding"    -> ((s: SparkSession, d: String) => TextAnalysis.hashEmbeddings(s, d)),
    "x8_stratified_sample" -> TextAnalysis.stratifiedSample _,
    "x28_weighted_sample"  -> ((s: SparkSession, d: String) => TextAnalysis.weightedSample(s, d)),
    "x10_top_bigrams"      -> ((s: SparkSession, d: String) => TextAnalysis.topBigrams(s, d)),
    "x11_repetition"       -> TextAnalysis.repetitionSignals _,
    "x12_tfidf_terms"      -> ((s: SparkSession, d: String) => TextAnalysis.tfidfTerms(s, d)),
    "x14_quality_bins"     -> ((s: SparkSession, d: String) => TextAnalysis.qualityBins(s, d)),
    "i1_inverted_index"    -> ((s: SparkSession, d: String) => TextAnalysis.invertedIndex(s, d)),
    "m1_multimodal_meta"   -> Multimodal.mediaMetadata _,
    "m6_media_dedup"       -> Multimodal.mediaExactDedup _,
    "m4_image_phash"       -> ((s, d) => Multimodal.imageHashes(s, d)),
    "m9_media_neardup"     -> ((s, d) => Multimodal.mediaNearDup(s, d)),
    "x40_dedup_curve"      -> ((s, d) => Dedup.dedupCurve(s, d)),
    "x41_html_extract"     -> ((s, d) => Html.htmlExtract(s, d)),
    "x42_blocklist_filter" -> ((s, d) => Curation.blocklistFilter(s, d)),
    "x42b_blocklist_join"  -> ((s, d) => Curation.blocklistFilterBroadcast(s, d)),
    "x42c_blocklist_bloom" -> ((s, d) => Curation.blocklistFilterBloom(s, d)),
    "p3_reputation_gate"   -> ((s, d) => Curation.reputationGate(s, d)),
    "x43_url_canonicalize" -> ((s, d) => operators.Urls.urlCanonicalize(s, d)),
    "x44_robots_gate"      -> ((s, d) => operators.Urls.robotsGate(s, d)),
    "x45_outlink_graph"    -> ((s, d) => operators.Html.outlinkGraph(s, d)),
    "g3_link_pagerank"     -> ((s, d) => operators.Html.linkPageRank(s, d)),
    "x46_bpe_encode"       -> ((s, d) => operators.TextAnalysis.bpeEncode(s, d)),
    "p2_web_pipeline"      -> ((s, d) => Curation.webPipelineDecision(s, d)),
    "p4_cls_lang_gate"     -> ((s, d) => Curation.webPipelineClsLang(s, d)),
    "x47_crawl_schedule"   -> ((s, d) => operators.Urls.crawlSchedule(s, d)),
    "x48_domain_profile"   -> ((s, d) => Curation.domainProfile(s, d)),
    "x49_fim_split"        -> ((s, d) => Curation.fimSplit(s, d)),
    "x50_chat_template"    -> ((s, d) => Curation.chatTemplate(s, d)),
    "w1_warc_ingest"       -> ((s, d) => sources.Warc.warcIngest(s, d)),
    "w2_wet_extract"       -> ((s, d) => sources.Warc.wetExtract(s, d)),
    "w3_warc_files"        -> ((s, d) => sources.Warc.warcFileRoundTrip(s, d)),
    "w4_warc_gz"           -> ((s, d) => sources.Warc.warcGzRoundTrip(s, d)),
    "w5_warc_cdx"          -> ((s, d) => sources.Warc.warcGzPointReads(s, d)),
    "w6_cdx_lookup"        -> ((s, d) => sources.Warc.warcCdxLookup(s, d)),
    "x51_preference_pairs" -> ((s, d) => Curation.preferencePairs(s, d)),
    "i4_retrieval_eval"    -> ((s, d) => Similarity.retrievalEval(s, d)),
    "i5_index_eval"        -> ((s, d) => Similarity.indexRetrievalEval(s, d)),
    "v4_outlier_audit"     -> ((s, d) => DataOps.outlierAudit(s, d)),
    "m2_frame_sample"      -> ((s: SparkSession, d: String) =>
      Multimodal.frameSamples(s, d).toDF().orderBy("doc_id", "frame_idx")),
    "m3_audio_chunks"      -> ((s: SparkSession, d: String) =>
      Multimodal.audioChunks(s, d).toDF().orderBy("doc_id", "chunk_idx")),
    "m7_scene_cuts"        -> ((s: SparkSession, d: String) =>
      Multimodal.sceneCuts(s, d).toDF().orderBy("doc_id", "scene_idx")),
    "m8_scene_keyframes"   -> ((s: SparkSession, d: String) =>
      Multimodal.sceneKeyframes(s, d).toDF().orderBy("doc_id", "scene_idx")),
    "c2_contamination_frac" -> ((s: SparkSession, d: String) =>
      Decontamination.contaminationFraction(s, d)),
    "i2_bm25_topk"         -> ((s: SparkSession, d: String) => TextAnalysis.bm25TopK(s, d)),
    "x30_corpus_shuffle"   -> ((s: SparkSession, d: String) => Curation.corpusShuffle(s, d)),
    "x31_token_budget_sample" -> ((s: SparkSession, d: String) =>
      Curation.tokenBudgetSample(s, d)),
    "x32_bigram_logprob"   -> ((s: SparkSession, d: String) => TextAnalysis.bigramLogProb(s, d)),
    "k4_cluster_quality"   -> ((s: SparkSession, d: String) => Curation.clusterQuality(s, d)),
    "g2_pagerank"          -> ((s: SparkSession, d: String) => Dedup.pageRank(s, d)),
    "d9_dup_weights"       -> ((s: SparkSession, d: String) => Dedup.dupWeights(s, d)),
    "s6_range_search"      -> ((s: SparkSession, d: String) => Similarity.rangeSearch(s, d)),
    "x33_ccnet_buckets"    -> ((s: SparkSession, d: String) => TextAnalysis.ccnetBuckets(s, d)),
    "v3_expectation_check" -> ((s: SparkSession, d: String) => DataOps.expectationCheck(s, d)),
    "x34_pmi_bigrams"      -> ((s: SparkSession, d: String) => TextAnalysis.pmiBigrams(s, d)),
    "m5_image_resize"      -> ((s: SparkSession, d: String) => Multimodal.imageThumbnails(s, d)),
    "drift1_psi"           -> ((s: SparkSession, d: String) => DataOps.psiDrift(s, d)),
    "i3_phrase_search"     -> ((s: SparkSession, d: String) => TextAnalysis.phraseSearch(s, d)),
    "cdc2_scd2_history"    -> ((s: SparkSession, d: String) => DataOps.scd2History(s, d)),
    "x35_dsir_resample"    -> ((s: SparkSession, d: String) => Curation.dsirResample(s, d)),
    "s7_mmr_rerank"        -> ((s: SparkSession, d: String) => Similarity.mmrRerank(s, d)),
    "c3_contamination_scrub" -> ((s: SparkSession, d: String) =>
      Decontamination.contaminationScrub(s, d)),
    "k5_elbow_curve"       -> ((s: SparkSession, d: String) => Curation.elbowCurve(s, d)),
    "cdc3_merge_upsert"    -> ((s: SparkSession, d: String) => DataOps.mergeUpsert(s, d)),
    "x36_split_assign"     -> ((s: SparkSession, d: String) => Curation.splitAssign(s, d)),
    "cls1_quality_classifier" -> ((s: SparkSession, d: String) =>
      Curation.qualityClassifier(s, d)),
    "cls2_pareto_filter" -> ((s: SparkSession, d: String) =>
      Curation.paretoFilter(s, d)),
    "cls3_calibration" -> ((s: SparkSession, d: String) =>
      Curation.calibrationTable(s, d)),
    "cls4_threshold_sweep" -> ((s: SparkSession, d: String) =>
      Curation.thresholdSweep(s, d)),
    "cls5_auc" -> ((s: SparkSession, d: String) => Curation.aucTable(s, d)),
    "cls6_lang_classifier" -> ((s: SparkSession, d: String) => Curation.langClassifier(s, d)),
    "x37_leakage_split" -> ((s: SparkSession, d: String) =>
      Curation.leakageSplit(s, d)),
    "drift2_ks" -> ((s: SparkSession, d: String) => DataOps.ksDrift(s, d)),
    "drift3_chi2" -> ((s: SparkSession, d: String) => DataOps.chi2Drift(s, d)),
    "x38_source_datasheet" -> ((s: SparkSession, d: String) =>
      TextAnalysis.sourceDatasheet(s, d)),
  )

  private val cosExpr =
    "list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
  private val qCosExpr =
    "list_cosine_similarity(list_transform(q.q_emb, x -> CAST(x AS DOUBLE)), list_transform(e.embedding, x -> CAST(x AS DOUBLE)))"

  private val moneyExpr =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"

  /** k1/k2's shared nearest-centroid assignment CTE: every vector scored
    * against the k=8 smallest-vec_id seed centroids, rn = 1 row per vector
    * is its argmax assignment (ties → smallest centroid id).
    */
  private val kAssignSql =
    """WITH v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
      |c AS (SELECT vec_id AS centroid_id, ve AS ce FROM v WHERE vec_id < 8),
      |s AS (SELECT v.vec_id, c.centroid_id,
      |        round(list_cosine_similarity(ve, ce), 6) AS cos
      |      FROM v CROSS JOIN c),
      |b AS (SELECT vec_id, centroid_id, cos,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id)
      |          AS rn
      |      FROM s)""".stripMargin

  /** The d4 near-dup pair list (a_id < b_id, Jaccard >= 0.8) — reused
    * verbatim by the d4 oracle and as the edge list of the g1 triangle
    * oracle.
    */
  private val d4PairsSql =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
      |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |  FROM tok a JOIN tok b ON a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id, round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      |FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
      |WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8""".stripMargin

  /** The s2 SRP plane constants as a DuckDB VALUES list (p, j, w) — the
    * exact doubles the Spark kernel uses, interpolated as round-trip
    * literals so the oracle's hyperplanes are bit-identical. The dot
    * products that decide each SRP sign bit are replayed as ORDERED
    * list_reduce folds (the kernel sums ascending), because a sign
    * threshold tolerates no summation-order error.
    */
  private val srpPlaneValues: String =
    operators.Similarity.srpPlanes(6, 64).zipWithIndex.flatMap {
      case (row, p) => row.zipWithIndex.map {
        case (w, j) => s"($p,${j + 1},$w)"
      }
    }.mkString(",")

  /** The engine-portable token hash (poly-31 fold + splitmix64 finalizer,
    * the d3/x7 kernels' hash) as DuckDB CTEs: expects `h0(doc_id, u)` with
    * u the poly-31 value in [0, 2^64) HUGEINT, yields `m5(doc_id, u)` with
    * the finalized hash. Shifts are integer divides; the two 64-bit
    * constant multiplies are split hi/lo by 2^32 so no intermediate
    * exceeds HUGEINT.
    */
  private def mixCtes(src: String, pfx: String): String = {
    def mulmod(c: String) =
      s"((((u // 4294967296) * CAST('$c' AS HUGEINT)) % 4294967296) * 4294967296" +
        s" + (u % 4294967296) * CAST('$c' AS HUGEINT)) % CAST(18446744073709551616 AS HUGEINT)"
    s"""${pfx}1 AS (SELECT * REPLACE (xor(u, u // 1073741824) AS u) FROM $src),
       |${pfx}2 AS (SELECT * REPLACE (${mulmod("13787848793156543929")} AS u) FROM ${pfx}1),
       |${pfx}3 AS (SELECT * REPLACE (xor(u, u // 134217728) AS u) FROM ${pfx}2),
       |${pfx}4 AS (SELECT * REPLACE (${mulmod("10723151780598845931")} AS u) FROM ${pfx}3),
       |${pfx}5 AS (SELECT * REPLACE (xor(u, u // 2147483648) AS u) FROM ${pfx}4)""".stripMargin
  }

  private val splitmixCtes: String = mixCtes("h0", "m")

  /** cls1's DuckDB twin: x7's feature CTEs (token hash → signed counts →
    * normalized components, bit-exact), quantized to the 1e-6 long grid
    * plus the bias feature, then the 3 full-batch hard-sigmoid logistic
    * rounds unrolled (weights as 65-row CTEs, gradients as exact integer
    * sums, the truncating-division update — DuckDB `//` == Java long
    * division), then the corpus scoring join. Multiply-referenced CTEs
    * are AS MATERIALIZED (the g2 lesson: DuckDB re-inlines otherwise).
    */
  private val clsP6 = (z: String) =>
    s"CAST((least(greatest($z + 2000000000000, 0), 4000000000000) + 2000000) // 4000000 AS BIGINT)"

  /** x7's feature CTEs (token hash → signed counts → normalized
    * components, bit-exact), quantized to the 1e-6 long grid plus the
    * bias feature — ending in `xfeat (doc_id, j, xq)`. Shared by the
    * cls1-family oracles (source label) and cls6 (lang label), so the
    * feature pipeline can never drift between the two classifiers.
    */
  private val clsFeatureCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h0 AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS HUGEINT),
       |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS HUGEINT))),
       |      (h, b) -> (h*31 + b) % CAST(18446744073709551616 AS HUGEINT)) AS u
       |  FROM toks),
       |$splitmixCtes,
       |feats AS (
       |  SELECT doc_id, CAST(u % 64 AS BIGINT) AS idx,
       |         CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT) THEN -1.0 ELSE 1.0 END AS sgn
       |  FROM m5),
       |acc AS (SELECT doc_id, idx, sum(sgn) AS a FROM feats GROUP BY doc_id, idx),
       |ssq AS (SELECT doc_id, sum(a*a) AS ss FROM acc GROUP BY doc_id),
       |comp AS (
       |  SELECT acc.doc_id, idx,
       |         CASE WHEN ssq.ss > 0 THEN a / sqrt(ssq.ss) ELSE a END AS v
       |  FROM acc JOIN ssq ON acc.doc_id = ssq.doc_id),
       |xfeat AS MATERIALIZED (
       |  SELECT doc_id, idx AS j, CAST(floor(v*1000000 + 0.5) AS BIGINT) AS xq
       |  FROM comp WHERE v <> 0 AND floor(v*1000000 + 0.5) <> 0
       |  UNION ALL
       |  SELECT doc_id, 64 AS j, CAST(1000000 AS BIGINT) AS xq FROM documents)""".stripMargin

  /** Shared WITH-body of the cls1/cls2 oracles (x7 features, the unrolled
    * training rounds, the corpus margin CTE `zf`); each oracle appends its
    * own tail after the `zf` CTE.
    */
  private def clsOracleWith(tail: String): String = {
    val posSet = "('src0','src1','src2','src3','src4')"
    val p6 = clsP6
    val rounds = (0 until 3).map { t =>
      s"""z$t AS (
         |  SELECT x.doc_id, sum(w.wq * x.xq) AS z
         |  FROM xtr x JOIN w$t w USING (j) GROUP BY x.doc_id),
         |e$t AS MATERIALIZED (
         |  SELECT z.doc_id, ${p6("z.z")} - l.y6 AS err6
         |  FROM z$t z JOIN lab l USING (doc_id)),
         |g$t AS (
         |  SELECT j, sum(err6 * xq) AS g
         |  FROM xtr JOIN e$t USING (doc_id) GROUP BY j),
         |w${t + 1} AS MATERIALIZED (
         |  SELECT w.j,
         |    w.wq - COALESCE(CAST(g.g // (2 * (SELECT n FROM nn) * 1000000) AS BIGINT), 0) AS wq
         |  FROM w$t w LEFT JOIN g$t g USING (j))""".stripMargin
    }.mkString(",\n")
    "WITH " + clsFeatureCtes + ",\n" +
      s"""lab AS MATERIALIZED (
       |  SELECT doc_id, source,
       |         CASE WHEN source IN $posSet THEN 1000000 ELSE 0 END AS y6,
       |         source IN $posSet AS label_high
       |  FROM documents),
       |xtr AS MATERIALIZED (SELECT * FROM xfeat WHERE doc_id < 4096),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM documents WHERE doc_id < 4096),
       |w0 AS MATERIALIZED (
       |  SELECT CAST(unnest(range(0, 65)) AS BIGINT) AS j, CAST(0 AS BIGINT) AS wq),
       |$rounds,
       |zf AS (
       |  SELECT x.doc_id, sum(w.wq * x.xq) AS z
       |  FROM xfeat x JOIN w3 w USING (j) GROUP BY x.doc_id)
       |$tail""".stripMargin
  }

  /** clsOracleWith plus the (doc_id, label_high, p6) scored frame the
    * three eval oracles (cls3/cls4/cls5) all aggregate — one spelling,
    * not three copies that could drift. A tail may open with further
    * CTEs (leading comma) or go straight to its SELECT.
    */
  private def clsScoredOracleWith(tail: String): String = clsOracleWith(
    s""", scored AS (
       |  SELECT l.doc_id, l.label_high, ${clsP6("z")} AS p6
       |  FROM zf JOIN lab l USING (doc_id))
       |$tail""".stripMargin)

  /** cls6's DuckDB twin — the shared x7 feature CTEs, then the K
    * one-vs-rest trainings unrolled side by side (per class: 65-row
    * weight CTEs, exact integer gradients, the truncating-division
    * update), the K corpus margin joins, and x1's priority argmax CASE
    * chain replicated exactly (ties en > es > de > fr > zh).
    */
  private val cls6Langs: Seq[String] =
    operators.TextAnalysis.markers.map(_._1)

  /** cls6's K-class training + scored-frame CTEs, shared VERBATIM by
    * the cls6 oracle and the p4 composed oracle (the p2PdCtes one-
    * definition discipline). Expects `xfeat`, `xtr`, `nn` in scope; the
    * text opens with `lab6` and closes with the `sc6` scored frame
    * carrying (doc_id, lang, p6_<lang>…).
    */
  private val cls6TrainCtes: String = {
    val langs = cls6Langs
    val p6 = clsP6
    def q(l: String) = l.replace("'", "''")
    val perClass = langs.map { c =>
      val w0 =
        s"""w_${c}_0 AS MATERIALIZED (
           |  SELECT CAST(unnest(range(0, 65)) AS BIGINT) AS j, CAST(0 AS BIGINT) AS wq)""".stripMargin
      val rounds = (0 until 3).map { t =>
        s"""z_${c}_$t AS (
           |  SELECT x.doc_id, sum(w.wq * x.xq) AS z
           |  FROM xtr x JOIN w_${c}_$t w USING (j) GROUP BY x.doc_id),
           |e_${c}_$t AS MATERIALIZED (
           |  SELECT z.doc_id,
           |    ${p6("z.z")} - (CASE WHEN l.lang = '${q(c)}' THEN 1000000 ELSE 0 END) AS err6
           |  FROM z_${c}_$t z JOIN lab6 l USING (doc_id)),
           |g_${c}_$t AS (
           |  SELECT j, sum(err6 * xq) AS g
           |  FROM xtr JOIN e_${c}_$t USING (doc_id) GROUP BY j),
           |w_${c}_${t + 1} AS MATERIALIZED (
           |  SELECT w.j,
           |    w.wq - COALESCE(CAST(g.g // (2 * (SELECT n FROM nn) * 1000000) AS BIGINT), 0) AS wq
           |  FROM w_${c}_$t w LEFT JOIN g_${c}_$t g USING (j))""".stripMargin
      }
      val zf =
        s"""zf_$c AS MATERIALIZED (
           |  SELECT x.doc_id, sum(w.wq * x.xq) AS z
           |  FROM xfeat x JOIN w_${c}_3 w USING (j) GROUP BY x.doc_id)""".stripMargin
      (w0 +: rounds :+ zf).mkString(",\n")
    }.mkString(",\n")
    val p6Cols = langs.map(c => s"${p6(s"z$c.z")} AS p6_$c").mkString(",\n    ")
    val zfJoins = langs
      .map(c => s"JOIN zf_$c z$c ON l.doc_id = z$c.doc_id").mkString(" ")
    s"""lab6 AS MATERIALIZED (SELECT doc_id, lang FROM documents),""" +
      "\n" + perClass + ",\n" +
      s"""sc6 AS MATERIALIZED (
         |  SELECT l.doc_id, l.lang,
         |    $p6Cols
         |  FROM lab6 l $zfJoins)""".stripMargin
  }

  /** x1's priority argmax CASE chain over sc6's probability columns
    * (ties en > es > de > fr > zh) — cls6's prediction expression,
    * shared by both oracles that read sc6.
    */
  private val cls6PredCase: String = {
    val langs = cls6Langs
    def q(l: String) = l.replace("'", "''")
    langs.init.foldRight(s"'${q(langs.last)}'") { (l, els) =>
      val beats = langs.filter(_ != l)
        .map(o => s"p6_$l >= p6_$o").mkString(" AND ")
      s"CASE WHEN $beats THEN '${q(l)}' ELSE $els END"
    }
  }

  private val cls6OracleSql: String =
    "WITH " + clsFeatureCtes + ",\n" +
      s"""xtr AS MATERIALIZED (SELECT * FROM xfeat WHERE doc_id < 4096),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM documents WHERE doc_id < 4096),""".stripMargin +
      "\n" + cls6TrainCtes + "\n" +
      s"""SELECT doc_id, lang, ${cls6Langs.map(c => s"p6_$c").mkString(", ")},
         |  $cls6PredCase AS pred_lang,
         |  ($cls6PredCase) = lang AS correct
         |FROM sc6 ORDER BY doc_id""".stripMargin

  private val cls1OracleSql: String = clsOracleWith(
    s"""SELECT l.doc_id, l.source, l.label_high,
       |  CAST(z AS BIGINT) AS margin_p12,
       |  ${clsP6("z")} AS prob_micros,
       |  ${clsP6("z")} >= 500000 AS pred_high
       |FROM zf JOIN lab l USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin)

  /** cls3's DuckDB twin: cls1's trained scoring CTEs, then the reliability
    * aggregate — deci-probability bins, exact counts/long sums, and both
    * rates via truncating integer division (`//` == Spark's `div` on these
    * non-negative operands). HUGEINT sums cast back to BIGINT to match
    * Spark's long sum (the established sum-cast convention).
    */
  private val cls3OracleSql: String = clsScoredOracleWith(
    s"""SELECT p6 // 100000 AS cal_bin,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN label_high THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(sum(p6) AS BIGINT) AS sum_prob_micros,
       |  CAST(sum(p6) // count(*) AS BIGINT) AS avg_prob_micros,
       |  CAST(sum(CASE WHEN label_high THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
       |    AS pos_rate_micros,
       |  CAST(sum(p6) // count(*) AS BIGINT)
       |    - CAST(sum(CASE WHEN label_high THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
       |    AS gap_micros
       |FROM scored
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** cls4's DuckDB twin: cls1's trained scoring CTEs, then the NAIVE
    * decile-threshold sweep — per-bin counts, an 11-row threshold frame,
    * the suffix sums as a bin >= t join, and the PR columns via
    * truncating integer division; an all-negative-prediction threshold
    * gets NULL precision/F1 in both engines.
    */
  private val cls4OracleSql: String = clsScoredOracleWith(
    s""", bins AS (
       |  SELECT p6 // 100000 AS bin,
       |    sum(CASE WHEN label_high THEN 1 ELSE 0 END) AS bp,
       |    sum(CASE WHEN label_high THEN 0 ELSE 1 END) AS bn
       |  FROM scored GROUP BY 1),
       |tot AS (
       |  SELECT CAST(COALESCE(sum(bp), 0) AS BIGINT) AS np,
       |         CAST(COALESCE(sum(bn), 0) AS BIGINT) AS nn FROM bins),
       |thr AS (SELECT CAST(unnest(range(0, 11)) AS BIGINT) AS t),
       |conf AS (
       |  SELECT t.t,
       |    CAST(COALESCE(sum(CASE WHEN b.bin >= t.t THEN b.bp END), 0) AS BIGINT) AS tp,
       |    CAST(COALESCE(sum(CASE WHEN b.bin >= t.t THEN b.bn END), 0) AS BIGINT) AS fp
       |  FROM thr t LEFT JOIN bins b ON true GROUP BY t.t),
       |pr AS (
       |  SELECT t * 100000 AS threshold_micros, tp, fp,
       |    tot.np - tp AS fn, tot.nn - fp AS tn,
       |    CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END
       |      AS precision_micros,
       |    CASE WHEN tot.np > 0 THEN (tp * 1000000) // tot.np END
       |      AS recall_micros
       |  FROM conf, tot)
       |SELECT *, CASE WHEN precision_micros IS NOT NULL
       |    AND recall_micros IS NOT NULL
       |    AND precision_micros + recall_micros > 0
       |  THEN (2 * precision_micros * recall_micros)
       |       // (precision_micros + recall_micros) END AS f1_micros
       |FROM pr ORDER BY threshold_micros""".stripMargin)

  /** cls5's DuckDB twin: cls1's trained scoring CTEs, then the NAIVE
    * single-window tie-aware Mann–Whitney form of exact AUC — per-score
    * class counts, negatives-strictly-below by one cumulative window,
    * 2U as an exact integer sum, one rounded division (the Spark side
    * runs the two-phase bucket cumsum; the hash check certifies the
    * equivalence).
    */
  private val cls5OracleSql: String = clsScoredOracleWith(
    s""", ps AS (
       |  SELECT p6,
       |    sum(CASE WHEN label_high THEN 1 ELSE 0 END) AS p_s,
       |    sum(CASE WHEN label_high THEN 0 ELSE 1 END) AS n_s
       |  FROM scored GROUP BY 1),
       |cum AS (
       |  SELECT p6, p_s, n_s,
       |    COALESCE(sum(n_s) OVER (ORDER BY p6
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM ps)
       |SELECT
       |  CAST(COALESCE(sum(p_s), 0) AS BIGINT) AS n_pos,
       |  CAST(COALESCE(sum(n_s), 0) AS BIGINT) AS n_neg,
       |  CAST(COALESCE(sum(p_s * (nb * 2 + n_s)), 0) AS BIGINT) AS auc_num2,
       |  CASE WHEN sum(p_s) > 0 AND sum(n_s) > 0 THEN
       |    round(CAST(sum(p_s * (nb * 2 + n_s)) AS DOUBLE)
       |          / (2.0 * sum(p_s) * sum(n_s)), 6)
       |  END AS auc
       |FROM cum""".stripMargin)

  /** cls2's DuckDB twin: cls1's trained scoring CTEs, then the Pareto
    * acceptance — the 1001-slot threshold table re-derived with HUGEINT
    * ceiling division (T(s3) = ⌈32768·1000⁹ / (2000−s3)⁹⌉, the exact
    * integer form of the strict rational rule), x28's LCG uniform, and
    * the `u15 < t_keep` verdict. doc_id ≥ 0 in every corpus this oracle
    * reads, so the plain `%` here equals the Spark side's pmod.
    */
  private val cls2OracleSql: String = clsOracleWith(
    s""", lut AS (
       |  SELECT CAST(s3 AS BIGINT) AS s3,
       |    CAST((CAST(32768 AS HUGEINT) * CAST('1000000000000000000000000000' AS HUGEINT)
       |          + d9 - 1) // d9 AS BIGINT) AS t_keep
       |  FROM (
       |    SELECT s3, d*d*d*d*d*d*d*d*d AS d9
       |    FROM (SELECT s3, CAST(2000 - s3 AS HUGEINT) AS d
       |          FROM (SELECT unnest(range(0, 1001)) AS s3)))),
       |scored AS (
       |  SELECT l.doc_id, l.source, ${clsP6("z")} AS prob_micros,
       |    CAST((((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)
       |         // 65536 % 32768 AS BIGINT) AS u15
       |  FROM zf JOIN lab l USING (doc_id))
       |SELECT s.doc_id, s.source, s.prob_micros, s.u15, t.t_keep,
       |  s.u15 < t.t_keep AS keep
       |FROM scored s JOIN lut t ON t.s3 = s.prob_micros // 1000
       |ORDER BY s.doc_id""".stripMargin)

  /** p1's DuckDB twin — the full composed pipeline: cls1's trained
    * scoring CTEs (shared prefix), cls2's HUGEINT Pareto LUT + LCG
    * uniform, c1's raw-string shingle contamination, the x42 shared CASE,
    * and the original heuristic stages, ordered by the same
    * first-failing-rule CASE as the operator. Positive-label sources
    * (the clsOracleWith posSet) pass the classifier stage outright — the
    * GPT-3-recipe routing `trainingCorpus` ships.
    */
  // The gate CTEs shared VERBATIM by the p1 and p2 composed oracles (one
  // definition, the blocklist-constants convention): cls2's HUGEINT
  // Pareto LUT + LCG uniform over the trained scores, c1's raw-string
  // shingle contamination, the x42 shared CASE, and the heuristic
  // scoring frame. lazy: references x42CaseSql (itself lazy, declared
  // later in the file).
  private lazy val p1SharedCtes: String =
    s""", lut AS (
       |  SELECT CAST(s3 AS BIGINT) AS s3,
       |    CAST((CAST(32768 AS HUGEINT) * CAST('1000000000000000000000000000' AS HUGEINT)
       |          + d9 - 1) // d9 AS BIGINT) AS t_keep
       |  FROM (
       |    SELECT s3, d*d*d*d*d*d*d*d*d AS d9
       |    FROM (SELECT s3, CAST(2000 - s3 AS HUGEINT) AS d
       |          FROM (SELECT unnest(range(0, 1001)) AS s3)))),
       |clsv AS (
       |  SELECT c.doc_id,
       |    (c.source IN ('src0','src1','src2','src3','src4')
       |     OR c.u15 < t.t_keep) AS cls_ok
       |  FROM (
       |    SELECT l.doc_id, l.source, ${clsP6("z")} AS prob_micros,
       |      CAST((((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)
       |           // 65536 % 32768 AS BIGINT) AS u15
       |    FROM zf JOIN lab l USING (doc_id)) c
       |  JOIN lut t ON t.s3 = c.prob_micros // 1000),
       |pt AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |psh AS (
       |  SELECT doc_id, source,
       |    unnest(list_distinct(list_transform(range(1, len(t) - 6),
       |      i -> array_to_string(list_slice(t, i, i + 7), ' ')))) AS s
       |  FROM pt WHERE len(t) >= 8),
       |pbench AS (SELECT DISTINCT s FROM psh WHERE source = 'src0'),
       |pcon AS (
       |  SELECT DISTINCT psh.doc_id FROM psh JOIN pbench ON psh.s = pbench.s
       |  WHERE psh.source <> 'src0'),
       |pb AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks2,
       |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm,
       |  $x42CaseSql AS block_reason
       |  FROM documents),
       |ps2 AS (SELECT doc_id, lang, source, norm, block_reason,
       |  CAST(len(toks2) AS BIGINT) AS n_words,
       |  CAST(len(list_distinct(toks2)) AS DOUBLE) / len(toks2) AS ttr_raw,
       |  CAST(len(list_filter(toks2, x -> list_contains(
       |    ['the','a','fast','data','table','row','join','merge','group','window','stream','batch','spark','vector','hash'],
       |    x))) AS DOUBLE) / len(toks2) AS stop_raw,
       |  len(list_filter(toks2, x -> list_contains(['the','a','fast'], x))) AS s_en,
       |  len(list_filter(toks2, x -> list_contains(['data','table','row'], x))) AS s_es,
       |  len(list_filter(toks2, x -> list_contains(['join','merge','group'], x))) AS s_de,
       |  len(list_filter(toks2, x -> list_contains(['window','stream','batch'], x))) AS s_fr,
       |  len(list_filter(toks2, x -> list_contains(['spark','vector','hash'], x))) AS s_zh
       | FROM pb)""".stripMargin

  /** The shared language vote + quality score expressions over ps2's
    * columns (identical text in both composed oracles).
    */
  private val p1PredLangCase: String =
    """CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END""".stripMargin
  private val p1QExpr: String =
    """round(0.4 * ttr_raw + 0.3 * (1.0 - abs(stop_raw - 0.4))
      |        + 0.3 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0), 6)""".stripMargin
  private val p1ContentGates: String =
    """WHEN n_words < 5 OR n_words > 1000 THEN 'length'
      |       WHEN q < 0.55 THEN 'low_quality'
      |       WHEN pred_lang <> lang THEN 'lang_mismatch'
      |       WHEN pcon.doc_id IS NOT NULL THEN 'contaminated'
      |       WHEN NOT clsv.cls_ok THEN 'classifier_reject'
      |       ELSE 'ok' END""".stripMargin

  private lazy val p1OracleSql: String = clsOracleWith(
    p1SharedCtes + ",\n" +
    s"""pk AS (SELECT *,
       |  min(CASE WHEN block_reason = 'ok' THEN doc_id END)
       |    OVER (PARTITION BY norm) AS keep_id,
       |  $p1PredLangCase AS pred_lang,
       |  $p1QExpr AS q
       | FROM ps2),
       |pd AS (SELECT pk.doc_id,
       |  CASE WHEN block_reason <> 'ok' THEN block_reason
       |       WHEN pk.doc_id <> keep_id THEN 'duplicate'
       |       $p1ContentGates AS reason
       | FROM pk LEFT JOIN pcon ON pk.doc_id = pcon.doc_id
       |   JOIN clsv ON pk.doc_id = clsv.doc_id)
       |SELECT doc_id, (reason = 'ok') AS keep, reason
       |FROM pd ORDER BY doc_id""".stripMargin)

  /** p2's DuckDB twin — the crawl-to-corpus funnel composed onto the p1
    * gate stack: the x43/x44 analytic canonical URL + REP verdict CTEs
    * (identity dims from doc_id, the proven frontier-oracle convention),
    * x41's analytic extraction yield (trim-collapsed 80-char chunks ≥ 25
    * chars), the fetch keeper = smallest ROBOTS-ALLOWED copy per
    * canonical group, and the norm keeper restricted to docs that
    * survived every earlier stage — then p1's content gates verbatim
    * (the shared CTE/expression strings make drift impossible).
    */
  // The composed-funnel CTEs shared VERBATIM by the p2, x48, p3 and p4
  // oracles (ONE definition, the p1SharedCtes discipline): analytic
  // canonical URL + domain, REP verdict with the allowed-keeper window,
  // x41's analytic extraction yield, and the staged pk/pd gate cascade.
  // `predLangSql` is the expression aliased `pred_lang` in pk (p2/x48/p3:
  // the x1 marker-vote CASE; p4: cls6's trained prediction via
  // `extraJoin`) — the same substitution seam the Scala side has.
  private def p2PdCtesWith(predLangSql: String,
                           extraJoin: String): String =
    s"""fu AS (
       |  SELECT doc_id,
       |    CASE WHEN (doc_id % 100) % 2 = 0 THEN 'https' ELSE 'http' END ||
       |      '://site' || ((doc_id % 100) % 7) || '.example.com/a/b' || (doc_id % 100) ||
       |      '?lang=en&q=' || ((doc_id % 100) % 11) AS canon_url,
       |    'site' || ((doc_id % 100) % 7) || '.example.com' AS domain,
       |    '/a/b' || (doc_id % 100) AS path,
       |    '/a/b' || ((doc_id % 100) % 7) AS dis,
       |    '/a/b' || ((doc_id % 100) % 7) || (((doc_id % 100) % 7 + 1) % 10) AS alw
       |  FROM documents),
       |fw AS (
       |  SELECT doc_id, canon_url, domain,
       |    CASE WHEN starts_with(path, alw) THEN true
       |         WHEN starts_with(path, dis) THEN false
       |         ELSE true END AS allowed,
       |    min(CASE WHEN (CASE WHEN starts_with(path, alw) THEN true
       |                        WHEN starts_with(path, dis) THEN false
       |                        ELSE true END) THEN doc_id END)
       |      OVER (PARTITION BY canon_url) AS url_keep_id
       |  FROM fu),
       |chk AS (
       |  SELECT doc_id,
       |    count(*) FILTER (WHERE length(ctext) >= 25) AS n_content
       |  FROM (
       |    SELECT doc_id,
       |      trim(regexp_replace(substr(text, CAST(ci*80+1 AS INT), 80), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS ctext
       |    FROM (SELECT doc_id, text, unnest(range(0, (length(text) + 79) // 80)) AS ci
       |          FROM documents))
       |  GROUP BY doc_id),
       |pk AS (SELECT ps2.*, fw.canon_url, fw.domain, fw.allowed, fw.url_keep_id,
       |  coalesce(chk.n_content, 0) AS n_content,
       |  min(CASE WHEN fw.allowed AND ps2.doc_id = fw.url_keep_id
       |        AND coalesce(chk.n_content, 0) > 0 AND block_reason = 'ok'
       |      THEN ps2.doc_id END) OVER (PARTITION BY norm) AS keep_id,
       |  $predLangSql AS pred_lang,
       |  $p1QExpr AS q
       | FROM ps2 JOIN fw ON ps2.doc_id = fw.doc_id
       |   LEFT JOIN chk ON ps2.doc_id = chk.doc_id $extraJoin),
       |pd AS (SELECT pk.doc_id, pk.canon_url, pk.domain,
       |  CASE WHEN NOT allowed THEN 'robots_disallowed'
       |       WHEN pk.doc_id <> url_keep_id THEN 'url_duplicate'
       |       WHEN n_content = 0 THEN 'no_content'
       |       WHEN block_reason <> 'ok' THEN block_reason
       |       WHEN pk.doc_id <> keep_id THEN 'duplicate'
       |       $p1ContentGates AS reason
       | FROM pk LEFT JOIN pcon ON pk.doc_id = pcon.doc_id
       |   JOIN clsv ON pk.doc_id = clsv.doc_id)""".stripMargin

  private lazy val p2PdCtes: String = p2PdCtesWith(p1PredLangCase, "")

  private lazy val p2OracleSql: String = clsOracleWith(
    p1SharedCtes + ",\n" + p2PdCtes + "\n" +
    """SELECT doc_id, canon_url, (reason = 'ok') AS keep, reason
      |FROM pd ORDER BY doc_id""".stripMargin)

  /** p4's DuckDB twin — p2's composed funnel with the lang gate fed by
    * cls6's trained prediction: the shared K-class training CTEs
    * (cls6TrainCtes, verbatim the cls6 oracle's) produce sc6, the
    * prediction frame `cl6` applies the shared priority-argmax CASE,
    * and the pd cascade is p2PdCtesWith with `cl6.pred_lang6` in place
    * of the marker-vote CASE — column substitution, nothing else.
    */
  private lazy val p4OracleSql: String = clsOracleWith(
    ",\n" + cls6TrainCtes + ",\n" +
    s"""cl6 AS MATERIALIZED (
       |  SELECT doc_id, $cls6PredCase AS pred_lang6 FROM sc6)""".stripMargin +
    p1SharedCtes + ",\n" +
    p2PdCtesWith("cl6.pred_lang6",
      "JOIN cl6 ON ps2.doc_id = cl6.doc_id") + "\n" +
    """SELECT doc_id, canon_url, (reason = 'ok') AS keep, reason
      |FROM pd ORDER BY doc_id""".stripMargin)

  /** x48's DuckDB twin — the domain rollup over p2's pd frame (shared
    * verbatim via p2PdCtes): per-(domain, reason) counts, per-domain
    * totals and keep counts, rounded rate/share.
    */
  private lazy val x48OracleSql: String = clsOracleWith(
    p1SharedCtes + ",\n" + p2PdCtes + ",\n" +
    """tot AS (
      |  SELECT domain, CAST(count(*) AS BIGINT) AS domain_total,
      |    CAST(sum(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |  FROM pd GROUP BY domain)
      |SELECT pd.domain, reason, CAST(count(*) AS BIGINT) AS n,
      |  t.domain_total, t.n_kept,
      |  round(CAST(t.n_kept AS DOUBLE) / t.domain_total, 6) AS keep_rate,
      |  round(CAST(count(*) AS DOUBLE) / t.domain_total, 6) AS share
      |FROM pd JOIN tot t USING (domain)
      |GROUP BY pd.domain, reason, t.domain_total, t.n_kept
      |ORDER BY domain, reason""".stripMargin)

  /** p3's DuckDB twin — the per-domain reputation rollup over p2's pd
    * frame and the exact integer low-reputation override (strict
    * cross-multiply, the c2 convention), mirroring the broadcast
    * feedback join column-for-column.
    */
  private lazy val p3OracleSql: String = clsOracleWith(
    p1SharedCtes + ",\n" + p2PdCtes + ",\n" +
    """rep AS (
      |  SELECT domain, CAST(count(*) AS BIGINT) AS domain_total,
      |    CAST(sum(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |  FROM pd GROUP BY domain)
      |SELECT pd.doc_id, pd.domain,
      |  (CASE WHEN r.n_kept * 100 < r.domain_total THEN 'low_reputation'
      |        ELSE pd.reason END) = 'ok' AS keep,
      |  CASE WHEN r.n_kept * 100 < r.domain_total THEN 'low_reputation'
      |       ELSE pd.reason END AS reason
      |FROM pd JOIN rep r ON pd.domain = r.domain
      |ORDER BY doc_id""".stripMargin)

  /** x49's DuckDB twin — the LCG chain (cls2's exact integer form), the
    * two cut points, the PSM/SPM re-serialization with the `<|fim|>`
    * sentinel, and the proven CRC32 table-fold over the transformed
    * bytes.
    */
  // lazy: interpolates crcTableLiteral, declared LATER in this file — a
  // plain val here would interpolate "null" (the x42CaseSql init-order trap)
  private lazy val x49OracleSql: String = {
    val outBytes =
      "list_transform(range(1, length(outt)+1), i -> CAST(unicode(outt[i]) AS BIGINT))"
    val psm = "substr(text, 1, a) || '<|fim|>' || substr(text, CAST(b + 1 AS INT)) " +
      "|| '<|fim|>' || substr(text, CAST(a + 1 AS INT), b - a)"
    val spm = "substr(text, CAST(b + 1 AS INT)) || '<|fim|>' || substr(text, 1, a) " +
      "|| '<|fim|>' || substr(text, CAST(a + 1 AS INT), b - a)"
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
       |  ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS s1
       |  FROM documents),
       |d2 AS (SELECT *, (s1 * 1103515245 + 12345) % 2147483648 AS s2 FROM d),
       |d3 AS (SELECT *, (s2 * 1103515245 + 12345) % 2147483648 AS s3 FROM d2),
       |u AS (SELECT doc_id, text, n, s1 // 65536 % 32768 AS u1,
       |  s2 // 65536 % 32768 AS u2, s3 // 65536 % 32768 AS u3 FROM d3),
       |sp AS (SELECT doc_id, text, n, u1, u1 < 16384 AS fim,
       |  CAST(u2 % (n + 1) AS INT) AS a, u3 FROM u),
       |sp2 AS (SELECT doc_id, text, n, u1, fim, a,
       |  CAST(a + u3 % (n - a + 1) AS INT) AS b FROM sp),
       |tr AS (SELECT doc_id, fim,
       |  CASE WHEN NOT fim THEN 'none'
       |       WHEN u1 % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
       |  CASE WHEN fim THEN CAST(a AS BIGINT) ELSE n END AS prefix_len,
       |  CASE WHEN fim THEN CAST(b - a AS BIGINT) ELSE CAST(0 AS BIGINT) END AS middle_len,
       |  CASE WHEN fim THEN CAST(n - b AS BIGINT) ELSE CAST(0 AS BIGINT) END AS suffix_len,
       |  CASE WHEN NOT fim THEN text
       |       WHEN u1 % 2 = 0 THEN $psm
       |       ELSE $spm END AS outt
       | FROM sp2)
       |SELECT doc_id, fim, mode, prefix_len, middle_len, suffix_len,
       |  ${crc32Sql(outBytes)} AS out_crc32
       |FROM tr, ct ORDER BY doc_id""".stripMargin
  }

  /** x50's DuckDB twin — the LCG pair count, the exact integer segment
    * boundaries, the sentinel serialization and the '0'/'1' loss-mask
    * string, with BOTH proven CRC32 table-folds (serialized bytes and
    * mask bytes). Expression strings are generated by the same Scala
    * helpers shape as the operator so the two engines can never drift.
    */
  // lazy: interpolates crcTableLiteral (the x49 init-order convention)
  private lazy val x50OracleSql: String = {
    def seg(i: Int) =
      s"substr(text, CAST(b${i - 1} + 1 AS INT), CAST(b$i - b${i - 1} AS INT))"
    def pairS(k: Int) =
      s"'<|user|>' || ${seg(2 * k - 1)} || '<|assistant|>' || " +
        s"${seg(2 * k)} || '<|end|>'"
    def maskS(k: Int) =
      s"repeat('0', CAST(21 + b${2 * k - 1} - b${2 * k - 2} AS INT)) || " +
        s"repeat('1', CAST(b${2 * k} - b${2 * k - 1} + 7 AS INT))"
    val hdr = "'<|system|>You are a helpful assistant.'"
    val bCols = (1 to 6).map(i => s"$i * n // (2 * p) AS b$i").mkString(", ")
    val outBytes =
      "list_transform(range(1, length(outt)+1), i -> CAST(unicode(outt[i]) AS BIGINT))"
    val maskBytes =
      "list_transform(range(1, length(maskt)+1), i -> CAST(unicode(maskt[i]) AS BIGINT))"
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
       |  ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS s1
       |  FROM documents),
       |u AS (SELECT doc_id, text, n, s1 // 65536 % 32768 AS u1 FROM d),
       |pp AS (SELECT doc_id, text, n, CAST(1 + u1 % 3 AS INT) AS p FROM u),
       |bb AS (SELECT *, CAST(0 AS BIGINT) AS b0 FROM pp),
       |bc AS (SELECT *, $bCols FROM bb),
       |tr AS (SELECT doc_id, p, n,
       |  CASE WHEN p = 1 THEN b2 - b1 WHEN p = 2 THEN (b2 - b1) + (b4 - b3)
       |       ELSE (b2 - b1) + (b4 - b3) + (b6 - b5) END AS asst_len,
       |  CASE WHEN p = 1 THEN $hdr || ${pairS(1)}
       |       WHEN p = 2 THEN $hdr || ${pairS(1)} || ${pairS(2)}
       |       ELSE $hdr || ${pairS(1)} || ${pairS(2)} || ${pairS(3)} END AS outt,
       |  repeat('0', 38) || (CASE WHEN p = 1 THEN ${maskS(1)}
       |       WHEN p = 2 THEN ${maskS(1)} || ${maskS(2)}
       |       ELSE ${maskS(1)} || ${maskS(2)} || ${maskS(3)} END) AS maskt
       | FROM bc)
       |SELECT doc_id, CAST(p AS BIGINT) AS n_pairs, n - asst_len AS user_len,
       |  asst_len, 38 + 28 * p + n AS out_len, asst_len + 7 * p AS mask_len,
       |  (asst_len + 7 * p) * 1000000 // (38 + 28 * p + n) AS mask_frac_micros,
       |  ${crc32Sql(outBytes)} AS out_crc32,
       |  ${crc32Sql(maskBytes)} AS mask_crc32
       |FROM tr, ct ORDER BY doc_id""".stripMargin
  }

  /** w1's DuckDB twin — every WARC record rebuilt BYTE-FOR-BYTE from
    * (doc_id, text): the x43 raw URL (shared CTEs) as Target-URI, the
    * x41 page (shared CTEs) as the HTTP body, the exact header strings
    * the builder emits, and the record offset as a per-shard running
    * sum over doc_id order — so the reader's Content-Length framing
    * arithmetic is hash-checked end to end. html_crc32 must equal
    * x41's for the same doc: the two oracles pin the same bytes from
    * opposite directions.
    *
    * BYTE-correct (no ASCII assumption): Content-Length / rec_len /
    * offsets count UTF-8 bytes via `octet_length(encode(...))` and the
    * CRC folds run over the UTF-8 byte expansion (utf8BytesSql) — the
    * wire contract the engine frames by, so the oracle gates non-ASCII
    * corpora too (tools/check_w_nonascii.py replays it on a crafted
    * one; the PAGE-synthesis CTEs stay code-point-based on both sides,
    * mirroring the engine's char-level synthesis). The one residual
    * convention: Java String ops count UTF-16 units, DuckDB length()
    * code points — identical for every BMP character; an ASTRAL char in
    * a doc body would shift the synthesized page's truncation points
    * (a synthesis divergence, not a framing one — the framing columns
    * here are byte-true regardless).
    */
  // lazy: interpolates crcTableLiteral, htmlPageCtes and x43RawUrlCtes,
  // declared LATER in this file (the x42CaseSql init-order trap)
  private lazy val w1OracleSql: String = {
    val htmlBytes = utf8BytesSql("html")
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |k AS (SELECT chr(13) || chr(10) AS crlf),
       |d AS (SELECT doc_id, text, length(text) AS n FROM documents),""".stripMargin +
      "\n" + htmlPageCtes + ",\n" + x43RawUrlCtes + ",\n" +
      s"""wrec AS (
       |  SELECT page.doc_id AS doc_id, page.doc_id // 50 AS shard_id,
       |    r.url AS url, page.html AS html,
       |    'HTTP/1.1 200 OK' || crlf || 'Content-Type: text/html' || crlf ||
       |      'Content-Length: ' || ${octLenSql("page.html")} || crlf || crlf ||
       |      page.html AS http
       |  FROM page JOIN r ON page.doc_id = r.doc_id, k),
       |wrec2 AS (
       |  SELECT doc_id, shard_id, url, html,
       |    'WARC/1.0' || crlf ||
       |      'WARC-Type: response' || crlf ||
       |      'WARC-Record-ID: <urn:graft:doc-' || doc_id || '>' || crlf ||
       |      'WARC-Date: 2024-01-01T00:00:00Z' || crlf ||
       |      'WARC-Target-URI: ' || url || crlf ||
       |      'WARC-Payload-Digest: sha256:' || sha256(html) || crlf ||
       |      'WARC-Block-Digest: sha256:' || sha256(http) || crlf ||
       |      'Content-Type: application/http;msgtype=response' || crlf ||
       |      'Content-Length: ' || ${octLenSql("http")} || crlf || crlf ||
       |      http || crlf || crlf AS rec
       |  FROM wrec, k),
       |woff AS (
       |  SELECT *, CAST(coalesce(sum(${octLenSql("rec")}) OVER (
       |      PARTITION BY shard_id ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS rec_offset
       |  FROM wrec2)
       |SELECT doc_id, shard_id, rec_offset,
       |  CAST(${octLenSql("rec")} AS BIGINT) AS rec_len,
       |  url AS target_uri, CAST(200 AS INTEGER) AS http_status,
       |  CAST(${octLenSql("html")} AS BIGINT) AS html_len,
       |  ${crc32Sql(htmlBytes)} AS html_crc32
       |FROM woff, ct ORDER BY doc_id""".stripMargin
  }

  /** w2's DuckDB twin — every WET `conversion` record rebuilt
    * byte-for-byte: the x41 main_text (shared page CTEs) as the
    * plain-text payload, the x43 raw URL as Target-URI, the exact
    * header strings the converter emits, offsets as the per-shard
    * running sum. text_crc32 is definitionally x41's main_crc32 — the
    * extraction pinned through two container round-trips.
    * Byte-correct like w1OracleSql: framing lengths via
    * octet_length(encode(...)), CRC over the UTF-8 byte expansion —
    * see the w1 scaladoc for the residual BMP synthesis convention.
    */
  // lazy: interpolates crcTableLiteral, htmlPageCtes and x43RawUrlCtes,
  // declared LATER in this file (the x42CaseSql init-order trap)
  private lazy val w2OracleSql: String = {
    val textBytes = utf8BytesSql("main_text")
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |k AS (SELECT chr(13) || chr(10) AS crlf),
       |d AS (SELECT doc_id, text, length(text) AS n FROM documents),""".stripMargin +
      "\n" + htmlPageCtes + ",\n" + x43RawUrlCtes + ",\n" +
      s"""wet AS (
       |  SELECT page.doc_id AS doc_id, page.doc_id // 50 AS shard_id,
       |    r.url AS url, page.main_text AS main_text,
       |    'WARC/1.0' || crlf ||
       |      'WARC-Type: conversion' || crlf ||
       |      'WARC-Record-ID: <urn:graft:wet-' || page.doc_id || '>' || crlf ||
       |      'WARC-Refers-To: <urn:graft:doc-' || page.doc_id || '>' || crlf ||
       |      'WARC-Date: 2024-01-01T00:00:00Z' || crlf ||
       |      'WARC-Target-URI: ' || r.url || crlf ||
       |      'WARC-Block-Digest: sha256:' || sha256(page.main_text) || crlf ||
       |      'Content-Type: text/plain' || crlf ||
       |      'Content-Length: ' || ${octLenSql("page.main_text")} || crlf || crlf ||
       |      page.main_text || crlf || crlf AS rec
       |  FROM page JOIN r ON page.doc_id = r.doc_id, k),
       |wetoff AS (
       |  SELECT *, CAST(coalesce(sum(${octLenSql("rec")}) OVER (
       |      PARTITION BY shard_id ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS rec_offset
       |  FROM wet)
       |SELECT doc_id, shard_id, rec_offset,
       |  CAST(${octLenSql("rec")} AS BIGINT) AS rec_len,
       |  url AS target_uri,
       |  CAST(${octLenSql("main_text")} AS BIGINT) AS text_len,
       |  ${crc32Sql(textBytes)} AS text_crc32
       |FROM wetoff, ct ORDER BY doc_id""".stripMargin
  }

  /** x51's DuckDB twin — the LCG cut, the same-source lead/wrap
    * partnering windows, the x50 sentinel serialization of both
    * responses, and the two proven CRC32 table-folds.
    */
  // lazy: interpolates crcTableLiteral (the x49 init-order convention)
  private lazy val x51OracleSql: String = {
    val outcBytes =
      "list_transform(range(1, length(outc)+1), i -> CAST(unicode(outc[i]) AS BIGINT))"
    val outrBytes =
      "list_transform(range(1, length(outr)+1), i -> CAST(unicode(outr[i]) AS BIGINT))"
    val wrapW = "OVER (PARTITION BY source ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |d AS (SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n,
       |  ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS s1
       |  FROM documents),
       |d2 AS (SELECT *, (s1 * 1103515245 + 12345) % 2147483648 AS s2 FROM d),
       |u AS (SELECT doc_id, source, text, n, s2 // 65536 % 32768 AS u2 FROM d2),
       |sp AS (SELECT doc_id, source, n, CAST(u2 % (n + 1) AS INT) AS a,
       |  substr(text, 1, CAST(u2 % (n + 1) AS INT)) AS prompt,
       |  substr(text, CAST(u2 % (n + 1) AS INT) + 1) AS chosen FROM u),
       |pr AS (SELECT *,
       |  coalesce(lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id),
       |    first_value(doc_id) $wrapW) AS partner_id,
       |  coalesce(lead(chosen) OVER (PARTITION BY source ORDER BY doc_id),
       |    first_value(chosen) $wrapW) AS partner_chosen
       | FROM sp),
       |tr AS (SELECT doc_id, partner_id, a, n, partner_chosen,
       |  '<|user|>' || prompt || '<|assistant|>' || chosen || '<|end|>' AS outc,
       |  '<|user|>' || prompt || '<|assistant|>' || partner_chosen || '<|end|>' AS outr
       | FROM pr)
       |SELECT doc_id, partner_id, CAST(a AS BIGINT) AS prompt_len,
       |  n - a AS chosen_len,
       |  CAST(length(partner_chosen) AS BIGINT) AS rejected_len,
       |  ${crc32Sql(outcBytes)} AS chosen_crc32,
       |  ${crc32Sql(outrBytes)} AS rejected_crc32
       |FROM tr, ct ORDER BY doc_id""".stripMargin
  }

  /** x47's DuckDB twin — the politeness schedule derived analytically:
    * the x43/x44 identity dims give canon/domain/verdict, the allowed
    * keeper window gives the fetchable work-list, row_number per domain
    * gives the slot, and the per-site Crawl-delay map (the ONE Scala
    * constant, `Urls.crawlDelayMs`, interpolated here so the two
    * engines can never drift — the x42 blocklist convention) prices it.
    */
  private val x47DelayCase: String = {
    val whens = operators.Urls.crawlDelayMs.toSeq.sorted
      .map { case (d, ms) => s"WHEN '$d' THEN $ms" }.mkString(" ")
    s"CAST(CASE domain $whens ELSE ${operators.Urls.defaultCrawlDelayMs} END AS BIGINT)"
  }
  private lazy val x47OracleSql: String =
    s"""WITH u AS (SELECT doc_id, doc_id % 100 AS k FROM documents),
      |fv AS (
      |  SELECT doc_id,
      |    CASE WHEN k % 2 = 0 THEN 'https' ELSE 'http' END ||
      |      '://site' || (k % 7) || '.example.com/a/b' || k ||
      |      '?lang=en&q=' || (k % 11) AS canon_url,
      |    'site' || (k % 7) || '.example.com' AS domain,
      |    CASE WHEN starts_with('/a/b' || k, '/a/b' || (k % 7) || (((k % 7) + 1) % 10)) THEN true
      |         WHEN starts_with('/a/b' || k, '/a/b' || (k % 7)) THEN false
      |         ELSE true END AS allowed
      |  FROM u),
      |fk AS (SELECT *,
      |  min(CASE WHEN allowed THEN doc_id END)
      |    OVER (PARTITION BY canon_url) AS keep_id
      | FROM fv),
      |fr AS (SELECT doc_id, domain, canon_url FROM fk
      |       WHERE allowed AND doc_id = keep_id),
      |sl AS (SELECT *,
      |  CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS BIGINT) AS slot,
      |  $x47DelayCase AS delay_ms
      | FROM fr)
      |SELECT doc_id, domain, canon_url, slot, delay_ms,
      |  (slot - 1) * delay_ms AS scheduled_ms
      |FROM sl ORDER BY doc_id""".stripMargin

  /** k3's DuckDB twin: the full 3-iteration spherical Lloyd refinement,
    * unrolled — assignment cosines as ORDERED list folds (round-9 leaves
    * no room for summation-order error, so no list_cosine_similarity
    * here), centroid updates as exact quantized-long component means, and
    * the final rollup with decimal cosine sums, mirroring the kernel
    * op-for-op.
    */
  private val k3OracleSql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
        s"j -> $a[CAST(j AS INT)] * $b[CAST(j AS INT)])), (s, x) -> s + x)"
    def assignCte(cents: String, name: String) =
      s"""$name AS (
         |  SELECT vn.vec_id, c.cid, vn.ve,
         |    round(${dot("vn.ve", "c.ce")} / (vn.nv * c.nc), 9) AS cos,
         |    row_number() OVER (PARTITION BY vn.vec_id
         |      ORDER BY round(${dot("vn.ve", "c.ce")} / (vn.nv * c.nc), 9) DESC, c.cid) AS rn
         |  FROM vn CROSS JOIN $cents c)""".stripMargin
    def updateCte(asg: String, name: String) =
      s"""${name}m AS (
         |  SELECT cid, CAST(r.range AS INT) AS pos,
         |    (CAST(sum(CAST(floor(ve[CAST(r.range AS INT)] * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / count(*)) / 1000000.0 AS m
         |  FROM $asg, range(1, 65) r WHERE rn = 1
         |  GROUP BY cid, r.range),
         |${name}l AS (SELECT cid, list(m ORDER BY pos) AS ce FROM ${name}m GROUP BY cid),
         |$name AS (SELECT cid, ce, sqrt(${dot("ce", "ce")}) AS nc FROM ${name}l)""".stripMargin
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
       |vn AS (SELECT vec_id, ve, sqrt(${dot("ve", "ve")}) AS nv FROM v),
       |c0 AS (SELECT vec_id AS cid, ve AS ce, sqrt(${dot("ve", "ve")}) AS nc FROM v WHERE vec_id < 8),
       |${assignCte("c0", "a0")},
       |${updateCte("a0", "c1")},
       |${assignCte("c1", "a1")},
       |${updateCte("a1", "c2")},
       |${assignCte("c2", "a2")},
       |${updateCte("a2", "c3")},
       |${assignCte("c3", "a3")}
       |SELECT cid AS centroid_id, count(*) AS n_vecs,
       |  round(CAST(sum(CAST(cos AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) + 0.0 AS avg_cos,
       |  min(vec_id) AS first_vec
       |FROM a3 WHERE rn = 1
       |GROUP BY cid ORDER BY centroid_id""".stripMargin
  }

  /** s5's IVF-PQ replayed in SQL, training included — s3's coarse
    * assignment + probes, then PQ over UNIT-NORMALIZED vectors:
    * per-component rows (j 1..64, x = ve[j]/nrm), subspace m =
    * (j-1)//subDim, local position p = (j-1)%subDim, codebook SEEDED
    * from the first kCodes vectors' normalized components and refined by
    * `trainIters` unrolled Lloyd rounds over the first `trainSample`
    * vectors only (tsc — the bounded training slice the engine samples)
    * (assignment = argmin rounded-6 squared L2 with code
    * tie-break; update = quantized-long per-component mean, the k3
    * pattern — exact sums, deterministic IEEE divisions). Encode/LUT
    * then read the TRAINED codebook: per-(vec,m,code) squared-L2 rounded
    * to 6 (absorbing the ~1e-15 engine double drift), argmin codes with
    * code tie-break, ADC = sum of the query's LUT rows at the candidate's
    * codes, shortlist by (approx, n_id), exact cosine re-rank identical
    * to s1/s3's. sc and the chained codebooks are MATERIALIZED so the
    * multiply-referenced CTEs don't re-inline (the g2 lesson).
    */
  private def s5OracleSql(trainIters: Int = 3, kCodes: Int = 32,
                          subDim: Int = 2, dim: Int = 64,
                          numQueries: Int = 5, kCells: Int = 16,
                          nProbe: Int = 4, shortlistN: Int = 40,
                          trainSample: Int = 4096): String = {
    def distCte(src: String, cbName: String, name: String, mat: Boolean) =
      s"""$name AS ${if (mat) "MATERIALIZED " else ""}(
         |  SELECT s.vec_id, s.m, c.code,
         |    round(sum((s.x - c.x) * (s.x - c.x)), 6) AS d2
         |  FROM $src s JOIN $cbName c ON c.m = s.m AND c.p = s.p
         |  GROUP BY 1, 2, 3)""".stripMargin
    val trainCtes = (0 until trainIters).map { k =>
      s"""${distCte("tsc", s"cb$k", s"td$k", mat = false)},
         |ta$k AS (SELECT vec_id, m, code FROM (
         |    SELECT vec_id, m, code, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2, code) AS rn
         |    FROM td$k) WHERE rn = 1),
         |cb${k + 1} AS MATERIALIZED (
         |  SELECT a.m, a.code, s.p,
         |    CAST(sum(CAST(floor(s.x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / count(*) / 1000000.0 AS x
         |  FROM ta$k a JOIN tsc s ON s.vec_id = a.vec_id AND s.m = a.m
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
       |w AS (SELECT vec_id, ve,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(ve, x -> x * x)),
       |         (s, y) -> s + y)) AS nrm FROM v),
       |nc AS (SELECT w.vec_id, CAST(r.range AS INT) AS j,
       |    ve[CAST(r.range AS INT)] / nrm AS x
       |  FROM w, range(1, ${dim + 1}) r),
       |sc AS MATERIALIZED (SELECT vec_id, (j - 1) // $subDim AS m,
       |    (j - 1) % $subDim AS p, x FROM nc),
       |tsc AS MATERIALIZED (SELECT * FROM sc WHERE vec_id < $trainSample),
       |cb0 AS (SELECT vec_id AS code, m, p, x FROM sc WHERE vec_id < $kCodes),
       |${if (trainIters > 0) trainCtes + ",\n" else ""}c AS (SELECT vec_id AS cell, ve AS ce FROM v WHERE vec_id < $kCells),
       |a AS (SELECT v.vec_id, c.cell,
       |        row_number() OVER (PARTITION BY v.vec_id
       |          ORDER BY round(list_cosine_similarity(ve, ce), 6) DESC, c.cell) AS rn
       |      FROM v CROSS JOIN c),
       |asg AS (SELECT vec_id AS n_id, cell FROM a WHERE rn = 1),
       |${distCte("sc", s"cb$trainIters", "dist", mat = true)},
       |codes AS (SELECT vec_id, m, code FROM (
       |            SELECT vec_id, m, code,
       |              row_number() OVER (PARTITION BY vec_id, m
       |                ORDER BY d2, code) AS rn
       |            FROM dist) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < $numQueries),
       |p AS (SELECT q_id, cell,
       |        row_number() OVER (PARTITION BY q_id
       |          ORDER BY round(list_cosine_similarity(qe, ce), 6) DESC, cell) AS prn
       |      FROM q CROSS JOIN c),
       |probes AS (SELECT q_id, cell FROM p WHERE prn <= $nProbe),
       |adc AS (SELECT pr.q_id, pr.n_id, round(sum(l.d2), 6) AS approx
       |        FROM (SELECT probes.q_id, asg.n_id
       |              FROM probes JOIN asg USING (cell)
       |              WHERE asg.n_id <> probes.q_id) pr
       |        JOIN codes cd ON cd.vec_id = pr.n_id
       |        JOIN dist l ON l.vec_id = pr.q_id AND l.m = cd.m
       |          AND l.code = cd.code
       |        GROUP BY 1, 2),
       |short AS (SELECT q_id, n_id FROM (
       |            SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |              ORDER BY approx, n_id) AS srn
       |            FROM adc) WHERE srn <= $shortlistN),
       |scored AS (SELECT s.q_id, s.n_id,
       |             round(list_cosine_similarity(qv.ve, nv.ve), 6) + 0.0 AS cosim
       |           FROM short s JOIN v qv ON qv.vec_id = s.q_id
       |           JOIN v nv ON nv.vec_id = s.n_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY cosim DESC, n_id) AS BIGINT) AS rnk FROM scored)
       |SELECT q_id, n_id, cosim, rnk FROM r WHERE rnk <= 10
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** x23/x24's BPE training replayed in SQL: the 10 merge steps unrolled,
    * each = adjacent-pair count (lead window) over the current symbol
    * state, argmax (count desc, pair asc), and the kernel's leftmost-
    * non-overlapping rewrite expressed with windows — inside a run of
    * consecutive matches (only possible when left = right) exactly the
    * alternating offsets from the run head merge, which is what the
    * sequential scan does. States and argmaxes are MATERIALIZED so the
    * chained references don't re-inline exponentially. The final state
    * doubles as the trained tokenizer: x24 joins its per-word symbol
    * counts back to the per-source frequency table.
    */
  private val bpeSt0Cte: String =
    """st0 AS MATERIALIZED (
      |  SELECT wd, pos, wd[pos] AS sym FROM (
      |    SELECT wd, CAST(unnest(range(1, length(wd)+1)) AS INT) AS pos FROM f))""".stripMargin

  private val bpeChainCtes: String = (0 until 10).map { k =>
    s"""pc$k AS (
       |  SELECT sym AS l, nx AS r, sum(freq) AS n
       |  FROM (SELECT wd, sym, lead(sym) OVER (PARTITION BY wd ORDER BY pos) AS nx FROM st$k) sx
       |  JOIN f ON f.wd = sx.wd
       |  WHERE nx IS NOT NULL GROUP BY sym, nx),
       |bp$k AS MATERIALIZED (SELECT l, r, n FROM pc$k ORDER BY n DESC, l, r LIMIT 1),
       |mt$k AS (
       |  SELECT sx.wd, sx.pos, sx.sym, b.l, b.r,
       |         coalesce(sx.sym = b.l AND lead(sx.sym) OVER (PARTITION BY sx.wd ORDER BY sx.pos) = b.r, false) AS m
       |  FROM st$k sx CROSS JOIN bp$k b),
       |hd$k AS (
       |  SELECT *, (m AND NOT coalesce(lag(m) OVER (PARTITION BY wd ORDER BY pos), false)) AS is_head
       |  FROM mt$k),
       |rn$k AS (
       |  SELECT *, max(CASE WHEN is_head THEN pos END)
       |           OVER (PARTITION BY wd ORDER BY pos ROWS UNBOUNDED PRECEDING) AS head
       |  FROM hd$k),
       |mg$k AS (SELECT *, (m AND (pos - head) % 2 = 0) AS mg FROM rn$k),
       |pm$k AS (
       |  SELECT *, coalesce(lag(mg) OVER (PARTITION BY wd ORDER BY pos), false) AS pm FROM mg$k),
       |st${k + 1} AS MATERIALIZED (
       |  SELECT wd, CAST(row_number() OVER (PARTITION BY wd ORDER BY pos) AS INT) AS pos,
       |         CASE WHEN mg THEN l || r ELSE sym END AS sym
       |  FROM pm$k WHERE NOT pm)""".stripMargin
  }.mkString(",\n")

  private val x23OracleSql: String = {
    val out = (0 until 10).map { k =>
      s"""SELECT $k AS rank, l AS "left", r AS "right", CAST(n AS BIGINT) AS pair_count FROM bp$k"""
    }.mkString("\nUNION ALL ")
    s"""WITH f AS MATERIALIZED (
       |  SELECT wd, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents) GROUP BY wd),
       |$bpeSt0Cte,
       |$bpeChainCtes
       |SELECT * FROM ($out) ORDER BY rank""".stripMargin
  }

  private val x24OracleSql: String =
    s"""WITH srcf AS MATERIALIZED (
       |  SELECT source, wd, count(*) AS freq
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS wd FROM documents) GROUP BY source, wd),
       |f AS MATERIALIZED (SELECT wd, sum(freq) AS freq FROM srcf GROUP BY wd),
       |$bpeSt0Cte,
       |$bpeChainCtes,
       |lens AS (SELECT wd, count(*) AS toks FROM st10 GROUP BY wd)
       |SELECT source,
       |  CAST(sum(freq) AS BIGINT) AS ws_tokens,
       |  CAST(sum(length(wd) * freq) AS BIGINT) AS chars,
       |  CAST(sum(toks * freq) AS BIGINT) AS bpe_tokens,
       |  round(CAST(sum(length(wd) * freq) AS DOUBLE) / sum(toks * freq), 4) AS chars_per_token
       |FROM srcf JOIN lens USING (wd)
       |GROUP BY source ORDER BY source""".stripMargin

  /** x46's DuckDB twin: the shared 10-step training chain's final state
    * (st10) is the tokenizer; the dictionary ranks corpus alphabet ∪
    * merge products in byte order; per-word id strings join back to the
    * documents' word sequence and the comma-joined id stream is pinned
    * by the same CRC32 fold as the engine's audit row. LEFT JOIN +
    * coalesce so an empty-text doc still audits (0 tokens, CRC of '').
    */
  private lazy val x46OracleSql: String = {
    val msym = (0 until 10).map(k => s"SELECT l || r AS sym FROM bp$k")
      .mkString(" UNION ")
    val idBytes =
      "list_transform(range(1, length(idstr)+1), i -> CAST(unicode(idstr[i]) AS BIGINT))"
    s"""WITH f AS MATERIALIZED (
       |  SELECT wd, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents) GROUP BY wd),
       |$bpeSt0Cte,
       |$bpeChainCtes,
       |ct AS (SELECT $crcTableLiteral AS tbl),
       |alpha AS (SELECT DISTINCT sym FROM st0),
       |dict AS MATERIALIZED (
       |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS tid
       |  FROM (SELECT sym FROM alpha UNION $msym)),
       |wids AS MATERIALIZED (
       |  SELECT st10.wd, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS idstr,
       |         count(*) AS n
       |  FROM st10 JOIN dict USING (sym) GROUP BY st10.wd),
       |docw AS (
       |  SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS wd,
       |    CAST(unnest(range(1, len(string_split(text, ' ')) + 1)) AS INT) AS ord
       |  FROM documents),
       |perdoc AS MATERIALIZED (
       |  SELECT doc_id, string_agg(idstr, ',' ORDER BY ord) AS idstr,
       |         CAST(sum(n) AS BIGINT) AS n_tokens
       |  FROM docw JOIN wids USING (wd) GROUP BY doc_id),
       |ids AS (
       |  SELECT d.doc_id, coalesce(p.idstr, '') AS idstr,
       |         coalesce(p.n_tokens, 0) AS n_tokens
       |  FROM documents d LEFT JOIN perdoc p USING (doc_id))
       |SELECT doc_id, n_tokens,
       |  ${crc32Sql(idBytes)} AS ids_crc32
       |FROM ids, ct
       |ORDER BY doc_id""".stripMargin
  }

  /** The m-family oracles rebuild the synthesized media payloads in SQL —
    * byte-exact BMP/WAV containers as integer lists from (doc_id, text),
    * little-endian header fields spelled as div/mod arithmetic — and run
    * CRC32 (reflected 0xEDB88320, java.util.zip semantics) as a
    * list_reduce fold over a 256-entry literal table. Everything the
    * mapPartitions decoders emit (headers parsed back, chunk/frame CRCs,
    * decoded-pixel aHashes) is thereby replayed bit-for-bit.
    */
  private val crcTableLiteral: String = {
    val tbl = (0 until 256).map { i =>
      var c = i.toLong
      (0 until 8).foreach { _ =>
        c = if ((c & 1) == 1) (c >>> 1) ^ 0xEDB88320L else c >>> 1
      }
      c
    }
    tbl.mkString("[", ",", "]")
  }

  private def crc32Sql(listExpr: String): String =
    s"xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), " +
      s"list_transform($listExpr, x -> CAST(x AS BIGINT))), " +
      s"(c, b) -> xor(tbl[CAST(xor(c, b) % 256 AS INT) + 1], c // 256)), 4294967295)"

  /** UTF-8 BYTE list of a DuckDB string expression — the byte-correct
    * form of the per-char `unicode()` fold, for oracles that must CRC
    * and count the WIRE bytes (the w-family): each code point expands
    * to its UTF-8 encoding, so the oracle hashes exactly what the
    * engine frames, ASCII or not (astral code points included — DuckDB
    * indexes strings by code point, so the 4-byte branch sees the full
    * scalar value, never surrogate halves).
    */
  private def utf8BytesSql(s: String): String =
    s"flatten(list_transform(" +
      s"list_transform(range(1, length($s)+1), i -> unicode(($s)[i])), " +
      "c -> CASE " +
      "WHEN c < 128 THEN [CAST(c AS BIGINT)] " +
      "WHEN c < 2048 THEN [CAST(192 + c // 64 AS BIGINT), " +
      "CAST(128 + c % 64 AS BIGINT)] " +
      "WHEN c < 65536 THEN [CAST(224 + c // 4096 AS BIGINT), " +
      "CAST(128 + (c // 64) % 64 AS BIGINT), CAST(128 + c % 64 AS BIGINT)] " +
      "ELSE [CAST(240 + c // 262144 AS BIGINT), " +
      "CAST(128 + (c // 4096) % 64 AS BIGINT), " +
      "CAST(128 + (c // 64) % 64 AS BIGINT), " +
      "CAST(128 + c % 64 AS BIGINT)] END))"

  /** UTF-8 byte LENGTH of a DuckDB string expression — the byte-correct
    * `length()` for wire-framing oracles.
    */
  private def octLenSql(s: String): String = s"octet_length(encode($s))"

  private def le4(v: String): String =
    s"[($v) % 256, (($v) // 256) % 256, (($v) // 65536) % 256, (($v) // 16777216) % 256]"
  private def le2(v: String): String = s"[($v) % 256, (($v) // 256) % 256]"

  /** documents → (doc_id, n, tb): text as a byte list (ASCII corpus, so
    * codepoints are UTF-8 bytes), optionally filtered by modality.
    */
  private def textBytesCte(mod: String): String =
    s"""d AS (SELECT doc_id, length(text) AS n,
       |      list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS BIGINT)) AS tb
       |      FROM documents$mod)""".stripMargin

  /** The synthesized media corpus (m1's payload reconstruction: BMP/WAV
    * headers + text bytes, raw video) as CTEs ending in `allm` — shared
    * by the m1 metadata oracle and the m6 exact-dedup oracle.
    */
  private val mediaAllmCtes: String =
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |${textBytesCte("")},
       |img0 AS (
       |  SELECT doc_id, n, tb,
       |    CAST(1 + (doc_id % 31) AS BIGINT) AS w,
       |    CAST(1 + (doc_id % 17) AS BIGINT) AS h
       |  FROM d WHERE doc_id % 3 = 0),
       |img1 AS (SELECT *, (((w*3 + 3) // 4) * 4) * h AS dataLen FROM img0),
       |img AS (
       |  SELECT doc_id, 'image' AS media_type, 'bmp' AS format,
       |    54 + dataLen AS byte_len,
       |    [66, 77] || ${le4("54 + dataLen")} || [0,0,0,0] || ${le4("54")}
       |      || ${le4("40")} || ${le4("w")} || ${le4("h")} || ${le2("1")} || ${le2("24")}
       |      || ${le4("0")} || ${le4("dataLen")} || ${le4("2835")} || ${le4("2835")} || ${le4("0")} || ${le4("0")}
       |      || list_transform(range(0, dataLen), i -> tb[CAST(i % n AS INT) + 1]) AS payload,
       |    CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       |    0 AS sample_rate, 1 AS n_frames, CAST(0 AS BIGINT) AS duration_ms
       |  FROM img1),
       |aud0 AS (
       |  SELECT doc_id, n, tb,
       |    8000 + 4000 * CAST((doc_id // 3) % 3 AS BIGINT) AS rate,
       |    n + (n % 2) AS dataLen
       |  FROM d WHERE doc_id % 3 = 1),
       |aud AS (
       |  SELECT doc_id, 'audio' AS media_type, 'wav' AS format,
       |    44 + dataLen AS byte_len,
       |    [82,73,70,70] || ${le4("36 + dataLen")} || [87,65,86,69]
       |      || [102,109,116,32] || ${le4("16")} || ${le2("1")} || ${le2("1")}
       |      || ${le4("rate")} || ${le4("rate * 2")} || ${le2("2")} || ${le2("16")}
       |      || [100,97,116,97] || ${le4("dataLen")}
       |      || tb || CASE WHEN n % 2 = 1 THEN [CAST(0 AS BIGINT)] ELSE [] END AS payload,
       |    0 AS width, 0 AS height, CAST(rate AS INT) AS sample_rate,
       |    CAST(dataLen // 2 AS INT) AS n_frames,
       |    CAST((dataLen // 2) * 1000 // rate AS BIGINT) AS duration_ms
       |  FROM aud0),
       |vid AS (
       |  SELECT doc_id, 'video' AS media_type, 'raw' AS format,
       |    CAST(n AS BIGINT) AS byte_len, tb AS payload,
       |    0 AS width, 0 AS height, 0 AS sample_rate,
       |    CAST(n // 1024 + 1 AS INT) AS n_frames, CAST(0 AS BIGINT) AS duration_ms
       |  FROM d WHERE doc_id % 3 = 2),
       |allm AS (SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid)""".stripMargin

  // NOTE: concatenated, NOT interpolated-then-stripMargin'd — the shared
  // CTE text contains `||` list concats at line heads, which a second
  // stripMargin pass would mangle into bitwise `|`.
  private val m1OracleSql: String =
    mediaAllmCtes + "\n" +
      s"""SELECT doc_id, media_type, format, byte_len,
         |  ${crc32Sql("payload")} AS crc32,
         |  width, height, sample_rate, n_frames, duration_ms
         |FROM allm, ct
         |ORDER BY doc_id""".stripMargin

  /** m6: byte-identical media dedup replayed over the reconstructed
    * payloads — fingerprint per blob, then group.
    */
  private val m6OracleSql: String =
    mediaAllmCtes + ",\n" +
      s"""fp AS (
         |  SELECT doc_id, media_type, byte_len,
         |    ${crc32Sql("payload")} AS crc32
         |  FROM allm, ct)
         |SELECT media_type, byte_len, crc32,
         |  min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM fp GROUP BY 1, 2, 3
         |ORDER BY media_type, keep_id""".stripMargin

  /** x41's DuckDB twin — rebuilds the synthesized page BYTE-FOR-BYTE from
    * (doc_id, text) with the same concat/escape rules as `Html.buildHtml`
    * (html_len / html_crc32 pin the container, the m1 convention), and
    * derives the expected extraction ANALYTICALLY from the synthesis: the
    * main blocks are the trim-collapsed 80-char chunks (kept iff ≥ 25
    * chars — they carry no anchors, so the density rule never fires on
    * them), and every wrapper block's collapsed length follows from the
    * id-derived boilerplate text (title 4+len(id), h1 6, nav
    * 12+len(id%13), link box 38, ad 18 on id%5=0, rel box 19, footer 24
    * — all below the length rule or above the 1/3 anchor-density rule by
    * construction, which the TagWalkBlocker specs pin block-by-block).
    */
  /** The synthesized page rebuilt in SQL from (doc_id, text) — x41's
    * byte-for-byte `Html.buildHtml` replica plus the analytic chunk
    * accounting, as CTEs ending in `page (doc_id, html, n_chunks,
    * n_content, short_len, main_text)`; requires a `d (doc_id, text, n)`
    * CTE upstream. Shared by the x41 oracle and w1's WARC-record
    * rebuild (the HTTP payload body), so the two can never drift.
    * Concatenated, NOT re-stripMargin'd, by its users (the
    * mediaAllmCtes convention).
    */
  private val htmlPageCtes: String =
    s"""ch AS MATERIALIZED (
       |  SELECT doc_id, CAST(ci AS INT) AS ci,
       |    trim(regexp_replace(substr(text, CAST(ci*80+1 AS INT), 80), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS ctext,
       |    replace(replace(replace(substr(text, CAST(ci*80+1 AS INT), 80), '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS cesc
       |  FROM (SELECT doc_id, text, unnest(range(0, (n + 79) // 80)) AS ci FROM d)),
       |agg AS MATERIALIZED (
       |  SELECT doc_id,
       |    count(*) FILTER (WHERE length(ctext) > 0) AS n_chunks,
       |    count(*) FILTER (WHERE length(ctext) >= 25) AS n_content,
       |    coalesce(sum(length(ctext)) FILTER (WHERE length(ctext) > 0 AND length(ctext) < 25), 0) AS short_len,
       |    coalesce(string_agg(ctext, chr(10) ORDER BY ci) FILTER (WHERE length(ctext) >= 25), '') AS main_text,
       |    coalesce(string_agg('<p>' || cesc || '</p>', '' ORDER BY ci), '') AS pblock
       |  FROM ch GROUP BY doc_id),
       |page AS MATERIALIZED (
       |  -- LEFT join + coalesce: an empty-text doc has zero chunk rows but
       |  -- the engine still audits its (boilerplate-only) page
       |  SELECT d.doc_id,
       |    '<html><head><title>Doc ' || d.doc_id || '</title><style>body{font-size:12px;color:#222}</style><script>var page=' || d.doc_id || ';track(page);</script></head><body><header><h1>Site ' || (d.doc_id % 7) || '</h1></header><nav><a href="/home">home</a> <a href="/about">about</a> <a href="/p' || (d.doc_id % 13) || '">p' || (d.doc_id % 13) || '</a></nav><div class="links"><a href="/l0">link zero</a> <a href="/l1">link one</a> <a href="/l2">link two</a> <a href="/l3">link three</a></div><div class="main">' || coalesce(pblock, '') || CASE WHEN d.doc_id % 5 = 0 THEN '<p class="ad"><a href="/buy">buy now</a> <a href="/deal">deal</a> promo</p>' ELSE '' END || '</div><div class="rel"><a href="/a/b' || (((d.doc_id % 100) + 7) % 100) || '">r one</a> <a href="/a/x/../b' || (((d.doc_id % 100) + 14) % 100) || '/">r two</a> <a href="' || CASE WHEN (((d.doc_id % 100) + 1) % 100) % 2 = 0 THEN 'HTTPS' ELSE 'HTTP' END || '://www.Site' || ((((d.doc_id % 100) + 1) % 100) % 7) || '.Example.Com' || CASE WHEN (((d.doc_id % 100) + 1) % 100) % 2 = 0 THEN ':443' ELSE ':80' END || '/a/b' || (((d.doc_id % 100) + 1) % 100) || '?lang=en&q=' || ((((d.doc_id % 100) + 1) % 100) % 11) || '&utm_source=x#f">r three</a></div><footer>(c) site ' || (d.doc_id % 7) || ' <a href="/terms">terms</a> <a href="/privacy">privacy</a></footer></body></html>' AS html,
       |    coalesce(n_chunks, 0) AS n_chunks,
       |    coalesce(n_content, 0) AS n_content,
       |    coalesce(short_len, 0) AS short_len,
       |    coalesce(main_text, '') AS main_text
       |  FROM d LEFT JOIN agg USING (doc_id))""".stripMargin

  private val x41OracleSql: String = {
    val htmlBytes =
      "list_transform(range(1, length(html)+1), i -> CAST(unicode(html[i]) AS BIGINT))"
    val mainBytes =
      "list_transform(range(1, length(main_text)+1), i -> CAST(unicode(main_text[i]) AS BIGINT))"
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |d AS (SELECT doc_id, text, length(text) AS n FROM documents),""".stripMargin +
      "\n" + htmlPageCtes + "\n" +
      s"""SELECT doc_id,
       |  CAST(length(html) AS BIGINT) AS html_len,
       |  ${crc32Sql(htmlBytes)} AS html_crc32,
       |  CAST(6 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END + n_chunks AS BIGINT) AS n_blocks,
       |  CAST(n_content AS BIGINT) AS n_content,
       |  CAST(6 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END + n_chunks - n_content AS BIGINT) AS n_boiler,
       |  CAST(length(main_text) AS BIGINT) AS main_len,
       |  ${crc32Sql(mainBytes)} AS main_crc32,
       |  CAST(4 + length(CAST(doc_id AS VARCHAR)) + 6 + 12 + length(CAST(doc_id % 13 AS VARCHAR)) + 38 + CASE WHEN doc_id % 5 = 0 THEN 18 ELSE 0 END + 19 + 24 + short_len AS BIGINT) AS boiler_len
       |FROM page, ct
       |ORDER BY doc_id""".stripMargin
  }

  /** The x43 raw URL rebuilt in SQL — `Urls.buildUrl`'s full spelling
    * variance (scheme/www/host case, default ports, dot-segments,
    * percent-encoding, tracking junk, fragments) plus the analytic
    * canonical form, as CTEs ending in `r (doc_id, url, canon_url)`.
    * Shared by the x43 oracle and w1's WARC-record rebuild (the
    * Target-URI header), so the two can never drift. Declared BEFORE
    * the oracle map so the val initializer order can never interpolate
    * null.
    */
  private val x43RawUrlCtes: String =
    """u AS (
      |  SELECT doc_id, doc_id % 100 AS k,
      |    (doc_id % 100) % 2 = 0 AS https,
      |    CASE doc_id % 7
      |      WHEN 0 THEN '/a/b' || (doc_id % 100) || '/'
      |      WHEN 1 THEN '/a/./b' || (doc_id % 100)
      |      WHEN 2 THEN '/a/x/../b' || (doc_id % 100) || '/'
      |      WHEN 3 THEN '/./a/b' || (doc_id % 100)
      |      WHEN 4 THEN '/a//b' || (doc_id % 100)
      |      WHEN 5 THEN '/a/b' || (doc_id % 100) || '/c/..'
      |      ELSE '/a/b' || (doc_id % 100) END AS p
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3
      |      WHEN 0 THEN CASE WHEN https THEN 'https' ELSE 'http' END
      |      WHEN 1 THEN CASE WHEN https THEN 'HTTPS' ELSE 'HTTP' END
      |      ELSE CASE WHEN https THEN 'Https' ELSE 'Http' END END
      |    || '://'
      |    || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
      |    || CASE doc_id % 5
      |         WHEN 0 THEN 'SITE' || (k % 7) || '.EXAMPLE.COM'
      |         WHEN 1 THEN 'Site' || (k % 7) || '.Example.Com'
      |         ELSE 'site' || (k % 7) || '.example.com' END
      |    || CASE WHEN doc_id % 4 = 0 THEN
      |         CASE WHEN https THEN ':443' ELSE ':80' END ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0
      |         THEN replace(p, '/a/', '/%61/') ELSE p END
      |    || '?'
      |    || CASE WHEN doc_id % 2 = 0 THEN 'q=' || (k % 11) || '&lang=en'
      |            ELSE 'lang=en&q=' || (k % 11) END
      |    || CASE doc_id % 3 WHEN 0 THEN
      |            '&utm' || CASE WHEN doc_id % 2 = 0 THEN '%5F' ELSE '_' END
      |            || 'source=s' || (doc_id % 9)
      |            WHEN 1 THEN '&ref=tw' ELSE '' END
      |    || CASE WHEN doc_id % 2 = 1 THEN '#sec' || (doc_id % 4)
      |            ELSE '' END AS url,
      |    CASE WHEN https THEN 'https' ELSE 'http' END
      |    || '://site' || (k % 7) || '.example.com/a/b' || k
      |    || '?lang=en&q=' || (k % 11) AS canon_url
      |  FROM u)""".stripMargin

  /** x45's analytic edge list — the synthesized page's anchors with their
    * resolved canonical targets, derived from the same identity dims as
    * the x43 oracle (host/scheme/page family) and the buildHtml anchor
    * inventory (nav, link box, ad on id%5=0, rel box, footer). Shared by
    * the x45 and g3 oracles. Declared BEFORE the oracle map so the val
    * initializer order can never interpolate null.
    */
  private val x45EdgesCte: String =
    """u AS MATERIALIZED (
      |  SELECT doc_id, doc_id % 100 AS k,
      |    ((doc_id % 100) + 1) % 100 AS t,
      |    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END
      |      || '://site' || ((doc_id % 100) % 7) || '.example.com' AS host
      |  FROM documents),
      |uu AS MATERIALIZED (
      |  SELECT doc_id, k, t, host,
      |    host || '/a/b' || k || '?lang=en&q=' || (k % 11) AS src
      |  FROM u),
      |ed AS MATERIALIZED (
      |  SELECT doc_id, src, '/home' AS href, host || '/home' AS dst_url FROM uu
      |  UNION ALL SELECT doc_id, src, '/about', host || '/about' FROM uu
      |  UNION ALL SELECT doc_id, src, '/p' || (doc_id % 13), host || '/p' || (doc_id % 13) FROM uu
      |  UNION ALL SELECT doc_id, src, '/l0', host || '/l0' FROM uu
      |  UNION ALL SELECT doc_id, src, '/l1', host || '/l1' FROM uu
      |  UNION ALL SELECT doc_id, src, '/l2', host || '/l2' FROM uu
      |  UNION ALL SELECT doc_id, src, '/l3', host || '/l3' FROM uu
      |  UNION ALL SELECT doc_id, src, '/buy', host || '/buy' FROM uu WHERE doc_id % 5 = 0
      |  UNION ALL SELECT doc_id, src, '/deal', host || '/deal' FROM uu WHERE doc_id % 5 = 0
      |  UNION ALL SELECT doc_id, src, '/a/b' || ((k + 7) % 100), host || '/a/b' || ((k + 7) % 100) FROM uu
      |  UNION ALL SELECT doc_id, src, '/a/x/../b' || ((k + 14) % 100) || '/', host || '/a/b' || ((k + 14) % 100) FROM uu
      |  UNION ALL SELECT doc_id, src,
      |      CASE WHEN t % 2 = 0 THEN 'HTTPS' ELSE 'HTTP' END || '://www.Site' || (t % 7)
      |        || '.Example.Com' || CASE WHEN t % 2 = 0 THEN ':443' ELSE ':80' END
      |        || '/a/b' || t || '?lang=en&q=' || (t % 11) || '&utm_source=x#f',
      |      CASE WHEN t % 2 = 0 THEN 'https' ELSE 'http' END || '://site' || (t % 7)
      |        || '.example.com/a/b' || t || '?lang=en&q=' || (t % 11)
      |    FROM uu
      |  UNION ALL SELECT doc_id, src, '/terms', host || '/terms' FROM uu
      |  UNION ALL SELECT doc_id, src, '/privacy', host || '/privacy' FROM uu)""".stripMargin

  /** The x42 first-failing-rule CASE over (source, text) columns with the
    * blocklists interpolated from the ONE Scala definition in Curation
    * (domains/words/phrases can never drift between engines) — shared by
    * the standalone x42 oracle and the p1 composition oracle, mirroring
    * how `Curation.blocklistReason` serves both operators.
    */
  // lazy: referenced by p1OracleSql, whose val initializer runs EARLIER in
  // this file — a plain val would interpolate as "null" (Scala init order)
  private lazy val x42CaseSql: String = {
    // blocklist entries land inside SQL string literals: escape embedded
    // quotes so a future entry like "don't" can't malform the oracle
    def q(s: String): String = s"'${s.replace("'", "''")}'"
    val domains = operators.Curation.blockedDomains.map(q).mkString(", ")
    val words = operators.Curation.blockedWords.map(q).mkString(", ")
    val phrases = operators.Curation.blockedPhrases
      .map(p => s"contains(lower(text), ${q(p)})").mkString(" OR ")
    s"CASE WHEN source IN ($domains) THEN 'blocked_domain' " +
      s"WHEN len(list_intersect(string_split(lower(text), ' '), [$words])) > 0 THEN 'blocked_word' " +
      s"WHEN $phrases THEN 'blocked_phrase' " +
      "WHEN contains(text, '{') OR contains(lower(text), 'javascript') THEN 'markup' " +
      "ELSE 'ok' END"
  }

  /** x42's DuckDB twin — the shared CASE over the raw corpus. */
  private val x42OracleSql: String =
    s"""SELECT doc_id, reason = 'ok' AS keep, reason FROM (
       |  SELECT doc_id, $x42CaseSql AS reason
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  private val m2OracleSql: String =
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |${textBytesCte(" WHERE doc_id % 3 = 2")},
       |fr AS (
       |  -- per-doc frame bound via the scalar list form: the table
       |  -- function range() only takes constants, and a global literal
       |  -- bound would silently truncate long documents
       |  SELECT doc_id, n, tb, CAST(f AS INT) AS frame_idx
       |  FROM (SELECT doc_id, n, tb, unnest(range(0, n // 1024 + 1)) AS f FROM d)
       |  WHERE f % 4 = 0)
       |SELECT doc_id, frame_idx, CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
       |  ${crc32Sql("tb[CAST((frame_idx*64) % greatest(1, n) AS INT) + 1 : CAST((frame_idx*64) % greatest(1, n) AS INT) + least(64, n)]")} AS frame_crc
       |FROM fr, ct
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** m7's DuckDB twin — the raw-fallback scene segmentation replayed
    * naively: contiguous 128-byte frame groups, whole-frame 16-bin byte
    * histograms as list_transform/list_filter, adjacent L1 via a zipped
    * fold, the integer cross-multiplied cut rule over per-frame masses
    * (the last short frame's smaller mass included), scene ids as a
    * cumulative cut sum, then one run-length aggregate.
    */
  private val m7SceneCtes: String =
    s"""WITH ${textBytesCte(" WHERE doc_id % 3 = 2")},
       |fr AS (
       |  SELECT doc_id, n, tb, CAST(f AS INT) AS frame_idx
       |  FROM (SELECT doc_id, n, tb,
       |        unnest(range(0, greatest(1, (n + 127) // 128))) AS f FROM d)),
       |sl AS (
       |  SELECT doc_id, frame_idx,
       |    tb[frame_idx*128 + 1 : CAST(least(n, frame_idx*128 + 128) AS INT)] AS slice
       |  FROM fr),
       |hs AS MATERIALIZED (
       |  SELECT doc_id, frame_idx, length(slice) AS mass,
       |    list_transform(range(0, 16), k -> length(list_filter(slice, b -> b // 16 = k))) AS h
       |  FROM sl),
       |lg AS (
       |  SELECT doc_id, frame_idx, h, mass,
       |    lag(h) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS ph,
       |    lag(mass) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS pmass
       |  FROM hs),
       |cf AS (
       |  SELECT doc_id, frame_idx,
       |    CASE WHEN ph IS NULL THEN 0
       |      WHEN list_reduce(list_prepend(0,
       |          list_transform(range(1, 17), i -> abs(h[CAST(i AS INT)] - ph[CAST(i AS INT)]))),
       |        (a, b) -> a + b) * 1000 > 250 * (mass + pmass)
       |      THEN 1 ELSE 0 END AS cut
       |  FROM lg),
       |sc AS (
       |  SELECT doc_id, frame_idx,
       |    sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS scene
       |  FROM cf)""".stripMargin

  private val m7OracleSql: String = m7SceneCtes + "\n" +
    s"""SELECT doc_id, CAST(scene AS INT) AS scene_idx,
       |  CAST(min(frame_idx) AS INT) AS start_frame,
       |  CAST(max(frame_idx) AS INT) AS end_frame,
       |  CAST(count(*) AS INT) AS n_frames,
       |  CAST(min(frame_idx) * 40 AS BIGINT) AS start_ms,
       |  CAST(max(frame_idx) * 40 AS BIGINT) AS end_ms
       |FROM sc GROUP BY 1, 2
       |ORDER BY doc_id, scene_idx""".stripMargin

  /** m8's DuckDB twin: m7's segmentation CTEs verbatim, then the middle
    * frame per scene (min + (max−min)//2 — frame indices in a scene are
    * consecutive, so this IS the middle of the run), re-joined to the
    * histogram CTE for the dominant-bin argmax (list_position finds the
    * FIRST max, matching the Spark side's lowest-bin tie rule).
    */
  private val m8OracleSql: String = m7SceneCtes + "\n" +
    s""", kf AS (
         |  SELECT doc_id, CAST(scene AS INT) AS scene_idx,
         |    CAST(min(frame_idx) + (max(frame_idx) - min(frame_idx)) // 2 AS INT)
         |      AS keyframe_idx
         |  FROM sc GROUP BY 1, 2)
         |SELECT kf.doc_id, kf.scene_idx, kf.keyframe_idx,
         |  CAST(kf.keyframe_idx * 40 AS BIGINT) AS ts_ms,
         |  CAST(list_position(h.h, list_aggregate(h.h, 'max')) - 1 AS INT)
         |    AS dominant_bin,
         |  CAST(h.mass AS BIGINT) AS mass
         |FROM kf JOIN hs h ON h.doc_id = kf.doc_id AND h.frame_idx = kf.keyframe_idx
         |ORDER BY kf.doc_id, kf.scene_idx""".stripMargin

  private val m3OracleSql: String =
    s"""WITH ct AS (SELECT $crcTableLiteral AS tbl),
       |${textBytesCte(" WHERE doc_id % 3 = 1")},
       |a AS (SELECT doc_id, n + (n % 2) AS dataLen,
       |      tb || CASE WHEN n % 2 = 1 THEN [CAST(0 AS BIGINT)] ELSE [] END AS db FROM d),
       |ch AS (
       |  -- per-doc chunk bound (scalar-list range): ceil(dataLen/192)
       |  -- strided starts, never truncated by a global literal
       |  SELECT doc_id, dataLen, db, CAST(s AS INT) AS chunk_idx,
       |         CAST(s * 192 AS BIGINT) AS start_byte
       |  FROM (SELECT doc_id, dataLen, db,
       |        unnest(range(0, (greatest(1, dataLen) + 191) // 192)) AS s FROM a))
       |SELECT doc_id, chunk_idx, start_byte,
       |  CAST(least(256, dataLen - start_byte) AS INT) AS n_bytes,
       |  ${crc32Sql("db[CAST(start_byte AS INT) + 1 : CAST(start_byte AS INT) + CAST(least(256, dataLen - start_byte) AS INT)]")} AS chunk_crc
       |FROM ch, ct
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** m4's pixel-rebuild + aHash CTE chain (through `bits`, the unsigned
    * HUGEINT hash `ub`) — shared verbatim by the m4 oracle and m9's
    * banded near-dup oracle.
    */
  private val m4HashCtes: String =
    s"""d AS (SELECT doc_id, length(text) AS n,
       |      list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS INT)) AS tb
       |      FROM documents WHERE doc_id % 3 = 0),
       |geo AS (
       |  SELECT doc_id, n, tb,
       |    CAST(1 + (doc_id % 31) AS INT) AS w, CAST(1 + (doc_id % 17) AS INT) AS h,
       |    CAST((((1 + (doc_id % 31))*3 + 3) // 4) * 4 AS INT) AS rowSize
       |  FROM d),
       |grid AS (
       |  SELECT doc_id, w, h, CAST(g.range AS INT) AS k,
       |    (h - 1 - (CAST(g.range AS INT) // 8) * h // 8) * rowSize
       |      + ((CAST(g.range AS INT) % 8) * w // 8) * 3 AS pix,
       |    n, tb
       |  FROM geo, range(0, 64) g),
       |lum AS (
       |  SELECT doc_id, w, h, k,
       |    (299 * tb[(pix + 2) % n + 1] + 587 * tb[(pix + 1) % n + 1]
       |      + 114 * tb[pix % n + 1]) // 1000 AS l
       |  FROM grid),
       |mn AS (SELECT doc_id, sum(l) // 64 AS mn FROM lum GROUP BY doc_id),
       |bits AS (
       |  SELECT lum.doc_id, w, h,
       |    sum(CASE WHEN l > mn.mn THEN CAST(power(2, k) AS HUGEINT)
       |        ELSE CAST(0 AS HUGEINT) END) AS ub
       |  FROM lum JOIN mn ON lum.doc_id = mn.doc_id
       |  GROUP BY lum.doc_id, w, h)""".stripMargin

  private val m4OracleSql: String =
    s"""WITH $m4HashCtes
       |SELECT doc_id, w AS width, h AS height,
       |  CAST(CASE WHEN ub >= CAST(9223372036854775808 AS HUGEINT)
       |       THEN ub - CAST(18446744073709551616 AS HUGEINT) ELSE ub END AS BIGINT) AS ahash64
       |FROM bits ORDER BY doc_id""".stripMargin

  /** m9: m4's hash chain, then the 4×16-bit band blocking replayed on the
    * UNSIGNED HUGEINT hash (band bits by exact divide/modulo — no shift
    * semantics to disagree about), signed conversion for the xor+bit_count
    * hamming verify (two's-complement bit patterns are identical either
    * way). `banded` is MATERIALIZED: it is self-joined, and DuckDB
    * re-inlines multiply-referenced CTEs otherwise (the g2 lesson).
    */
  private val m9OracleSql: String =
    s"""WITH $m4HashCtes,
       |hashes AS (
       |  SELECT doc_id, CAST(CASE WHEN ub >= CAST(9223372036854775808 AS HUGEINT)
       |       THEN ub - CAST(18446744073709551616 AS HUGEINT) ELSE ub END AS BIGINT) AS h,
       |       ub
       |  FROM bits),
       |banded AS MATERIALIZED (
       |  SELECT doc_id, h, CAST(b.range AS INT) AS band,
       |    CAST((ub // (CASE CAST(b.range AS INT)
       |      WHEN 0 THEN CAST(1 AS HUGEINT)
       |      WHEN 1 THEN CAST(65536 AS HUGEINT)
       |      WHEN 2 THEN CAST(4294967296 AS HUGEINT)
       |      ELSE CAST(281474976710656 AS HUGEINT) END)) % 65536 AS INT) AS bb
       |  FROM hashes, range(0, 4) b),
       |overfull AS (
       |  SELECT band, bb FROM banded GROUP BY band, bb HAVING count(*) > 2000),
       |bounded AS MATERIALIZED (
       |  SELECT b.* FROM banded b ANTI JOIN overfull o USING (band, bb))
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming,
       |  bit_count(xor(a.h, b.h)) <= 3 AS near_dup
       |FROM bounded a JOIN bounded b
       |  ON a.band = b.band AND a.bb = b.bb AND a.doc_id < b.doc_id
       |ORDER BY a_id, b_id""".stripMargin

  /** s7: the greedy MMR selection unrolled — step i excludes the selected
    * set u(i-1) with an ANTI JOIN, takes each survivor's max pair-cosine
    * to the selected set, and argmaxes the round-6 MMR score with the
    * n_id tie-break. Every state is MATERIALIZED (multiply referenced);
    * the λ complement is the literal 0.3, never 1.0−0.7 (DuckDB's decimal
    * subtraction is exact where Scala's IEEE one is not — x32's λ lesson,
    * mirror-imaged).
    */
  private val s7OracleSql: String = {
    val steps = (2 to 5).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT p.q_id, p.n_id, p.rel, max(ps.sim) AS ms
         |  FROM pool p
         |  ANTI JOIN u${i - 1} ON u${i - 1}.q_id = p.q_id AND u${i - 1}.n_id = p.n_id
         |  JOIN ps ON ps.q_id = p.q_id AND ps.a_id = p.n_id
         |  JOIN u${i - 1} uu ON uu.q_id = ps.q_id AND uu.n_id = ps.b_id
         |  GROUP BY 1, 2, 3),
         |s$i AS MATERIALIZED (
         |  SELECT q_id, n_id, rel, score FROM (
         |    SELECT q_id, n_id, rel, round(0.7*rel - 0.3*ms, 6) + 0.0 AS score,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY round(0.7*rel - 0.3*ms, 6) DESC, n_id) AS r
         |    FROM m$i) WHERE r = 1),
         |u$i AS MATERIALIZED (
         |  SELECT * FROM u${i - 1} UNION ALL SELECT q_id, n_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
       |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
       |scored AS MATERIALIZED (
       |  SELECT q.q_id, v.vec_id AS n_id,
       |         round(list_cosine_similarity(qe, ve), 6) + 0.0 AS rel, v.ve
       |  FROM q JOIN v ON v.vec_id <> q.q_id),
       |pool AS MATERIALIZED (
       |  SELECT q_id, n_id, rel, ve FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY rel DESC, n_id) AS rnk FROM scored)
       |  WHERE rnk <= 20),
       |ps AS MATERIALIZED (
       |  SELECT a.q_id, a.n_id AS a_id, b.n_id AS b_id,
       |         round(list_cosine_similarity(a.ve, b.ve), 6) + 0.0 AS sim
       |  FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.n_id <> b.n_id),
       |s1 AS MATERIALIZED (
       |  SELECT q_id, n_id, rel, score FROM (
       |    SELECT q_id, n_id, rel, round(0.7*rel - 0.3*0.0, 6) + 0.0 AS score,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY round(0.7*rel - 0.3*0.0, 6) DESC, n_id) AS r
       |    FROM pool) WHERE r = 1),
       |u1 AS MATERIALIZED (SELECT q_id, n_id FROM s1),
       |$steps,
       |allsel AS (
       |  SELECT q_id, n_id, rel, score, 1 AS rk FROM s1
       |  UNION ALL SELECT q_id, n_id, rel, score, 2 FROM s2
       |  UNION ALL SELECT q_id, n_id, rel, score, 3 FROM s3
       |  UNION ALL SELECT q_id, n_id, rel, score, 4 FROM s4
       |  UNION ALL SELECT q_id, n_id, rel, score, 5 FROM s5)
       |SELECT q_id, CAST(rk AS BIGINT) AS rank, n_id,
       |       rel AS relevance, score AS mmr_score
       |FROM allsel ORDER BY q_id, rank""".stripMargin
  }

  /** k5: one rung per ladder k — per-vector best round-6 cosine to the
    * first-k seed centroids, (1−cos) summed as exact decimals.
    */
  private val k5OracleSql: String = {
    val rungs = Seq(2, 4, 8, 16).map { k =>
      s"""r$k AS (
         |  SELECT $k AS k, count(*) AS n_vecs,
         |    CAST(sum(CAST(1.0 - bc AS DECIMAL(28,6))) AS DOUBLE) AS inertia
         |  FROM (
         |    SELECT v.vec_id, max(round(list_cosine_similarity(v.ve, c.ce), 6)) AS bc
         |    FROM v CROSS JOIN (SELECT vec_id AS cell, ve AS ce FROM v
         |                       WHERE vec_id < $k) c
         |    GROUP BY v.vec_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
       |$rungs,
       |u AS (SELECT * FROM r2 UNION ALL SELECT * FROM r4
       |      UNION ALL SELECT * FROM r8 UNION ALL SELECT * FROM r16)
       |SELECT k, n_vecs, inertia,
       |  COALESCE(lag(inertia) OVER (ORDER BY k) - inertia, 0.0) AS delta
       |FROM u ORDER BY k""".stripMargin
  }

  /** DuckDB oracle SQL — same column names, same casts, same ordering. */
  def oracleSql: Map[String, String] = Map(
    "s7_mmr_rerank" -> s7OracleSql,
    "k5_elbow_curve" -> k5OracleSql,
    "k3_kmeans_refine" -> k3OracleSql,
    "x23_bpe_merges" -> x23OracleSql,
    "x24_token_compression" -> x24OracleSql,
    "x46_bpe_encode" -> x46OracleSql,
    "m1_multimodal_meta" -> m1OracleSql,
    "m6_media_dedup" -> m6OracleSql,
    "m2_frame_sample" -> m2OracleSql,
    "m3_audio_chunks" -> m3OracleSql,
    "m7_scene_cuts" -> m7OracleSql,
    "m8_scene_keyframes" -> m8OracleSql,
    "m4_image_phash" -> m4OracleSql,
    "t1_speed_radar" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events WHERE value >= 90 ORDER BY event_id""".stripMargin,

    "t2_avg_speed_control" ->
      """WITH a AS (
        |  SELECT user_id, event_type,
        |         epoch_us(min(ts)) AS t_first_us, epoch_us(max(ts)) AS t_last_us,
        |         min_by(value, ts) AS v_first, max_by(value, ts) AS v_last
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id, event_type, t_first_us, t_last_us,
        |       round((v_last - v_first) / ((t_last_us - t_first_us) / 3600e6), 4) AS rate_per_hour
        |FROM a
        |WHERE t_last_us > t_first_us
        |  AND abs(round((v_last - v_first) / ((t_last_us - t_first_us) / 3600e6), 4)) > 0.05
        |ORDER BY user_id, event_type""".stripMargin,

    "t3_accident_runs" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts)
        |         - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts) AS run_id
        |  FROM events)
        |SELECT user_id, event_type,
        |       epoch_us(min(ts)) AS t_start_us, epoch_us(max(ts)) AS t_end_us,
        |       count(*) AS n_events
        |FROM e GROUP BY user_id, event_type, run_id
        |HAVING count(*) >= 4
        |ORDER BY user_id, t_start_us""".stripMargin,

    "t4_congestion_daily" ->
      """SELECT strftime(ts, '%Y/%m/%d') AS day, count(*) AS n_trips,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_amount
        |FROM events WHERE event_type = 'purchase' AND value > 0
        |GROUP BY day ORDER BY day""".stripMargin,

    "t5_saturated_pairs" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events)
        |SELECT user_id, epoch_us(prev_ts) AS t1_us, epoch_us(ts) AS t2_us,
        |       CAST(2 AS BIGINT) AS n_trips
        |FROM e
        |WHERE prev_ts IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) < 600000000
        |ORDER BY user_id, t1_us""".stripMargin,

    "t6_session_windows" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap_us
        |  FROM events),
        |m AS (SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_session FROM g),
        |s AS (SELECT *, CAST(sum(new_session) OVER (
        |        PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
        |SELECT user_id, session_id,
        |       epoch_us(min(ts)) AS t_start_us, epoch_us(max(ts)) AS t_end_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "t7_purchase_attribution" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |       epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us, p.value
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts <= p.ts AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
        |ORDER BY purchase_id, click_id""".stripMargin,

    "t8_asof_attribution" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT * FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id AS purchase_id,
        |       epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS click_ts_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,

    "t9_sliding_windows" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
        |w AS (SELECT (us // 900000000) * 900000000 - k * 900000000 AS w_start_us, value
        |      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
        |SELECT w_start_us, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY w_start_us ORDER BY w_start_us""".stripMargin,

    "q_funnel" ->
      """WITH s AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
        |  FROM events GROUP BY user_id HAVING t_signup IS NOT NULL),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.t_signup
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |  GROUP BY e.user_id)
        |SELECT stage, CAST(n_users AS BIGINT) AS n_users FROM (
        |  SELECT '1_signup' AS stage, count(*) AS n_users FROM s
        |  UNION ALL SELECT '2_click_after_signup', count(*) FROM c
        |  UNION ALL SELECT '3_purchase_after_click', count(*) FROM p)
        |ORDER BY stage""".stripMargin,

    "q_running_total" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |  CAST(count(*) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_pivot_events" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "j1_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*), 4) AS avg_k,
        |  count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS nd_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // DOUBLE conversions here route through VARCHAR: DuckDB's direct
    // decimal→double cast is not correctly rounded (first seen 1 ULP off
    // on sum_charge at the 10× facts slice, 6M rows), while a string
    // parse is — and Spark's decimal→double cast rounds correctly, so
    // the hop makes both engines produce the identical IEEE double.
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |       CAST(CAST(sum($moneyExpr) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |       CAST(CAST(sum($moneyExpr * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |       round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_qty,
        |       round(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / count(*), 6) AS avg_price,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
        |       CAST(sum($moneyExpr) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1995-03-15'
        |  AND l_shipdate > DATE '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      s"""SELECT n_name, CAST(sum($moneyExpr) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1996-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, CAST(sum($moneyExpr) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= DATE '1995-10-01' AND o_orderdate < DATE '1996-01-01'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q14_promo_revenue" ->
      s"""SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $moneyExpr END) AS DOUBLE)
        |       / CAST(sum($moneyExpr) AS DOUBLE), 6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'""".stripMargin,

    "q19_bracket_revenue" ->
      s"""SELECT CAST(sum($moneyExpr) AS DOUBLE) AS revenue, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o.o_orderkey AND l_shipdate >= DATE '1996-02-01')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_dormant_customers" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= DATE '1995-06-01' AND o_orderdate < DATE '1995-07-01')
        |ORDER BY c_custkey""".stripMargin,

    "q_rollup_events" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |       COALESCE(day, 'ALL') AS day,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events)
        |GROUP BY ROLLUP(event_type, day)
        |ORDER BY event_type, day""".stripMargin,

    "q7_user_stats" ->
      """SELECT event_type, count(DISTINCT user_id) AS nd_users,
        |       round(quantile_cont(value, 0.5), 6) + 0.0 AS med_value,
        |       round(quantile_cont(value, 0.95), 6) + 0.0 AS p95_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q8: sketch state is engine-internal, so the entry publishes the
    // exact twins plus within-tolerance verdicts computed inside the
    // entry; the oracle recomputes the exact columns and expects every
    // verdict true — the sketches are machine-checked, not rows-only.
    "q8_approx_stats" ->
      """SELECT event_type, count(DISTINCT user_id) AS nd_users,
        |       round(quantile_cont(value, 0.5), 6) + 0.0 AS med_value,
        |       round(quantile_cont(value, 0.95), 6) + 0.0 AS p95_value,
        |       true AS nd_ok, true AS med_ok, true AS p95_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q_sketch_union: same discipline as q8 — exact twin + verdict.
    "q_sketch_union" ->
      """SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |       count(DISTINCT user_id) AS nd_users, true AS union_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_salted_purchases" ->
      """SELECT user_id,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |       count(*) AS n_purchases
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_top_users_window" ->
      """WITH totals AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |         count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |r AS (SELECT *, row_number() OVER (ORDER BY total_value DESC, user_id) AS rnk FROM totals)
        |SELECT rnk, user_id, total_value, n_purchases FROM r
        |WHERE rnk <= 10 ORDER BY rnk""".stripMargin,

    "q2_min_price_supplier" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_size FROM part
        |           WHERE p_type = 'STANDARD' AND p_size < 10),
        |offers AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS offer
        |  FROM lineitem JOIN p ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |cheapest AS (SELECT l_partkey AS pk, min(offer) AS best FROM offers GROUP BY 1)
        |SELECT l_partkey AS p_partkey, p_brand, CAST(p_size AS INT) AS p_size,
        |       s_suppkey, s_name,
        |       -- Spark's round(double) rounds the SHORTEST DECIMAL repr
        |       -- (BigDecimal.valueOf) half-up, not the exact binary value:
        |       -- offer 147.70125 is stored as ...124999..., which DuckDB's
        |       -- binary round sends to .7012 but Spark sends to .7013.
        |       -- VARCHAR cast is DuckDB's shortest repr; DECIMAL round is
        |       -- half-away-from-zero = Java HALF_UP for either sign.
        |       CAST(round(CAST(CAST(offer AS VARCHAR) AS DECIMAL(28,14)), 4) AS DOUBLE)
        |         AS min_unit_price
        |FROM offers
        |JOIN cheapest ON l_partkey = pk AND offer = best
        |JOIN p ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY p_partkey, s_suppkey""".stripMargin,

    "q9_nation_revenue" ->
      s"""SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |       CAST(sum($moneyExpr) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%gear%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q13_order_distribution" ->
      """WITH pc AS (SELECT o_custkey, count(*) AS n_orders FROM orders
        |            WHERE o_orderpriority <> '4-NOT SPECIFIED' GROUP BY 1)
        |SELECT coalesce(n_orders, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN pc ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH rev AS (
        |  SELECT l_suppkey, sum($moneyExpr) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO' AND p_size <= 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        |  JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#2'),
        |pp AS (SELECT l_partkey AS pk,
        |         sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
        |         count(*) AS qty_n
        |       FROM li GROUP BY 1)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 4)
        |         AS avg_yearly
        |FROM li JOIN pp ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 2 * qty_n < qty_sum""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300)
        |SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
        |       o_totalprice, CAST(total_qty AS DOUBLE) AS total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q22_idle_rich" ->
      """WITH pos AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS bal_sum, count(*) AS bal_n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT CAST(c_nationkey AS INT) AS c_nationkey, count(*) AS n_custs,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer, pos
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * bal_n > bal_sum
        |  AND c_custkey NOT IN
        |      (SELECT o_custkey FROM orders WHERE o_orderdate >= '1999-01-01')
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    "q7_nation_trade" ->
      """SELECT CAST(s_nationkey AS INT) AS supp_nation,
        |       CAST(c_nationkey AS INT) AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |         (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |         AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey IN (2, 3)
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey IN (2, 3)
        |WHERE s_nationkey <> c_nationkey
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q8_market_share" ->
      """WITH rev AS (
        |  SELECT year(o_orderdate) AS o_year, s_nationkey,
        |         CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS r
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'ASIA'))
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN s_nationkey = 3 THEN r
        |                      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |        / CAST(sum(r) AS DOUBLE), 6) AS mkt_share,
        |  CAST(sum(r) AS DOUBLE) AS total_rev
        |FROM rev GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q11_important_stock" ->
      """WITH ns AS (SELECT count(*) AS n_supp FROM supplier),
        |ps AS (
        |  SELECT p_partkey,
        |         (p_partkey * 7 + i * 13) % n_supp AS ps_suppkey,
        |         (p_partkey * 31 + i * 17) % 1000 + 1 AS ps_availqty,
        |         (p_partkey * 53 + i * 29) % 20000 + 100 AS ps_cost_cents
        |  FROM part CROSS JOIN ns CROSS JOIN (SELECT unnest(range(4)) AS i)),
        |stock AS (
        |  SELECT p_partkey, ps_availqty * ps_cost_cents AS v_cents
        |  FROM ps WHERE ps_suppkey IN
        |    (SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)),
        |tot AS (SELECT sum(v_cents) AS total_cents FROM stock)
        |SELECT p_partkey, CAST(sum(v_cents) AS DOUBLE) / 100.0 AS stock_value
        |FROM stock, tot
        |GROUP BY p_partkey, total_cents
        |HAVING sum(v_cents) * 1000 > total_cents
        |ORDER BY stock_value DESC, p_partkey""".stripMargin,

    "q12_late_shipments" ->
      """SELECT greatest(least(CAST(floor(date_diff('day', o_orderdate, l_shipdate)
        |             / 30.0) AS BIGINT), 6), -1) AS months_late,
        |       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |         AS high_line_count,
        |       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
        |         AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY months_late ORDER BY months_late""".stripMargin,

    "q20_stock_surplus" ->
      """WITH ns AS (SELECT count(*) AS n_supp FROM supplier),
        |ps AS (
        |  SELECT p_partkey,
        |         (p_partkey * 7 + i * 13) % n_supp AS ps_suppkey,
        |         (p_partkey * 31 + i * 17) % 1000 + 1 AS ps_availqty
        |  FROM part CROSS JOIN ns CROSS JOIN (SELECT unnest(range(4)) AS i)),
        |shipped AS (
        |  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS shipped_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  GROUP BY l_partkey),
        |surplus AS (
        |  SELECT ps_suppkey, count(DISTINCT p_partkey) AS n_surplus_parts
        |  FROM ps JOIN shipped ON p_partkey = l_partkey
        |  WHERE CAST(ps_availqty AS DECIMAL(12,2)) * 2 > shipped_qty
        |  GROUP BY ps_suppkey)
        |SELECT s_suppkey, s_name, n_surplus_parts
        |FROM supplier JOIN surplus ON s_suppkey = ps_suppkey
        |ORDER BY s_suppkey""".stripMargin,

    "q21_blame_supplier" ->
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS n_supp,
        |         count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |                             THEN l_suppkey END) AS n_late,
        |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |                  THEN l_suppkey END) AS late_supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey)
        |SELECT late_supp AS s_suppkey, s_name, count(*) AS numwait
        |FROM per_order JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 20""".stripMargin,

    "q_winsorize" ->
      """WITH cuts AS (
        |  SELECT event_type AS et,
        |         quantile_cont(value, 0.01) AS p01,
        |         quantile_cont(value, 0.99) AS p99
        |  FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |       round(avg(least(greatest(value, p01), p99)), 4) + 0.0 AS winsorized_mean,
        |       count(*) FILTER (WHERE value < p01) AS n_clipped_low,
        |       count(*) FILTER (WHERE value > p99) AS n_clipped_high,
        |       round(min(p01), 4) + 0.0 AS p01, round(min(p99), 4) + 0.0 AS p99
        |FROM events JOIN cuts ON event_type = et
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_cohort_retention" ->
      """WITH p AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS uid, min(week) AS cohort_week FROM p GROUP BY 1)
        |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
        |       CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM p JOIN c ON user_id = uid
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "q_window_nav" ->
      """SELECT user_id, event_id, value,
        |  round(percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id), 6)
        |    AS value_pct_rank,
        |  round(cume_dist() OVER (PARTITION BY user_id ORDER BY value, event_id), 6)
        |    AS value_cume_dist,
        |  nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_purchase
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,

    "x15_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT)
        |    AS n_phones,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT)
        |    AS n_ssns,
        |  md5(regexp_replace(
        |        regexp_replace(
        |          regexp_replace(text,
        |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |          '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |        '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x17_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       round(ln(CAST(sum(c) AS DOUBLE))
        |             - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 6)
        |         + 0.0 AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x18_zipf_slope" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT source, w, count(*) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT source, w, n,
        |        row_number() OVER (PARTITION BY source ORDER BY n DESC, w) AS rnk
        |      FROM f)
        |SELECT source, count(*) AS n_terms,
        |       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
        |         + 0.0 AS zipf_slope,
        |       round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4) + 0.0 AS r2
        |FROM r WHERE rnk <= 1000
        |GROUP BY source ORDER BY source""".stripMargin,

    "x19_source_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |  FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        |       round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6)
        |         AS vocab_jaccard
        |FROM inter
        |JOIN sz sa ON source_a = sa.source
        |JOIN sz sb ON source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,

    "v1_table_profile" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_qty,
        |    count(DISTINCT l_quantity) AS nd_qty,
        |    min(CAST(l_quantity AS DOUBLE)) AS mn_qty,
        |    max(CAST(l_quantity AS DOUBLE)) AS mx_qty,
        |    CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_disc,
        |    count(DISTINCT l_discount) AS nd_disc,
        |    min(CAST(l_discount AS DOUBLE)) AS mn_disc,
        |    max(CAST(l_discount AS DOUBLE)) AS mx_disc,
        |    CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_rf,
        |    count(DISTINCT l_returnflag) AS nd_rf
        |  FROM lineitem)
        |SELECT 'l_discount' AS column_name, n_rows, nn_disc AS n_nulls,
        |       nd_disc AS n_distinct, mn_disc AS min_val, mx_disc AS max_val FROM a
        |UNION ALL
        |SELECT 'l_quantity', n_rows, nn_qty, nd_qty, mn_qty, mx_qty FROM a
        |UNION ALL
        |SELECT 'l_returnflag', n_rows, nn_rf, nd_rf,
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM a
        |ORDER BY column_name""".stripMargin,

    "v2_integrity_check" ->
      """SELECT 'lineitem->orders' AS relationship,
        |       (SELECT count(*) FROM lineitem) AS n_child,
        |       (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |          ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
        |         AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |          ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
        |UNION ALL
        |SELECT 'lineitem->supplier',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l LEFT JOIN supplier s
        |          ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
        |UNION ALL
        |SELECT 'orders->customer',
        |       (SELECT count(*) FROM orders),
        |       (SELECT count(*) FROM orders o LEFT JOIN customer c
        |          ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        |ORDER BY relationship""".stripMargin,

    "cdc1_snapshot_diff" ->
      """WITH n AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders WHERE o_orderdate < DATE '1999-01-01' GROUP BY 1),
        |o AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1),
        |d AS (
        |  SELECT coalesce(n.o_custkey, o.o_custkey) AS o_custkey,
        |         CASE WHEN o.n_orders IS NULL THEN 'insert'
        |              WHEN n.n_orders <> o.n_orders OR n.spend <> o.spend THEN 'update'
        |              ELSE 'unchanged' END AS change_type,
        |         n.n_orders AS n_orders, CAST(n.spend AS DOUBLE) AS spend,
        |         coalesce(o.n_orders, 0) AS prev_orders
        |  FROM n FULL OUTER JOIN o ON n.o_custkey = o.o_custkey)
        |SELECT * FROM d WHERE change_type <> 'unchanged'
        |ORDER BY o_custkey""".stripMargin,

    "x25_mixture_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS tot_docs,
        |             sum(power(CAST(n_docs AS DOUBLE), 0.3)) AS tot_pow FROM c)
        |SELECT source, n_docs, round(n_docs / tot_docs, 6) AS raw_share,
        |       round(power(CAST(n_docs AS DOUBLE), 0.3) / tot_pow, 6) AS temp_share
        |FROM c CROSS JOIN t ORDER BY source""".stripMargin,

    "x20_pack_sequences" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS wc
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, wc,
        |         coalesce(sum(wc) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t)
        |SELECT source, CAST(floor(prior / 512) AS BIGINT) AS bin_id,
        |       count(*) AS n_docs,
        |       CAST(sum(wc) AS BIGINT) AS bin_tokens,
        |       round(CAST(sum(wc) AS DOUBLE) / 512, 4) AS fill_ratio
        |FROM c GROUP BY 1, 2 ORDER BY source, bin_id""".stripMargin,

    "q_topk_agg" ->
      """WITH r AS (
        |  SELECT event_type, value, event_id,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |SELECT event_type, CAST(rnk AS BIGINT) AS rnk, value, event_id
        |FROM r WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin,

    "x27_pack_segments" ->
      """WITH t AS (
        |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, wc,
        |         coalesce(sum(wc) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t),
        |s AS (
        |  SELECT source,
        |         unnest(generate_series(CAST(floor(prior / 512) AS BIGINT),
        |           CAST(floor((prior + wc - 1) / 512) AS BIGINT))) AS bin_id,
        |         prior, wc
        |  FROM c)
        |SELECT source, bin_id, count(*) AS n_segments,
        |       CAST(sum(least((bin_id + 1) * 512, prior + wc) -
        |                greatest(bin_id * 512, prior)) AS BIGINT) AS bin_tokens
        |FROM s GROUP BY 1, 2 ORDER BY source, bin_id""".stripMargin,

    "x21_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |corpus AS (SELECT w, count(*) AS cc FROM tok GROUP BY w),
        |target AS (SELECT w, count(*) AS tc FROM tok WHERE lang = 'en' GROUP BY w),
        |vocab AS (
        |  SELECT corpus.w, cc, coalesce(tc, 0) AS tc
        |  FROM corpus LEFT JOIN target ON corpus.w = target.w),
        |tot AS (
        |  SELECT CAST(sum(cc) AS DOUBLE) AS ctot, CAST(sum(tc) AS DOUBLE) AS ttot,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(sum(ln((tc + 1.0) / (ttot + v)) - ln((cc + 1.0) / (ctot + v)))
        |             / count(*), 4) + 0.0 AS dsir_weight
        |FROM tok JOIN vocab USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x22_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, wc,
        |         unnest(generate_series(0,
        |           greatest(CAST(ceil((wc - 64) / 48.0) AS BIGINT) * 48, 0),
        |           48)) AS start
        |  FROM t)
        |SELECT doc_id, wc, CAST(start / 48 AS BIGINT) AS chunk_idx, start,
        |       least(wc - start, 64) AS chunk_len
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,

    "e1_quantize_error" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, label, ve,
        |         list_max(list_transform(ve, x -> abs(x))) / 127.0 AS scale
        |  FROM v),
        |e AS (
        |  SELECT label, scale,
        |         list_max(list_transform(ve,
        |           x -> abs(x - floor(x / scale + 0.5) * scale))) AS err
        |  FROM s WHERE scale > 0)
        |SELECT label, count(*) AS n_vecs,
        |       round(avg(err), 6) AS avg_max_err,
        |       round(max(err), 6) AS max_err,
        |       round(max(scale), 6) AS max_scale
        |FROM e GROUP BY label ORDER BY label""".stripMargin,

    "q_cube_events" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
        |ORDER BY event_type, day""".stripMargin,

    "q_lag_delta" ->
      """WITH p AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(value) OVER w AS prev_value,
        |         lag(ts) OVER w AS prev_ts
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, prev_value,
        |       round(value - prev_value, 2) + 0.0 AS delta,
        |       epoch_us(ts) - epoch_us(prev_ts) AS gap_us
        |FROM p WHERE prev_value IS NOT NULL
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_trend" ->
      """SELECT event_type, count(*) AS n,
        |  round(regr_slope(value, (epoch_us(ts)/1000000.0 - 1704067200)/3600.0), 4)
        |    + 0.0 AS slope_per_hour,
        |  round(regr_r2(value, (epoch_us(ts)/1000000.0 - 1704067200)/3600.0), 4) + 0.0 AS r2
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "r1_value_brackets" ->
      """WITH b AS (
        |  SELECT range AS bracket_id, CAST(range * 25 AS DOUBLE) AS lo,
        |         CAST((range + 1) * 25 AS DOUBLE) AS hi
        |  FROM range(20))
        |SELECT bracket_id, lo, hi, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN b ON value >= lo AND value < hi
        |GROUP BY 1, 2, 3 ORDER BY bracket_id""".stripMargin,

    "n1_normalized_dedup" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |       count(DISTINCT text) AS n_variants,
        |       CAST(length(norm) AS BIGINT) AS norm_len
        |FROM n GROUP BY norm ORDER BY keep_id""".stripMargin,

    "h1_heavy_hitters" ->
      """WITH t AS (SELECT event_type, count(*) AS type_total FROM events GROUP BY 1),
        |c AS (SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT event_type, user_id, n,
        |       round(CAST(n AS DOUBLE) / type_total, 6) AS share
        |FROM c JOIN t USING (event_type)
        |WHERE CAST(n AS DOUBLE) / type_total >= 0.008
        |ORDER BY event_type, user_id""".stripMargin,

    // s2: the full multi-probe SRP pipeline replayed in SQL — plane
    // constants interpolated from the kernel (see srpPlaneValues), sign
    // bits from ordered-fold dots, probes = code XOR every mask within
    // hamming 2, exact cosine re-rank identical to s1's.
    "s2_ann_ivf" ->
      s"""WITH plane(p, j, w) AS (VALUES $srpPlaneValues),
        |v AS (SELECT vec_id, embedding FROM embeddings),
        |comp AS (SELECT vec_id, CAST(r.range AS BIGINT) AS j,
        |         CAST(embedding[CAST(r.range AS INT)] AS DOUBLE) AS x
        |         FROM v, range(1, 65) r),
        |dots AS (
        |  SELECT c.vec_id, pl.p,
        |    list_reduce(list_prepend(0.0, list(c.x * pl.w ORDER BY c.j)), (s, y) -> s + y) AS dot
        |  FROM comp c JOIN plane pl ON pl.j = c.j
        |  GROUP BY c.vec_id, pl.p),
        |codes AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS code
        |  FROM dots GROUP BY vec_id),
        |masks AS (SELECT CAST(range AS BIGINT) AS m FROM range(0, 64) WHERE bit_count(CAST(range AS BIGINT)) <= 2),
        |probes AS (
        |  SELECT c.vec_id AS q_id, xor(c.code, m.m) AS bucket
        |  FROM codes c, masks m WHERE c.vec_id < 5),
        |scored AS (
        |  SELECT p.q_id, n.vec_id AS n_id,
        |         round(list_cosine_similarity(list_transform(qv.embedding, x -> CAST(x AS DOUBLE)),
        |                                      list_transform(nv.embedding, x -> CAST(x AS DOUBLE))), 6) + 0.0 AS cosim
        |  FROM probes p
        |  JOIN codes n ON n.code = p.bucket
        |  JOIN v qv ON qv.vec_id = p.q_id
        |  JOIN v nv ON nv.vec_id = n.vec_id
        |  WHERE n.vec_id <> p.q_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosim DESC, n_id) AS BIGINT) AS rnk FROM scored)
        |SELECT q_id, n_id, cosim, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

    "s3_ann_ivf_kmeans" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
        |c AS (SELECT vec_id AS cell, ve AS ce FROM v WHERE vec_id < 16),
        |a AS (SELECT v.vec_id, c.cell,
        |        row_number() OVER (PARTITION BY v.vec_id
        |          ORDER BY round(list_cosine_similarity(ve, ce), 6) DESC, c.cell) AS rn
        |      FROM v CROSS JOIN c),
        |asg AS (SELECT vec_id AS n_id, cell FROM a WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
        |p AS (SELECT q_id, cell,
        |        row_number() OVER (PARTITION BY q_id
        |          ORDER BY round(list_cosine_similarity(qe, ce), 6) DESC, cell) AS prn
        |      FROM q CROSS JOIN c),
        |probes AS (SELECT q_id, cell FROM p WHERE prn <= 4),
        |scored AS (
        |  SELECT probes.q_id, asg.n_id,
        |         round(list_cosine_similarity(qv.ve, nv.ve), 6) + 0.0 AS cosim
        |  FROM probes JOIN asg USING (cell)
        |  JOIN v qv ON qv.vec_id = probes.q_id
        |  JOIN v nv ON nv.vec_id = asg.n_id
        |  WHERE asg.n_id <> probes.q_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |        ORDER BY cosim DESC, n_id) AS BIGINT) AS rnk FROM scored)
        |SELECT q_id, n_id, cosim, rnk FROM r WHERE rnk <= 10
        |ORDER BY q_id, rnk""".stripMargin,

    // s5: the full IVF-PQ pipeline, codebook training included, replayed
    // in SQL — generated (trainIters Lloyd rounds unrolled as CTEs).
    "s5_ann_ivf_pq" -> s5OracleSql(),

    "p1_pipeline_decision" -> p1OracleSql,

    "p2_web_pipeline" -> p2OracleSql,

    "x47_crawl_schedule" -> x47OracleSql,

    "x49_fim_split" -> x49OracleSql,
    "x50_chat_template" -> x50OracleSql,
    "w1_warc_ingest" -> w1OracleSql,
    "w2_wet_extract" -> w2OracleSql,
    // w3 writes the same containers to disk and reads them back through
    // binaryFile + the framing seam: bytes identical by construction,
    // so the oracle is w1's verbatim
    "w3_warc_files" -> w1OracleSql,
    // w4 stages the same containers as per-record gzip members and
    // inflates them back before the seam: offsets describe the
    // uncompressed stream, so the oracle is again w1's verbatim
    "w4_warc_gz" -> w1OracleSql,
    // w5 serves every record through the CDX point-read path (member
    // index + single-member inflate per record) and audits the FETCHED
    // bytes with plain-frame offsets — w1's oracle gates the
    // random-access path itself
    "w5_warc_cdx" -> w1OracleSql,
    // w6 serves every record through the PERSISTED CDX sidecar: only
    // the index files load; each record arrives by one positioned read
    // of exactly compLen bytes + one member inflate — and the audit of
    // the fetched bytes must still be w1's frame verbatim
    "w6_cdx_lookup" -> w1OracleSql,
    "x51_preference_pairs" -> x51OracleSql,

    "x48_domain_profile" -> x48OracleSql,
    "p3_reputation_gate" -> p3OracleSql,
    "p4_cls_lang_gate" -> p4OracleSql,

    "k1_centroid_assign" ->
      s"""$kAssignSql
        |SELECT centroid_id, count(*) AS n_vecs,
        |       round(CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
        |         + 0.0 AS avg_cos,
        |       min(vec_id) AS first_vec
        |FROM b WHERE rn = 1
        |GROUP BY 1 ORDER BY centroid_id""".stripMargin,

    "k2_semdedup_pairs" ->
      s"""$kAssignSql,
        |a AS (SELECT vec_id, centroid_id FROM b WHERE rn = 1)
        |SELECT a1.centroid_id, a1.vec_id AS a_id, a2.vec_id AS b_id,
        |       round(list_cosine_similarity(v1.ve, v2.ve), 6) AS cosim
        |FROM a a1
        |JOIN a a2 ON a1.centroid_id = a2.centroid_id AND a1.vec_id < a2.vec_id
        |JOIN v v1 ON v1.vec_id = a1.vec_id
        |JOIN v v2 ON v2.vec_id = a2.vec_id
        |WHERE round(list_cosine_similarity(v1.ve, v2.ve), 6) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "d4_ngram_jaccard" -> s"""$d4PairsSql
        |ORDER BY a_id, b_id""".stripMargin,

    // d2: the full MinHash-LSH pipeline replayed bit-for-bit — per-shingle
    // base hash (poly-31 + splitmix64), 32 golden-ratio-incremented remix
    // hashes, per-position SIGNED minima, band buckets as raw 4-long
    // signature slices (no engine hash), the over-full-bucket cap, pair
    // dedup, and the equal-position estimate.
    "d2_minhash_lsh" ->
      s"""WITH tok AS (
        |  -- ASCII corpus assumed: unicode(char) folds equal the kernel's
        |  -- UTF-8 byte fold only while every codepoint is single-byte
        |  -- (same assumption as textBytesCte; the testdata generator
        |  -- emits ASCII). A multi-byte corpus needs a per-byte expansion.
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h0 AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS HUGEINT))),
        |      (h, b) -> (h*31 + b) % CAST(18446744073709551616 AS HUGEINT)) AS u
        |  FROM tok),
        |${mixCtes("h0", "b")},
        |j0 AS (
        |  SELECT doc_id, CAST(r.range AS INT) AS j,
        |    (u + CAST(r.range AS HUGEINT) * CAST('11400714819323198485' AS HUGEINT))
        |      % CAST(18446744073709551616 AS HUGEINT) AS u
        |  FROM b5, range(0, 32) r),
        |${mixCtes("j0", "n")},
        |sigs AS (
        |  SELECT doc_id, j,
        |    min(CAST(CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
        |        THEN u - CAST(18446744073709551616 AS HUGEINT) ELSE u END AS BIGINT)) AS v
        |  FROM n5 GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM sigs GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, CAST(b.range AS INT) AS band,
        |         sig[CAST(b.range*4+1 AS INT):CAST(b.range*4+4 AS INT)] AS bucket
        |  FROM sig, range(0, 8) b),
        |overfull AS (
        |  SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) > 2000),
        |bounded AS (SELECT b.* FROM banded b ANTI JOIN overfull o USING (band, bucket)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bounded a JOIN bounded b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT p.a_id, p.b_id,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      k -> CASE WHEN sa.sig[CAST(k AS INT)] = sb.sig[CAST(k AS INT)] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est_jaccard
        |  FROM pairs p
        |  JOIN sig sa ON sa.doc_id = p.a_id
        |  JOIN sig sb ON sb.doc_id = p.b_id)
        |SELECT a_id, b_id, est_jaccard FROM est
        |WHERE est_jaccard >= 0.8 ORDER BY a_id, b_id""".stripMargin,

    // d8: d2's signature/band/cap chain verbatim, but the pair stage is
    // batch-side x full-side (new = doc_id % 10 = 0) canonicalized with
    // least/greatest — the oracle states it as the equivalent symmetric
    // join with an OR-side predicate. Flags replay the same split.
    "d8_incremental_dedup" ->
      s"""WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h0 AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS HUGEINT))),
        |      (h, b) -> (h*31 + b) % CAST(18446744073709551616 AS HUGEINT)) AS u
        |  FROM tok),
        |${mixCtes("h0", "b")},
        |j0 AS (
        |  SELECT doc_id, CAST(r.range AS INT) AS j,
        |    (u + CAST(r.range AS HUGEINT) * CAST('11400714819323198485' AS HUGEINT))
        |      % CAST(18446744073709551616 AS HUGEINT) AS u
        |  FROM b5, range(0, 32) r),
        |${mixCtes("j0", "n")},
        |sigs AS (
        |  SELECT doc_id, j,
        |    min(CAST(CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
        |        THEN u - CAST(18446744073709551616 AS HUGEINT) ELSE u END AS BIGINT)) AS v
        |  FROM n5 GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM sigs GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, CAST(b.range AS INT) AS band,
        |         sig[CAST(b.range*4+1 AS INT):CAST(b.range*4+4 AS INT)] AS bucket
        |  FROM sig, range(0, 8) b),
        |overfull AS (
        |  SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) > 2000),
        |bounded AS (SELECT b.* FROM banded b ANTI JOIN overfull o USING (band, bucket)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bounded a JOIN bounded b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0),
        |est AS (
        |  SELECT p.a_id, p.b_id,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      k -> CASE WHEN sa.sig[CAST(k AS INT)] = sb.sig[CAST(k AS INT)] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est_jaccard
        |  FROM pairs p
        |  JOIN sig sa ON sa.doc_id = p.a_id
        |  JOIN sig sb ON sb.doc_id = p.b_id)
        |SELECT a_id, b_id, est_jaccard,
        |       a_id % 10 = 0 AS a_new, b_id % 10 = 0 AS b_new
        |FROM est
        |WHERE est_jaccard >= 0.8 ORDER BY a_id, b_id""".stripMargin,

    // d3: the simhash pipeline replayed bit-for-bit — per-token poly-31 +
    // splitmix64 (splitmixCtes), per-bit majority votes, fingerprint
    // reassembly, 4x16-bit banding, hamming verify. Token rows carry
    // MULTIPLICITY (simhash votes per occurrence), unlike d4's DISTINCT.
    "d3_simhash" ->
      s"""WITH toks AS (
        |  -- ASCII corpus assumed (see d2's note): codepoint fold == byte fold
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h0 AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS HUGEINT))),
        |      (h, b) -> (h*31 + b) % CAST(18446744073709551616 AS HUGEINT)) AS u
        |  FROM toks),
        |$splitmixCtes,
        |bits AS (
        |  SELECT doc_id, CAST(b.range AS INT) AS b,
        |         CASE WHEN (u // CAST(power(2, b.range) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM m5, range(0, 64) b),
        |fp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN cnt > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS ufp
        |  FROM (SELECT doc_id, b, sum(vote) AS cnt FROM bits GROUP BY doc_id, b)
        |  GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, ufp, CAST(bb.range AS INT) AS band,
        |         (ufp // CAST(power(2, 16*bb.range) AS HUGEINT)) % 65536 AS bits16
        |  FROM fp, range(0, 4) bb),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.ufp AS fa, b.ufp AS fb
        |  FROM banded a JOIN banded b ON a.band = b.band AND a.bits16 = b.bits16 AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    // x40: tau literals interpolated from Dedup.curveTaus — the SAME Scala
    // doubles the operator compares against — parsed via string CAST
    // (DuckDB decimal literals → double are not correctly rounded; string
    // parses are). grid is MATERIALIZED: referenced by both aggregates.
    "x40_dedup_curve" ->
      s"""WITH pairs AS MATERIALIZED ($d4PairsSql),
        |taus AS (${operators.Dedup.curveTaus()
          .map(t => s"SELECT CAST('$t' AS DOUBLE) AS tau")
          .mkString(" UNION ALL ")}),
        |grid AS MATERIALIZED (
        |  SELECT t.tau, p.a_id, p.b_id
        |  FROM pairs p JOIN taus t ON p.jaccard >= t.tau),
        |stats AS (
        |  SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(count(DISTINCT b_id) AS BIGINT) AS n_dropped
        |  FROM grid GROUP BY tau),
        |docs AS (
        |  SELECT tau, CAST(count(DISTINCT id) AS BIGINT) AS n_docs_in_pairs
        |  FROM (SELECT tau, a_id AS id FROM grid
        |        UNION ALL SELECT tau, b_id FROM grid)
        |  GROUP BY tau),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
        |SELECT t.tau,
        |  coalesce(s.n_pairs, 0) AS n_pairs,
        |  coalesce(d.n_docs_in_pairs, 0) AS n_docs_in_pairs,
        |  coalesce(s.n_dropped, 0) AS n_dropped,
        |  n_total - coalesce(s.n_dropped, 0) AS n_kept,
        |  ((n_total - coalesce(s.n_dropped, 0)) * 1000000) // n_total AS keep_micros
        |FROM taus t LEFT JOIN stats s USING (tau)
        |  LEFT JOIN docs d USING (tau) CROSS JOIN tot
        |ORDER BY tau""".stripMargin,

    "m9_media_neardup" -> m9OracleSql,

    "x41_html_extract" -> x41OracleSql,

    "x42_blocklist_filter" -> x42OracleSql,
    // x42b is row-identical to x42 by construction (spec-pinned), so its
    // oracle is x42's verbatim — the strongest form of the equivalence
    "x42b_blocklist_join" -> x42OracleSql,
    // x42c's Bloom prefilters can only ADD candidates the exact confirm
    // joins then reject, so it is row-identical to x42 too (spec-pinned
    // including a forced-false-positive regime) — verbatim oracle again
    "x42c_blocklist_bloom" -> x42OracleSql,

    // x43: the raw URL rebuilt byte-for-byte with the same CASE axes as
    // Urls.buildUrl (pins the synthesis), the canonical form derived
    // ANALYTICALLY from the identity dims (the m1/x41 convention — the
    // general parser is spec-driven on crafted inputs), and the same
    // canon-keyed dedup window.
    "x43_url_canonicalize" ->
      ("WITH " + x43RawUrlCtes + "\n" +
        """SELECT doc_id, url, canon_url,
        |  min(doc_id) OVER (PARTITION BY canon_url) AS keep_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS is_canonical,
        |  count(*) OVER (PARTITION BY canon_url) AS n_copies
        |FROM r ORDER BY doc_id""".stripMargin),

    // x44: the REP verdict derived analytically from the synthesized
    // rules (Urls.robotsRules — allow prefix strictly longer than the
    // disallow, so longest-match reduces to allow-first CASE order here;
    // the general tie rule is spec-pinned on crafted rule sets).
    "x44_robots_gate" ->
      """WITH u AS (
        |  SELECT doc_id, doc_id % 100 AS k, (doc_id % 100) % 7 AS s
        |  FROM documents),
        |r AS (SELECT doc_id,
        |  'site' || s || '.example.com' AS domain,
        |  '/a/b' || k AS path,
        |  '/a/b' || s AS dis,
        |  '/a/b' || s || ((s + 1) % 10) AS alw
        | FROM u)
        |SELECT doc_id, domain, path,
        |  CASE WHEN starts_with(path, alw) THEN alw
        |       WHEN starts_with(path, dis) THEN dis
        |       ELSE '' END AS matched_rule,
        |  CASE WHEN starts_with(path, alw) THEN true
        |       WHEN starts_with(path, dis) THEN false
        |       ELSE true END AS allowed
        |FROM r ORDER BY doc_id""".stripMargin,

    // x45: the analytic per-page anchor list with resolved canonical
    // targets — the edges CTE is shared with the g3 oracle. Concatenated,
    // NOT interpolated-then-stripMargin'd: the CTE text carries || concats
    // at line heads, which a second stripMargin would mangle to bitwise |.
    "x45_outlink_graph" ->
      ("WITH " + x45EdgesCte + "\n" +
        """SELECT doc_id, src AS src_url, href, dst_url
          |FROM ed ORDER BY doc_id, href""".stripMargin),

    // g3: g2's unrolled three-superstep integer PageRank over x45's
    // distinct symmetrized edges; node ids are canonical URL strings.
    "g3_link_pagerank" ->
      ("WITH " + x45EdgesCte + ",\n" +
        s"""pairs AS MATERIALIZED (
         |  SELECT DISTINCT src AS a_id, dst_url AS b_id FROM ed),
         |edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
         |p0 AS MATERIALIZED (SELECT src AS id, deg, 1000000000000 // (SELECT n FROM nn) AS pr
         |       FROM deg),
         |p1 AS MATERIALIZED (SELECT e.dst AS id,
         |         (15 * (1000000000000 // (SELECT n FROM nn))) // 100
         |           + CAST((85 * sum(p.pr // p.deg)) // 100 AS BIGINT) AS pr
         |       FROM edges e JOIN p0 p ON p.id = e.src GROUP BY e.dst),
         |p2 AS MATERIALIZED (SELECT e.dst AS id,
         |         (15 * (1000000000000 // (SELECT n FROM nn))) // 100
         |           + CAST((85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr
         |       FROM edges e JOIN p1 p ON p.id = e.src
         |         JOIN deg d ON d.src = e.src GROUP BY e.dst),
         |p3 AS MATERIALIZED (SELECT e.dst AS id,
         |         (15 * (1000000000000 // (SELECT n FROM nn))) // 100
         |           + CAST((85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr
         |       FROM edges e JOIN p2 p ON p.id = e.src
         |         JOIN deg d ON d.src = e.src GROUP BY e.dst)
         |SELECT p3.id AS url, d.deg, p3.pr AS pr_micros,
         |       CAST(p3.pr AS DOUBLE) / 1000000000000.0 AS pagerank
         |FROM p3 JOIN deg d ON d.src = p3.id
         |ORDER BY url""".stripMargin),

    // v4: quantile_cont = Spark's exact interpolated percentile (the
    // q_winsorize-proven convention); the outlier test compares unrounded
    // doubles on both sides, published med/mad round-4 (+0.0 normalizes
    // any -0.0 like the winsorize columns).
    "v4_outlier_audit" ->
      """WITH ev AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |med AS (
        |  SELECT event_type AS et, quantile_cont(value, 0.5) AS med
        |  FROM ev GROUP BY 1),
        |dev AS MATERIALIZED (
        |  SELECT event_type, med, abs(value - med) AS adev
        |  FROM ev JOIN med ON event_type = et),
        |madt AS (
        |  SELECT event_type AS et2, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  round(min(med), 4) + 0.0 AS median,
        |  round(min(mad), 4) + 0.0 AS mad,
        |  CAST(count(*) FILTER (WHERE adev > 3.0 * mad) AS BIGINT) AS n_outliers,
        |  (CAST(count(*) FILTER (WHERE adev > 3.0 * mad) AS BIGINT) * 1000000)
        |    // count(*) AS outlier_micros
        |FROM dev JOIN madt ON event_type = et2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "g1_triangle_counts" ->
      s"""WITH pairs AS ($d4PairsSql),
        |tri AS (
        |  SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.b_id = e2.a_id
        |  JOIN pairs e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id)
        |SELECT doc_id, count(*) AS n_triangles
        |FROM (SELECT unnest([x, y, z]) AS doc_id FROM tri)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "d6_dedup_groups" ->
      """WITH RECURSIVE tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |  FROM tok a JOIN tok b ON a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a_id, b_id
        |  FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |  WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8),
        |edges AS (SELECT a_id, b_id FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(src, node) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON r.node = e.a_id)
        |SELECT src AS doc_id, min(node) AS group_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "d7_keep_list" ->
      """WITH RECURSIVE tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |  FROM tok a JOIN tok b ON a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a_id, b_id
        |  FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |  WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8),
        |edges AS (SELECT a_id, b_id FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(src, node) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON r.node = e.a_id)
        |SELECT src AS doc_id, min(node) AS group_id, src = min(node) AS keep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "c1_contamination" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(range(1, len(t) - 6),
        |           i -> array_to_string(list_slice(t, i, i + 7), ' ')))) AS s
        |  FROM toks WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
        |SELECT sh.doc_id, sh.source, count(*) AS n_hit_shingles
        |FROM sh JOIN bench ON sh.s = bench.s
        |WHERE sh.source <> 'src0'
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    "x26_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(t) - 6),
        |           i -> array_to_string(list_slice(t, i, i + 7), ' ')))) AS s
        |  FROM toks WHERE len(t) >= 8),
        |c AS (SELECT s, count(*) AS nd FROM sh GROUP BY s)
        |SELECT doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
        |       round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |         AS dup_frac
        |FROM sh JOIN c USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // x29: first occurrence per shingle STRING (row_number over (doc_id,
    // start)) vs the kernel's min-struct per 64-bit hash — agreement
    // certifies collision-freedom, same as x26. Positions are 1-based
    // here, 0-based in the kernel; only coverage spans must agree.
    "x29_dup_span_removal" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |       FROM toks WHERE len(t) >= 8),
        |occ AS (SELECT doc_id, i, array_to_string(list_slice(t, i, i + 7), ' ') AS s
        |        FROM sh),
        |marked AS (SELECT doc_id, i,
        |             row_number() OVER (PARTITION BY s ORDER BY doc_id, i) AS rn
        |           FROM occ),
        |removed AS (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS p
        |            FROM marked WHERE rn > 1),
        |rm AS (SELECT doc_id, list(p) AS ps FROM removed GROUP BY doc_id),
        |out AS (SELECT toks.doc_id, toks.t, COALESCE(rm.ps, []) AS ps
        |        FROM toks LEFT JOIN rm ON toks.doc_id = rm.doc_id),
        |kept AS (SELECT doc_id,
        |           CAST(len(t) AS BIGINT) AS n_tokens,
        |           list_transform(
        |             list_filter(range(1, len(t) + 1), p -> NOT list_contains(ps, p)),
        |             p -> t[p]) AS ks
        |         FROM out)
        |SELECT doc_id, n_tokens, CAST(len(ks) AS BIGINT) AS n_kept,
        |       -- array_to_string([]) is NULL in DuckDB, '' in Spark
        |       COALESCE(array_to_string(ks, ' '), '') AS text_clean
        |FROM kept ORDER BY doc_id""".stripMargin,

    // c3: x29's span-removal replay, with benchmark-set membership as the
    // removal predicate instead of non-first occurrence
    "c3_contamination_scrub" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |nb AS (SELECT doc_id, source, t FROM toks WHERE source <> 'src0'),
        |sh AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |       FROM nb WHERE len(t) >= 8),
        |occ AS (SELECT doc_id, i, array_to_string(list_slice(t, i, i + 7), ' ') AS s
        |        FROM sh),
        |bset AS (SELECT DISTINCT array_to_string(list_slice(t, i, i + 7), ' ') AS s
        |         FROM (SELECT t, unnest(range(1, len(t) - 6)) AS i
        |               FROM toks WHERE source = 'src0' AND len(t) >= 8)),
        |removed AS (SELECT DISTINCT occ.doc_id, unnest(range(occ.i, occ.i + 8)) AS p
        |            FROM occ JOIN bset ON occ.s = bset.s),
        |rm AS (SELECT doc_id, list(p) AS ps FROM removed GROUP BY doc_id),
        |out AS (SELECT nb.doc_id, nb.source, nb.t, COALESCE(rm.ps, []) AS ps
        |        FROM nb LEFT JOIN rm ON nb.doc_id = rm.doc_id),
        |kept AS (SELECT doc_id, source,
        |           CAST(len(t) AS BIGINT) AS n_tokens,
        |           list_transform(
        |             list_filter(range(1, len(t) + 1), p -> NOT list_contains(ps, p)),
        |             p -> t[p]) AS ks
        |         FROM out)
        |SELECT doc_id, source, n_tokens, CAST(len(ks) AS BIGINT) AS n_kept,
        |       len(ks) < n_tokens AS scrubbed,
        |       COALESCE(array_to_string(ks, ' '), '') AS text_clean
        |FROM kept ORDER BY doc_id""".stripMargin,

    "x10_top_bigrams" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT source,
        |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM toks),
        |counts AS (SELECT source, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, bigram) AS BIGINT) AS rnk
        |      FROM counts)
        |SELECT source, rnk, bigram, n FROM r WHERE rnk <= 10
        |ORDER BY source, rnk""".stripMargin,

    "x11_repetition" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |c AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_words,
        |        CASE WHEN len(t) >= 2
        |          THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |          ELSE [] END AS bg
        |      FROM b)
        |SELECT doc_id, n_words,
        |  round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / n_words, 6) AS dup_word_frac,
        |  CASE WHEN len(bg) > 0
        |    THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
        |    ELSE 0.0 END AS dup_bigram_frac
        |FROM c ORDER BY doc_id""".stripMargin,

    "d5_embedding_neardup" ->
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id, round($cosExpr, 6) AS cosim
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round($cosExpr, 6) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    // replays the HOT path of Dedup.blockedEmbeddings: labels over the
    // (lowered) cap sub-bucket by argmax round-6 cosine against their 8
    // lowest-id seed vectors (ties -> lowest cell, k1's protocol); cold
    // labels keep cell 0; pairs join on (label, cell)
    "d5_hot_guard" ->
      """WITH e AS (SELECT label, vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        |hot AS (SELECT label FROM e GROUP BY label HAVING count(*) > 48),
        |seeds AS (SELECT label, vec_id, emb,
        |    row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1 AS cell
        |  FROM e WHERE label IN (SELECT label FROM hot)
        |  QUALIFY cell < 8),
        |assign AS (
        |  SELECT v.label, v.vec_id, v.emb, s.cell,
        |    row_number() OVER (PARTITION BY v.label, v.vec_id
        |      ORDER BY round(list_cosine_similarity(v.emb, s.emb), 6) DESC, s.cell) AS rn
        |  FROM e v JOIN seeds s ON v.label = s.label),
        |blocked AS (
        |  SELECT label, 0 AS cell, vec_id, emb FROM e
        |  WHERE label NOT IN (SELECT label FROM hot)
        |  UNION ALL
        |  SELECT label, cell, vec_id, emb FROM assign WHERE rn = 1)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.emb, b.emb), 6) AS cosim
        |FROM blocked a JOIN blocked b
        |  ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    "s4_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        |           FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
        |         round($qCosExpr, 6) + 0.0 AS cosim
        |  FROM q JOIN embeddings e ON e.label <> q.q_label),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosim DESC, n_id) AS BIGINT) AS rnk
        |      FROM scored)
        |SELECT q_id, q_label, n_id, n_label, cosim, rnk FROM r WHERE rnk <= 5
        |ORDER BY q_id, rnk""".stripMargin,

    "i4_retrieval_eval" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, q.q_label, e.vec_id AS n_id, (e.label = q.q_label) AS rel,
        |    round($qCosExpr, 6) + 0.0 AS cosim
        |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosim DESC, n_id) AS BIGINT) AS rnk
        |      FROM scored),
        |ev AS (
        |  SELECT q_id, q_label,
        |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_total,
        |    CAST(sum(CASE WHEN rel AND rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    min(CASE WHEN rel AND rnk <= 10 THEN rnk END) AS first_rel_rank
        |  FROM r GROUP BY q_id, q_label)
        |SELECT q_id, q_label, n_rel_total, hits, first_rel_rank,
        |  coalesce(1000000 // first_rel_rank, CAST(0 AS BIGINT)) AS rr_micros,
        |  hits * 1000000 // 10 AS precision_micros,
        |  CASE WHEN n_rel_total > 0 THEN hits * 1000000 // n_rel_total END AS recall_micros
        |FROM ev ORDER BY q_id""".stripMargin,
    // i5 composes the two pipelines the engine composes: s1's exact
    // ranking (labels attached, i4's scored shape) as ground truth and
    // s3's cell-assignment/probe/re-rank CTEs VERBATIM as the index
    // side, then the per-query overlap/hit/RR table.
    "i5_index_eval" ->
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
        |qx AS (SELECT vec_id AS q_id, label AS q_label, ve AS qe FROM v WHERE vec_id < 5),
        |sx AS (SELECT qx.q_id, qx.q_label, e.vec_id AS n_id, (e.label = qx.q_label) AS rel,
        |         round(list_cosine_similarity(qx.qe, e.ve), 6) + 0.0 AS cosim
        |       FROM qx JOIN v e ON e.vec_id <> qx.q_id),
        |rx AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosim DESC, n_id) AS BIGINT) AS rnk
        |       FROM sx),
        |ex AS (SELECT q_id, n_id, rel, rnk FROM rx WHERE rnk <= 10),
        |c AS (SELECT vec_id AS cell, ve AS ce FROM v WHERE vec_id < 16),
        |a AS (SELECT v.vec_id, c.cell,
        |        row_number() OVER (PARTITION BY v.vec_id
        |          ORDER BY round(list_cosine_similarity(ve, ce), 6) DESC, c.cell) AS rn
        |      FROM v CROSS JOIN c),
        |asg AS (SELECT vec_id AS n_id, cell FROM a WHERE rn = 1),
        |p AS (SELECT qx.q_id, c.cell,
        |        row_number() OVER (PARTITION BY qx.q_id
        |          ORDER BY round(list_cosine_similarity(qx.qe, c.ce), 6) DESC, c.cell) AS prn
        |      FROM qx CROSS JOIN c),
        |probes AS (SELECT q_id, cell FROM p WHERE prn <= 4),
        |si AS (
        |  SELECT probes.q_id, asg.n_id, (nv.label = qq.q_label) AS rel,
        |         round(list_cosine_similarity(qv.ve, nv.ve), 6) + 0.0 AS cosim
        |  FROM probes JOIN asg USING (cell)
        |  JOIN v qv ON qv.vec_id = probes.q_id
        |  JOIN qx qq ON qq.q_id = probes.q_id
        |  JOIN v nv ON nv.vec_id = asg.n_id
        |  WHERE asg.n_id <> probes.q_id),
        |ri AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosim DESC, n_id) AS BIGINT) AS rnk
        |       FROM si),
        |ix AS (SELECT q_id, n_id, rel, rnk FROM ri WHERE rnk <= 10),
        |exagg AS (SELECT q_id,
        |    CAST(count(*) AS BIGINT) AS exact_n,
        |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
        |    min(CASE WHEN rel THEN rnk END) AS exact_first
        |  FROM ex GROUP BY q_id),
        |ixagg AS (SELECT q_id,
        |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS index_hits,
        |    min(CASE WHEN rel THEN rnk END) AS index_first
        |  FROM ix GROUP BY q_id),
        |ov AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_overlap
        |       FROM ex JOIN ix ON ex.q_id = ix.q_id AND ex.n_id = ix.n_id
        |       GROUP BY ex.q_id)
        |SELECT qx.q_id, qx.q_label,
        |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(ov.n_overlap, 0) * 1000000 // least(10, exagg.exact_n) AS BIGINT) AS recall_vs_exact_micros,
        |  exagg.exact_hits,
        |  CAST(coalesce(ixagg.index_hits, 0) AS BIGINT) AS index_hits,
        |  coalesce(1000000 // exagg.exact_first, CAST(0 AS BIGINT)) AS exact_rr_micros,
        |  coalesce(1000000 // ixagg.index_first, CAST(0 AS BIGINT)) AS index_rr_micros,
        |  coalesce(1000000 // exagg.exact_first, CAST(0 AS BIGINT))
        |    - coalesce(1000000 // ixagg.index_first, CAST(0 AS BIGINT)) AS rr_delta_micros
        |FROM qx JOIN exagg ON exagg.q_id = qx.q_id
        |  LEFT JOIN ixagg ON ixagg.q_id = qx.q_id
        |  LEFT JOIN ov ON ov.q_id = qx.q_id
        |ORDER BY qx.q_id""".stripMargin,

    "s1_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS n_id, round($qCosExpr, 6) + 0.0 AS cosim
        |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosim DESC, n_id) AS BIGINT) AS rnk
        |      FROM scored)
        |SELECT q_id, n_id, cosim, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

    "x1_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> list_contains(['the','a','fast'], x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(['data','table','row'], x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(['join','merge','group'], x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(['window','stream','batch'], x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(['spark','vector','hash'], x))) AS s_zh
        | FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "x2_quality_score" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr_raw,
        |  CAST(len(list_filter(toks, x -> list_contains(
        |    ['the','a','fast','data','table','row','join','merge','group','window','stream','batch','spark','vector','hash'],
        |    x))) AS DOUBLE) / len(toks) AS stop_raw
        | FROM b)
        |SELECT doc_id, n_words, round(ttr_raw, 6) AS ttr, round(stop_raw, 6) AS stop_ratio,
        |  round(0.4 * ttr_raw + 0.3 * (1.0 - abs(stop_raw - 0.4))
        |        + 0.3 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0), 6) AS quality_score
        |FROM c ORDER BY doc_id""".stripMargin,

    // x4: the poly-31 rolling hashes replayed in SQL — prefix hashes via a
    // recursive CTE over byte positions (HUGEINT mod 2^64 mirrors the
    // kernel's wraparound long), window hashes as P[i] − P[i−32]·31³²,
    // min over the SIGNED interpretation exactly like the kernel.
    // ASCII corpus assumed (see d2's note): unicode(text[i]) == byte i.
    "x4_fingerprint" ->
      """WITH RECURSIVE pre AS (
        |  SELECT doc_id, 0 AS i, CAST(0 AS HUGEINT) AS p, length(text) AS n, text
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i+1,
        |         (p*31 + unicode(text[i+1])) % CAST(18446744073709551616 AS HUGEINT),
        |         n, text
        |  FROM pre WHERE i < n),
        |fin AS (SELECT doc_id, p AS pfull FROM pre WHERE i = n),
        |wins AS (
        |  SELECT a.doc_id,
        |         ((a.p - b.p * CAST(3671467063254694913 AS HUGEINT))
        |            % CAST(18446744073709551616 AS HUGEINT)
        |          + CAST(18446744073709551616 AS HUGEINT))
        |           % CAST(18446744073709551616 AS HUGEINT) AS w
        |  FROM pre a JOIN pre b ON a.doc_id = b.doc_id AND b.i = a.i - 32),
        |minwin AS (
        |  SELECT doc_id,
        |    min(CAST(CASE WHEN w >= 9223372036854775808 THEN w - CAST(18446744073709551616 AS HUGEINT) ELSE w END AS BIGINT)) AS mw
        |  FROM wins GROUP BY doc_id)
        |SELECT f.doc_id,
        |  CAST(CASE WHEN pfull >= 9223372036854775808 THEN pfull - CAST(18446744073709551616 AS HUGEINT) ELSE pfull END AS BIGINT) AS fp64,
        |  COALESCE(m.mw,
        |    CAST(CASE WHEN pfull >= 9223372036854775808 THEN pfull - CAST(18446744073709551616 AS HUGEINT) ELSE pfull END AS BIGINT)) AS min_win_fp
        |FROM fin f LEFT JOIN minwin m USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,

    // x7: the feature-hashing embedding replayed end-to-end — per-token
    // poly-31 + xorshift64 (HUGEINT mod 2^64), ±1 accumulation per
    // dimension, L2 normalization, and the ordered digest fold, all
    // bit-exact against the kernel (sums of ±1 and of squared integers
    // are exact in double regardless of order; the normalized components
    // and their squares fold in dimension order via list_reduce).
    "x7_hash_embedding" ->
      s"""WITH toks AS (
        |  -- ASCII corpus assumed (see d2's note): codepoint fold == byte fold
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h0 AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS HUGEINT))),
        |      (h, b) -> (h*31 + b) % CAST(18446744073709551616 AS HUGEINT)) AS u
        |  FROM toks),
        |$splitmixCtes,
        |feats AS (
        |  SELECT doc_id, CAST(u % 64 AS BIGINT) AS idx,
        |         CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT) THEN -1.0 ELSE 1.0 END AS sgn
        |  FROM m5),
        |acc AS (SELECT doc_id, idx, sum(sgn) AS a FROM feats GROUP BY doc_id, idx),
        |ssq AS (SELECT doc_id, sum(a*a) AS ss FROM acc GROUP BY doc_id),
        |comp AS (
        |  SELECT acc.doc_id, idx,
        |         CASE WHEN ssq.ss > 0 THEN a / sqrt(ssq.ss) ELSE a END AS v
        |  FROM acc JOIN ssq ON acc.doc_id = ssq.doc_id),
        |nz AS (SELECT doc_id, idx, v FROM comp WHERE v <> 0),
        |stats AS (
        |  SELECT doc_id,
        |    count(*) AS nnz,
        |    round(sqrt(list_reduce(list_prepend(0.0, list(v*v ORDER BY idx)), (s, x) -> s + x)), 6) AS l2_norm,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list(CAST(idx AS HUGEINT) * 4294967296 + CAST(CAST(floor(v*1e6 + 0.5) AS BIGINT) AS HUGEINT) + 2147483648 ORDER BY idx)),
        |      (h, e) -> (((h*31 + e // 4294967296) * 31 + e % 4294967296 - 2147483648)
        |                   % CAST(18446744073709551616 AS HUGEINT)
        |                 + CAST(18446744073709551616 AS HUGEINT))
        |                  % CAST(18446744073709551616 AS HUGEINT)) AS dig
        |  FROM nz GROUP BY doc_id),
        |ntok AS (
        |  SELECT doc_id, CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT n.doc_id, n.n_tokens,
        |  COALESCE(s.nnz, 0) AS nnz,
        |  COALESCE(s.l2_norm, 0.0) AS l2_norm,
        |  CAST(CASE WHEN COALESCE(s.dig, CAST(0 AS HUGEINT)) >= CAST(9223372036854775808 AS HUGEINT)
        |       THEN COALESCE(s.dig, CAST(0 AS HUGEINT)) - CAST(18446744073709551616 AS HUGEINT)
        |       ELSE COALESCE(s.dig, CAST(0 AS HUGEINT)) END AS BIGINT) AS vec_digest
        |FROM ntok n LEFT JOIN stats s ON n.doc_id = s.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    "x5_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS wc FROM tok GROUP BY w),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(sum(ln(CAST(wc AS DOUBLE) / (SELECT n FROM tot))) / count(*), 4) + 0.0 AS avg_logprob
        |FROM tok JOIN freq USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x8_stratified_sample" ->
      """SELECT source, CAST(25 + (length(source) * 17) % 50 AS BIGINT) AS rate_pct,
        |       count(*) AS n_sampled, min(doc_id) AS first_kept
        |FROM documents
        |WHERE (((((doc_id % 2147483648 + 2147483648) % 2147483648) * 1103515245 + 12345) % 2147483648) // 65536) % 100
        |      < 25 + (length(source) * 17) % 50
        |GROUP BY source ORDER BY source""".stripMargin,

    "x28_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         (((((((doc_id % 2147483648 + 2147483648) % 2147483648) * 1103515245 + 12345) % 2147483648) // 65536) % 32768) + 1.0)
        |           / 32768.0 AS u
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |       round(power(u, 1.0 / n_tokens), 9) AS key
        |FROM s ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,

    "x12_tfidf_terms" ->
      """WITH tok AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tfc AS (SELECT source, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT w, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT tfc.source, tfc.w, tfc.tf, dfc.df,
        |        round(tfc.tf * ln((SELECT n FROM nd) / dfc.df), 4) AS score
        |      FROM tfc JOIN dfc USING (w)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, w) AS BIGINT) AS rnk
        |      FROM s)
        |SELECT source, rnk, w AS term, tf, df, score FROM r WHERE rnk <= 5
        |ORDER BY source, rnk""".stripMargin,

    "x14_quality_bins" ->
      """WITH b AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, source,
        |  round(0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
        |    + 0.3 * (1.0 - abs(CAST(len(list_filter(toks, x -> list_contains(
        |        ['the','a','fast','data','table','row','join','merge','group','window','stream','batch','spark','vector','hash'],
        |        x))) AS DOUBLE) / len(toks) - 0.4))
        |    + 0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0), 6) AS q
        | FROM b),
        |r AS (SELECT source, doc_id, q,
        |        CAST(ntile(10) OVER (PARTITION BY source ORDER BY q, doc_id) AS BIGINT) AS decile
        |      FROM c)
        |SELECT source, decile, count(*) AS n_docs,
        |       round(min(q), 6) AS q_lo, round(max(q), 6) AS q_hi
        |FROM r GROUP BY 1, 2 ORDER BY source, decile""".stripMargin,

    "i1_inverted_index" ->
      """WITH pairs AS (SELECT DISTINCT doc_id, w
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents))
        |SELECT w, CAST(doc_id // 64 AS BIGINT) AS segment, count(*) AS n_docs,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM pairs GROUP BY w, segment ORDER BY w, segment""".stripMargin,

    "x3_token_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens,
        |  round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 4) AS avg_ws_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // x38: the per-source datasheet replayed naively — one grouped scan
    // for the totals (x3's token conventions), a (source, lang) count
    // window for the deterministic top language, truncating micro rates
    "x38_source_datasheet" ->
      """WITH base AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    count(DISTINCT text) AS n_uniq,
        |    count(DISTINCT lang) AS n_langs
        |  FROM documents GROUP BY 1),
        |lng AS (
        |  SELECT source, lang, count(*) AS ln,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY count(*) DESC, lang) AS rk
        |  FROM documents GROUP BY 1, 2)
        |SELECT b.source, b.n_docs, b.n_chars, b.n_tokens,
        |  b.n_chars // b.n_docs AS avg_chars,
        |  b.n_langs, l.lang AS top_lang,
        |  (l.ln * 1000000) // b.n_docs AS top_lang_micros,
        |  b.n_docs - b.n_uniq AS dup_docs,
        |  ((b.n_docs - b.n_uniq) * 1000000) // b.n_docs AS dup_rate_micros
        |FROM base b JOIN lng l
        |  ON l.source IS NOT DISTINCT FROM b.source AND l.rk = 1
        |ORDER BY b.source""".stripMargin,

    // c2: c1's shingle CTEs with a LEFT join so zero-overlap docs keep a
    // row; the contaminated verdict is an integer cross-multiply
    // (denom * n_hit >= n_shingles), never a rounded-double compare
    "c2_contamination_frac" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(range(1, len(t) - 6),
        |           i -> array_to_string(list_slice(t, i, i + 7), ' ')))) AS s
        |  FROM toks WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
        |j AS (
        |  SELECT sh.doc_id, sh.source,
        |         count(*) AS n_shingles, count(bench.s) AS n_hit
        |  FROM sh LEFT JOIN bench ON sh.s = bench.s
        |  WHERE sh.source <> 'src0'
        |  GROUP BY 1, 2)
        |SELECT doc_id, source, CAST(n_shingles AS BIGINT) AS n_shingles,
        |       CAST(n_hit AS BIGINT) AS n_hit,
        |       round(CAST(n_hit AS DOUBLE) / n_shingles, 6) AS contam_frac,
        |       n_hit * 5 >= n_shingles AS contaminated
        |FROM j ORDER BY doc_id""".stripMargin,

    // i2: per-term BM25 contributions rounded to 9 and summed as exact
    // decimals (the k1 discipline) so the top-20 cut can't move with
    // partial-aggregation order; constants mirror the Scala fold
    // (k1+1 = 2.2, 1-b = 0.25) so both engines run identical IEEE ops
    "i2_bm25_topk" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM docs),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(toks) AS w FROM docs)
        |       WHERE w IN ('spark', 'window', 'join') GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          (CAST(dl AS DOUBLE) * n_docs / tot_dl))), 9) AS contrib
        |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, count(*) AS n_terms_hit,
        |       round(CAST(sum(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 4) + 0.0 AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // x36: the NAIVE per-source rank form — the engine's two-phase
    // bucket-histogram ranks must reproduce it exactly (x31 precedent);
    // split boundaries as integer cross-multiplies, never float pcts.
    "x36_split_assign" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    (((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) AS r1
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source,
        |    (xor(r1, r1 // 32768) * 69069 + 1234567) % 2147483648 AS split_key
        |  FROM r),
        |c AS (
        |  SELECT doc_id, source, split_key,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY split_key, doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM k)
        |SELECT doc_id, source, split_key, CAST(rnk AS BIGINT) AS rnk,
        |  CASE WHEN rnk * 100 <= n_src * 98 THEN 'train'
        |       WHEN rnk * 100 <= n_src * 99 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM c ORDER BY doc_id""".stripMargin,

    // x30/x31/x36 share the two-round LCG permutation key — pure int64
    // arithmetic, no fold can overflow (2^31*1103515245 < 2^62)
    "x30_corpus_shuffle" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    (((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) AS r1
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source,
        |    (xor(r1, r1 // 32768) * 69069 + 1234567) % 2147483648 AS shuffle_key
        |  FROM r),
        |s AS (SELECT doc_id, source, shuffle_key,
        |        (shuffle_key // 65536) % 16 AS shard_id FROM k)
        |SELECT shard_id,
        |       CAST(row_number() OVER (PARTITION BY shard_id
        |         ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos_in_shard,
        |       doc_id, source, shuffle_key
        |FROM s ORDER BY shard_id, pos_in_shard""".stripMargin,

    // x31's oracle is the NAIVE global-prefix rule (one window per source);
    // the engine's two-phase bucket-histogram form must reproduce it
    // exactly — that equivalence is what the hash check certifies
    "x31_token_budget_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS wc,
        |    (((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) AS r1
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source, wc,
        |    (xor(r1, r1 // 32768) * 69069 + 1234567) % 2147483648 AS pri
        |  FROM r),
        |c AS (
        |  SELECT doc_id, source, wc, pri,
        |    sum(wc) OVER (PARTITION BY source ORDER BY pri, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM d)
        |SELECT doc_id, source, CAST(wc AS BIGINT) AS wc, pri,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |       cum_tokens <= 4000 AS kept
        |FROM c ORDER BY source, pri, doc_id""".stripMargin,

    // x32: λ literal spelled (1.0 - 0.7) so DuckDB folds the same IEEE
    // subtraction the Scala code does (0.30000000000000004, not 0.3)
    "x32_bigram_logprob" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT w, count(*) AS uc
        |        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(sum(uc) AS DOUBLE) AS tot FROM uni),
        |occ AS (
        |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |          i -> {'w1': t[CAST(i AS INT)], 'w2': t[CAST(i+1 AS INT)]})) AS bg
        |        FROM toks WHERE len(t) >= 2)),
        |bi AS (SELECT w1, w2, count(*) AS bc FROM occ GROUP BY 1, 2),
        |lp AS (
        |  SELECT occ.doc_id,
        |    ln(0.7 * (CAST(bc AS DOUBLE) / uc1.uc)
        |      + (1.0 - 0.7) * (CAST(uc2.uc AS DOUBLE) / tot)) AS lp
        |  FROM occ JOIN bi USING (w1, w2)
        |    JOIN uni uc1 ON occ.w1 = uc1.w
        |    JOIN uni uc2 ON occ.w2 = uc2.w
        |    CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(lp) / count(*), 4) + 0.0 AS avg_bigram_lp
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // k4: k1's assignment CTEs taken to rn <= 2 — rn=1 is the own-centroid
    // cosine, rn=2 the runner-up; margins subtract as exact decimals
    "k4_cluster_quality" ->
      s"""$kAssignSql,
        |p AS (
        |  SELECT vec_id,
        |    max(CASE WHEN rn = 1 THEN centroid_id END) AS centroid_id,
        |    max(CASE WHEN rn = 1 THEN cos END) AS a_cos,
        |    max(CASE WHEN rn = 2 THEN cos END) AS b_cos
        |  FROM b WHERE rn <= 2 GROUP BY vec_id),
        |m AS (SELECT vec_id, centroid_id,
        |        CAST(a_cos AS DECIMAL(18,6)) AS a_d,
        |        CAST(a_cos AS DECIMAL(18,6)) - CAST(b_cos AS DECIMAL(18,6)) AS margin
        |      FROM p)
        |SELECT centroid_id, count(*) AS n_vecs,
        |       round(CAST(sum(a_d) AS DOUBLE) / count(*), 6) + 0.0 AS avg_cos,
        |       round(CAST(sum(margin) AS DOUBLE) / count(*), 6) + 0.0 AS avg_margin,
        |       CAST(min(margin) AS DOUBLE) + 0.0 AS min_margin,
        |       min(vec_id) AS first_vec
        |FROM m GROUP BY 1 ORDER BY centroid_id""".stripMargin,

    // g2: three PageRank supersteps unrolled over the d4 pair graph, all
    // INTEGER arithmetic (micro-units of 1e12, `//` = Spark's `div` on
    // positives) so aggregation order cannot perturb a single rank; the
    // final double is one correctly-rounded IEEE division, unrounded.
    "g2_pagerank" ->
      s"""WITH pairs AS MATERIALIZED ($d4PairsSql),
        |edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
        |p0 AS MATERIALIZED (SELECT src AS id, deg, 1000000000000 // (SELECT n FROM nn) AS pr
        |       FROM deg),
        |p1 AS MATERIALIZED (SELECT e.dst AS id,
        |         (15 * (1000000000000 // (SELECT n FROM nn))) // 100
        |           + CAST((85 * sum(p.pr // p.deg)) // 100 AS BIGINT) AS pr
        |       FROM edges e JOIN p0 p ON p.id = e.src GROUP BY e.dst),
        |p2 AS MATERIALIZED (SELECT e.dst AS id,
        |         (15 * (1000000000000 // (SELECT n FROM nn))) // 100
        |           + CAST((85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr
        |       FROM edges e JOIN p1 p ON p.id = e.src
        |         JOIN deg d ON d.src = e.src GROUP BY e.dst),
        |p3 AS MATERIALIZED (SELECT e.dst AS id,
        |         (15 * (1000000000000 // (SELECT n FROM nn))) // 100
        |           + CAST((85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr
        |       FROM edges e JOIN p2 p ON p.id = e.src
        |         JOIN deg d ON d.src = e.src GROUP BY e.dst)
        |SELECT p3.id AS doc_id, d.deg, p3.pr AS pr_micros,
        |       CAST(p3.pr AS DOUBLE) / 1000000000000.0 AS pagerank
        |FROM p3 JOIN deg d ON d.src = p3.id
        |ORDER BY doc_id""".stripMargin,

    // d9: d6's recursive-CTE group labels + one group-size count; the
    // weight is a single IEEE division (see g2's note on skipping round)
    "d9_dup_weights" ->
      """WITH RECURSIVE tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |  FROM tok a JOIN tok b ON a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a_id, b_id
        |  FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |  WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8),
        |edges AS (SELECT a_id, b_id FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(src, node) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON r.node = e.a_id),
        |labels AS (SELECT src AS doc_id, min(node) AS group_id
        |           FROM reach GROUP BY src),
        |gs AS (SELECT group_id, count(*) AS group_size FROM labels GROUP BY 1)
        |SELECT doc_id, group_id, group_size,
        |       CAST(1 AS DOUBLE) / group_size AS weight
        |FROM labels JOIN gs USING (group_id) ORDER BY doc_id""".stripMargin,

    // s6: s3's assignment + probe CTEs verbatim; the tail swaps the rank
    // window for the radius predicate on the rounded cosine
    "s6_range_search" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
        |c AS (SELECT vec_id AS cell, ve AS ce FROM v WHERE vec_id < 16),
        |a AS (SELECT v.vec_id, c.cell,
        |        row_number() OVER (PARTITION BY v.vec_id
        |          ORDER BY round(list_cosine_similarity(ve, ce), 6) DESC, c.cell) AS rn
        |      FROM v CROSS JOIN c),
        |asg AS (SELECT vec_id AS n_id, cell FROM a WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, ve AS qe FROM v WHERE vec_id < 5),
        |p AS (SELECT q_id, cell,
        |        row_number() OVER (PARTITION BY q_id
        |          ORDER BY round(list_cosine_similarity(qe, ce), 6) DESC, cell) AS prn
        |      FROM q CROSS JOIN c),
        |probes AS (SELECT q_id, cell FROM p WHERE prn <= 4),
        |scored AS (
        |  SELECT probes.q_id, asg.n_id,
        |         round(list_cosine_similarity(qv.ve, nv.ve), 6) + 0.0 AS cosim
        |  FROM probes JOIN asg USING (cell)
        |  JOIN v qv ON qv.vec_id = probes.q_id
        |  JOIN v nv ON nv.vec_id = asg.n_id
        |  WHERE asg.n_id <> probes.q_id),
        |f AS (SELECT * FROM scored WHERE cosim >= 0.3)
        |SELECT q_id, n_id, cosim,
        |       count(*) OVER (PARTITION BY q_id) AS n_hits
        |FROM f ORDER BY q_id, cosim DESC, n_id""".stripMargin,

    // x33: x5's scoring CTEs + standard-SQL ntile on the ROUNDED score
    // (identical values on both engines per x5's hash gate, doc_id
    // tie-break ⇒ identical tertile boundaries)
    "x33_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS wc FROM tok GROUP BY w),
        |tot AS (SELECT count(*) AS n FROM tok),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    round(sum(ln(CAST(wc AS DOUBLE) / (SELECT n FROM tot))) / count(*), 4) + 0.0 AS avg_logprob
        |  FROM tok JOIN freq USING (w) GROUP BY doc_id),
        |b AS (SELECT s.doc_id, d.lang, s.n_tokens, s.avg_logprob,
        |        CAST(ntile(3) OVER (PARTITION BY d.lang
        |          ORDER BY s.avg_logprob DESC, s.doc_id) AS BIGINT) AS bucket
        |      FROM scored s JOIN documents d ON d.doc_id = s.doc_id)
        |SELECT doc_id, lang, n_tokens, avg_logprob, bucket,
        |       CASE WHEN bucket = 1 THEN 'head'
        |            WHEN bucket = 2 THEN 'middle' ELSE 'tail' END AS bucket_name,
        |       bucket < 3 AS keep
        |FROM b ORDER BY doc_id""".stripMargin,

    // v3: one 1-row aggregate + a verdict row per rule
    "v3_expectation_check" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn_qty,
        |    min(CAST(l_quantity AS DOUBLE)) AS mn_qty,
        |    max(CAST(l_quantity AS DOUBLE)) AS mx_qty,
        |    min(CAST(l_discount AS DOUBLE)) AS mn_disc,
        |    max(CAST(l_discount AS DOUBLE)) AS mx_disc,
        |    count(DISTINCT l_returnflag) AS nd_rf
        |  FROM lineitem)
        |SELECT rule, metric, passed, n_rows FROM (
        |  SELECT 'l_quantity completeness = 1' AS rule,
        |         1.0 - CAST(nn_qty AS DOUBLE) / n_rows AS metric,
        |         nn_qty = 0 AS passed, n_rows FROM a
        |  UNION ALL SELECT 'l_quantity min >= 1', mn_qty, mn_qty >= 1.0, n_rows FROM a
        |  UNION ALL SELECT 'l_quantity max <= 50', mx_qty, mx_qty <= 50.0, n_rows FROM a
        |  UNION ALL SELECT 'l_discount min >= 0', mn_disc, mn_disc >= 0.0, n_rows FROM a
        |  UNION ALL SELECT 'l_discount max <= 0.1', mx_disc, mx_disc <= 0.1, n_rows FROM a
        |  UNION ALL SELECT 'l_returnflag distinct <= 3', CAST(nd_rf AS DOUBLE), nd_rf <= 3, n_rows FROM a
        |  UNION ALL SELECT 'table non-empty', CAST(n_rows AS DOUBLE), n_rows > 0, n_rows FROM a)
        |ORDER BY rule""".stripMargin,

    // x34: x10's bigram fan-out + two unigram joins; counts are exact
    // longs, so the double PMI and its round-4 replay exactly (x12's
    // discipline); sum(uc) cast back from HUGEINT
    "x34_pmi_bigrams" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT source, b.w1 AS w1, b.w2 AS w2, count(*) AS bc FROM (
        |    SELECT source, unnest(list_transform(range(1, len(t)),
        |      i -> {'w1': t[CAST(i AS INT)], 'w2': t[CAST(i+1 AS INT)]})) AS b
        |    FROM toks WHERE len(t) >= 2)
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 5),
        |uc AS (SELECT source, w, count(*) AS uc
        |       FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(uc) AS BIGINT) AS tt FROM uc GROUP BY 1),
        |s AS (
        |  SELECT bg.source, bg.w1, bg.w2, bg.bc, u1.uc AS uc1, u2.uc AS uc2,
        |    round(ln((CAST(bg.bc AS DOUBLE) * tot.tt) / (u1.uc * u2.uc)), 4) + 0.0 AS pmi
        |  FROM bg
        |  JOIN uc u1 ON u1.source = bg.source AND u1.w = bg.w1
        |  JOIN uc u2 ON u2.source = bg.source AND u2.w = bg.w2
        |  JOIN tot ON tot.source = bg.source),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |        ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rnk FROM s)
        |SELECT source, rnk, w1 || ' ' || w2 AS bigram, bc, uc1, uc2, pmi
        |FROM r WHERE rnk <= 10
        |ORDER BY source, rnk""".stripMargin,

    // m5: m4's rebuilt-pixel CTEs at the 4x4 thumbnail grid; the digest is
    // the wrapping poly-31 fold over the 48 channel bytes in (row-major,
    // r,g,b) order — an ORDERED list_reduce in HUGEINT mod 2^64, signed at
    // the end (the d2/x4 technique)
    "m5_image_resize" ->
      """WITH d AS (SELECT doc_id, length(text) AS n,
        |      list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS INT)) AS tb
        |      FROM documents WHERE doc_id % 3 = 0),
        |geo AS (
        |  SELECT doc_id, n, tb,
        |    CAST(1 + (doc_id % 31) AS INT) AS w, CAST(1 + (doc_id % 17) AS INT) AS h,
        |    CAST((((1 + (doc_id % 31))*3 + 3) // 4) * 4 AS INT) AS rowSize
        |  FROM d),
        |grid AS (
        |  SELECT doc_id, w, h, CAST(g.range AS INT) AS k,
        |    (h - 1 - ((CAST(g.range AS INT) // 4) * h) // 4) * rowSize
        |      + (((CAST(g.range AS INT) % 4) * w) // 4) * 3 AS pix,
        |    n, tb
        |  FROM geo, range(0, 16) g),
        |px AS (
        |  SELECT doc_id, w, h, k,
        |    tb[(pix + 2) % n + 1] AS r, tb[(pix + 1) % n + 1] AS g2, tb[pix % n + 1] AS b
        |  FROM grid),
        |agg AS (
        |  SELECT doc_id, w, h,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      flatten(list([CAST(r AS HUGEINT), CAST(g2 AS HUGEINT), CAST(b AS HUGEINT)] ORDER BY k))),
        |      (hh, x) -> (hh*31 + x) % CAST(18446744073709551616 AS HUGEINT)) AS uh,
        |    CAST(sum((299*r + 587*g2 + 114*b) // 1000) // 16 AS BIGINT) AS lum_mean
        |  FROM px GROUP BY doc_id, w, h)
        |SELECT doc_id, w AS width, h AS height,
        |  CAST(4 AS INT) AS thumb_w, CAST(4 AS INT) AS thumb_h, lum_mean,
        |  CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
        |       THEN uh - CAST(18446744073709551616 AS HUGEINT) ELSE uh END AS BIGINT) AS thumb_hash
        |FROM agg ORDER BY doc_id""".stripMargin,

    // drift1: the full bin grid is materialized (CROSS JOIN range) so
    // smoothed terms exist for empty bins; terms round-9 then sum as
    // exact decimals (the i2 discipline)
    "drift1_psi" ->
      """WITH ev AS (
        |  SELECT event_type, ts < TIMESTAMP '2024-01-16' AS is_old,
        |    CAST(greatest(0, least(floor(value / 50.0), 9)) AS INT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, bin,
        |        sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS c_old,
        |        sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS c_new
        |      FROM ev GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c_old) AS BIGINT) AS n_old,
        |               CAST(sum(c_new) AS BIGINT) AS n_new FROM c GROUP BY 1),
        |grid AS (
        |  SELECT t.event_type, CAST(b.range AS INT) AS bin, t.n_old, t.n_new,
        |    coalesce(c.c_old, 0) AS c_old, coalesce(c.c_new, 0) AS c_new
        |  FROM tot t CROSS JOIN range(0, 10) b
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.bin = CAST(b.range AS INT)),
        |terms AS (
        |  SELECT event_type, n_old, n_new,
        |    round((CAST(c_old + 1 AS DOUBLE) / (n_old + 10)
        |         - CAST(c_new + 1 AS DOUBLE) / (n_new + 10))
        |      * ln((CAST(c_old + 1 AS DOUBLE) / (n_old + 10))
        |         / (CAST(c_new + 1 AS DOUBLE) / (n_new + 10))), 9) + 0.0 AS term
        |  FROM grid)
        |SELECT event_type, n_old, n_new,
        |  round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) + 0.0 AS psi,
        |  round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) > 0.2 AS drifted
        |FROM terms GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,

    // drift3: the two-sample chi-squared homogeneity test over drift1's
    // clamped bin grid; per-bin term is ONE double expression in the
    // same IEEE operation order as the Spark side, rounded 9, exact-
    // decimal summed, rounded 6 (the drift1/i2 discipline); the critical
    // values are the same literal table; an empty window pages with a
    // NULL statistic
    "drift3_chi2" ->
      """WITH ev AS (
        |  SELECT event_type, ts < TIMESTAMP '2024-01-16' AS is_old,
        |    CAST(greatest(0, least(floor(value / 50.0), 9)) AS INT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, bin,
        |        CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
        |        CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS c_new
        |      FROM ev GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c_old) AS BIGINT) AS n_old,
        |               CAST(sum(c_new) AS BIGINT) AS n_new FROM c GROUP BY 1),
        |terms AS (
        |  SELECT c.event_type, t.n_old, t.n_new,
        |    CASE WHEN t.n_old > 0 AND t.n_new > 0 THEN
        |      round(CAST(c_old * n_new - c_new * n_old AS DOUBLE)
        |            * CAST(c_old * n_new - c_new * n_old AS DOUBLE)
        |          / (CAST(n_old AS DOUBLE) * CAST(n_new AS DOUBLE)
        |             * CAST(c_old + c_new AS DOUBLE)), 9) + 0.0
        |    END AS term
        |  FROM c JOIN tot t USING (event_type))
        |SELECT event_type, n_old, n_new,
        |  CAST(count(*) AS INT) AS n_bins,
        |  CAST(count(*) - 1 AS INT) AS dof,
        |  CASE WHEN n_old > 0 AND n_new > 0 THEN
        |    round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) + 0.0
        |  END AS chi2,
        |  CASE WHEN n_old = 0 OR n_new = 0 THEN true
        |       WHEN count(*) - 1 >= 1 THEN
        |         round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
        |           > ([3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067,
        |               15.507, 16.919])[CAST(count(*) - 1 AS INT)]
        |       ELSE false END AS drifted
        |FROM terms GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,

    // i3: adjacency replayed over the same bigram-struct fan-out x32 uses;
    // the top-k cut is (count desc, doc_id) — fully tie-broken
    "i3_phrase_search" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |occ AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> {'w1': t[CAST(i AS INT)], 'w2': t[CAST(i+1 AS INT)]})) AS bg
        |  FROM toks WHERE len(t) >= 2)
        |SELECT 'the data' AS phrase, doc_id, count(*) AS n_occurrences
        |FROM occ WHERE bg.w1 = 'the' AND bg.w2 = 'data'
        |GROUP BY doc_id
        |ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin,

    // cdc2: one keyed aggregate + lead() over the same key; spend is the
    // exact decimal sum cast once to double (the cdc1 convention)
    "cdc2_scd2_history" ->
      """WITH s AS (
        |  SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS valid_from,
        |         count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, valid_from,
        |       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to,
        |       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) IS NULL AS is_current,
        |       n_orders, CAST(spend AS DOUBLE) AS spend
        |FROM s ORDER BY o_custkey, valid_from""".stripMargin,

    // cdc3: the MERGE-applied dimension equals the all-orders SCD2 build
    // (pre-state + delta re-aggregate exactly; decimal sums are exact
    // under the split), and the action column replays the audit: classify
    // each merged row against the chained PRE-cutoff state by key
    // existence, value change, or interval change (a new later period
    // closes the previously-current row — interval change with equal
    // aggregates).
    "cdc3_merge_upsert" ->
      """WITH a AS (
        |  SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS valid_from,
        |         count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1, 2),
        |ac AS (
        |  SELECT o_custkey, valid_from,
        |         lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to,
        |         n_orders, CAST(spend AS DOUBLE) AS spend
        |  FROM a),
        |p AS (
        |  SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS valid_from,
        |         count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |pc AS (
        |  SELECT o_custkey, valid_from,
        |         lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to,
        |         n_orders, CAST(spend AS DOUBLE) AS spend
        |  FROM p)
        |SELECT ac.o_custkey, ac.valid_from, ac.valid_to,
        |       ac.valid_to IS NULL AS is_current, ac.n_orders, ac.spend,
        |       CASE WHEN pc.n_orders IS NULL THEN 'insert'
        |            WHEN ac.n_orders <> pc.n_orders OR ac.spend <> pc.spend
        |              OR coalesce(ac.valid_to, -1) <> coalesce(pc.valid_to, -1)
        |              THEN 'update'
        |            ELSE 'unchanged' END AS action
        |FROM ac LEFT JOIN pc
        |  ON ac.o_custkey = pc.o_custkey AND ac.valid_from = pc.valid_from
        |ORDER BY ac.o_custkey, ac.valid_from""".stripMargin,

    // x35: x21's scoring chain + the x28 LCG (u centered +0.5, strictly
    // inside (0,1)) + Gumbel-top-k cut on the round-9 key
    "x35_dsir_resample" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |corpus AS (SELECT w, count(*) AS cc FROM tok GROUP BY w),
        |target AS (SELECT w, count(*) AS tc FROM tok WHERE lang = 'en' GROUP BY w),
        |vocab AS (
        |  SELECT corpus.w, cc, coalesce(tc, 0) AS tc
        |  FROM corpus LEFT JOIN target ON corpus.w = target.w),
        |tot AS (
        |  SELECT CAST(sum(cc) AS DOUBLE) AS ctot, CAST(sum(tc) AS DOUBLE) AS ttot,
        |         CAST(count(*) AS DOUBLE) AS v
        |  FROM vocab),
        |wts AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         round(sum(ln((tc + 1.0) / (ttot + v)) - ln((cc + 1.0) / (ctot + v)))
        |               / count(*), 4) + 0.0 AS dsir_weight
        |  FROM tok JOIN vocab USING (w) CROSS JOIN tot
        |  GROUP BY doc_id),
        |keyed AS (
        |  SELECT doc_id, n_tokens, dsir_weight,
        |    round(dsir_weight - ln(-ln(
        |      ((((((doc_id % 2147483648 + 2147483648) % 2147483648) * 1103515245 + 12345)
        |         % 2147483648) // 65536) % 32768 + 0.5) / 32768.0)), 9) + 0.0 AS gumbel_key
        |  FROM wts)
        |SELECT doc_id, n_tokens, dsir_weight, gumbel_key
        |FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 100""".stripMargin,

    "cls1_quality_classifier" -> cls1OracleSql,
    "cls2_pareto_filter" -> cls2OracleSql,
    "cls3_calibration" -> cls3OracleSql,
    "cls4_threshold_sweep" -> cls4OracleSql,
    "cls5_auc" -> cls5OracleSql,
    "cls6_lang_classifier" -> cls6OracleSql,

    // x37: d6's recursive-CTE connected components (the proven d6/d7
    // spelling), then the NAIVE per-source rank window over group
    // representatives (x36's oracle shape lifted to reps) — the hash
    // check certifies the two-phase bucket-rank + rep-join equivalence.
    "x37_leakage_split" ->
      """WITH RECURSIVE tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |  FROM tok a JOIN tok b ON a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a_id, b_id
        |  FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |  WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8),
        |edges AS (SELECT a_id, b_id FROM pairs
        |          UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(src, node) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON r.node = e.a_id),
        |grp AS MATERIALIZED (
        |  SELECT src AS doc_id, min(node) AS group_id FROM reach GROUP BY src),
        |repk AS (
        |  SELECT g.group_id, d.source,
        |    (xor(r1, r1 // 32768) * 69069 + 1234567) % 2147483648 AS split_key
        |  FROM (SELECT DISTINCT group_id FROM grp) g
        |  JOIN (SELECT doc_id, source,
        |          (((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648) AS r1
        |        FROM documents) d ON d.doc_id = g.group_id),
        |ranked AS (
        |  SELECT group_id,
        |    row_number() OVER (PARTITION BY source ORDER BY split_key, group_id) AS rnk,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM repk),
        |rsplit AS (
        |  SELECT group_id,
        |    CASE WHEN rnk * 100 <= n_src * 98 THEN 'train'
        |         WHEN rnk * 100 <= n_src * 99 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM ranked)
        |SELECT d.doc_id, d.source, g.group_id, s.split
        |FROM documents d JOIN grp g ON g.doc_id = d.doc_id
        |JOIN rsplit s USING (group_id)
        |ORDER BY d.doc_id""".stripMargin,

    // drift2: the NAIVE one-window-per-type KS form (the Spark side runs
    // the two-phase bucket cumsum; the hash check certifies equivalence).
    // The statistic stays integral until one final rounded division.
    "drift2_ks" ->
      """WITH ev AS (
        |  SELECT event_type, value, ts < TIMESTAMP '2024-01-16' AS is_old
        |  FROM events WHERE value IS NOT NULL),
        |c AS (
        |  SELECT event_type, value,
        |    sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS c_old,
        |    sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS c_new
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, value,
        |    sum(c_old) OVER w AS f_old,
        |    sum(c_new) OVER w AS f_new
        |  FROM c
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (
        |  SELECT event_type, CAST(sum(c_old) AS BIGINT) AS n_old,
        |         CAST(sum(c_new) AS BIGINT) AS n_new
        |  FROM c GROUP BY 1)
        |SELECT t.event_type, t.n_old, t.n_new,
        |  CAST(max(abs(f_old * t.n_new - f_new * t.n_old)) AS BIGINT) AS ks_num,
        |  CASE WHEN t.n_old > 0 AND t.n_new > 0 THEN
        |    round(CAST(max(abs(f_old * t.n_new - f_new * t.n_old)) AS DOUBLE)
        |          / (t.n_old * t.n_new), 6) END AS ks,
        |  CASE WHEN t.n_old = 0 OR t.n_new = 0 THEN TRUE ELSE
        |    round(CAST(max(abs(f_old * t.n_new - f_new * t.n_old)) AS DOUBLE)
        |          / (t.n_old * t.n_new), 6) > 0.05 END AS drifted
        |FROM cum JOIN tot t USING (event_type)
        |GROUP BY 1, 2, 3
        |ORDER BY 1""".stripMargin,
  )
}
