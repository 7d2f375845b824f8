package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CacheRegistry
import graft.operators.{Curation, DataOps, Decontamination, Dedup, Multimodal,
  Similarity, Telematics, TextAnalysis}

/** Scaling-curve measurement for the guarded dedup/ANN/graph operators:
  * times each at every supplied scale slice (see MakeScale) and prints
  * per-(query, scale) minima so exponents can be fit offline.
  *
  * Pass discipline mirrors graft.Bench: releaseAll per query, releaseShared
  * per pass — so d4 carries its shared chain's build cost and d6/d7/g1 time
  * their marginals, matching BASELINE.md's family-sum convention.
  *
  * k2 is provisioned the way SemDedup is at fleet scale: the cluster count
  * scales with the corpus (k = 8m for an m-fold slice), keeping cell
  * population constant — with fixed k its within-cluster volume is n²/k by
  * design, which no guard can (or should) hide.
  *
  *   sbt "runMain graft.tools.ScalingCurve 3 1:/root/testdata/sf0.1 10:/tmp/sfx10"
  */
object ScalingCurve {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(3)
    // args with ':' are m:dir slices; bare args filter the query list
    val (sliceArgs, nameArgs) = args.drop(1).toSeq.partition(_.contains(":"))
    val slices: Seq[(Int, String)] = sliceArgs.map { a =>
      val Array(m, dir) = a.split(":", 2)
      (m.toInt, dir)
    }
    val only = nameArgs.toSet
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def queries(m: Int): Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "d1_exact_dedup" -> ((s, d) => Dedup.exactDedup(s, d)),
      "d2_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
      "d3_simhash" -> ((s, d) => Dedup.simhashPairs(s, d)),
      "d4_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
      "d5_embedding_neardup" -> ((s, d) => Dedup.embeddingNearDup(s, d)),
      "d6_dedup_groups" -> ((s, d) => Dedup.dedupGroups(s, d)),
      "d7_keep_list" -> ((s, d) => Dedup.keepList(s, d)),
      "d8_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
      "g1_triangle_counts" -> ((s, d) => Dedup.triangleCounts(s, d)),
      "c1_contamination" -> ((s, d) => Decontamination.contaminated(s, d)),
      "x26_dup_spans" -> ((s, d) => Decontamination.dupShingleFraction(s, d)),
      "x29_dup_span_removal" -> ((s, d) => Decontamination.dupSpanRemoval(s, d)),
      "k1_centroid_assign" -> ((s, d) => Curation.centroidAssign(s, d)),
      "k2_semdedup_pairs" -> ((s, d) => Curation.semDedupPairs(s, d, k = 8 * m)),
      "k3_kmeans_refine" -> ((s, d) => Curation.kmeansRefine(s, d)),
      "s1_ann_topk" -> ((s, d) => Similarity.annTopK(s, d)),
      "s2_ann_ivf" -> ((s, d) => Similarity.annIvf(s, d)),
      "s3_ann_ivf_kmeans" -> ((s, d) => Similarity.annIvfKmeans(s, d)),
      "s4_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
      "s5_ann_ivf_pq" -> ((s, d) => Similarity.annIvfPq(s, d)),
      "s6_range_search" -> ((s, d) => Similarity.rangeSearch(s, d)),
      "g2_pagerank" -> ((s, d) => Dedup.pageRank(s, d)),
      "d9_dup_weights" -> ((s, d) => Dedup.dupWeights(s, d)),
      "c2_contamination_frac" -> ((s, d) => Decontamination.contaminationFraction(s, d)),
      "i2_bm25_topk" -> ((s, d) => TextAnalysis.bm25TopK(s, d)),
      "x30_corpus_shuffle" -> ((s, d) => Curation.corpusShuffle(s, d)),
      "x36_split_assign" -> ((s, d) => Curation.splitAssign(s, d)),
      "x38_source_datasheet" -> ((s, d) => TextAnalysis.sourceDatasheet(s, d)),
      "x31_token_budget_sample" -> ((s, d) => Curation.tokenBudgetSample(s, d)),
      "x32_bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(s, d)),
      "x33_ccnet_buckets" -> ((s, d) => TextAnalysis.ccnetBuckets(s, d)),
      "x34_pmi_bigrams" -> ((s, d) => TextAnalysis.pmiBigrams(s, d)),
      // k4 provisioned like k2: cluster count scales with the corpus
      "k4_cluster_quality" -> ((s, d) => Curation.clusterQuality(s, d, k = 8 * m)),
      "m5_image_resize" -> ((s, d) => Multimodal.imageThumbnails(s, d)),
      "m6_media_dedup" -> ((s, d) => Multimodal.mediaExactDedup(s, d)),
      "m9_media_neardup" -> ((s, d) => Multimodal.mediaNearDup(s, d)),
      "x40_dedup_curve" -> ((s, d) => Dedup.dedupCurve(s, d)),
      "m7_scene_cuts" -> ((s, d) => Multimodal.sceneCuts(s, d).toDF()),
      "m8_scene_keyframes" -> ((s, d) => Multimodal.sceneKeyframes(s, d).toDF()),
      "x35_dsir_resample" -> ((s, d) => Curation.dsirResample(s, d)),
      "s7_mmr_rerank" -> ((s, d) => Similarity.mmrRerank(s, d)),
      // the s7 throughput dial: the greedy re-rank is O(k*poolN) per query
      // group, so widening the candidate pool is the cost axis that needs
      // exponent evidence alongside the corpus-size axis
      "s7_mmr_pool100" -> ((s, d) => Similarity.mmrRerank(s, d, poolN = 100)),
      "s7_mmr_pool500" -> ((s, d) => Similarity.mmrRerank(s, d, poolN = 500)),
      "s7_mmr_pool1000" -> ((s, d) => Similarity.mmrRerank(s, d, poolN = 1000)),
      "c3_contamination_scrub" -> ((s, d) => Decontamination.contaminationScrub(s, d)),
      "k5_elbow_curve" -> ((s, d) => Curation.elbowCurve(s, d)),
      "i3_phrase_search" -> ((s, d) => TextAnalysis.phraseSearch(s, d)),
      "cdc2_scd2_history" -> ((s, d) => DataOps.scd2History(s, d)),
      "cdc3_merge_upsert" -> ((s, d) => DataOps.mergeUpsert(s, d)),
      "drift1_psi" -> ((s, d) => DataOps.psiDrift(s, d)),
      "drift2_ks" -> ((s, d) => DataOps.ksDrift(s, d)),
      "drift3_chi2" -> ((s, d) => DataOps.chi2Drift(s, d)),
      "v4_outlier_audit" -> ((s, d) => DataOps.outlierAudit(s, d)),
      "x41_html_extract" -> ((s, d) => graft.operators.Html.htmlExtract(s, d)),
      "x42_blocklist_filter" -> ((s, d) => Curation.blocklistFilter(s, d)),
      "x43_url_canonicalize" -> ((s, d) => graft.operators.Urls.urlCanonicalize(s, d)),
      "x44_robots_gate" -> ((s, d) => graft.operators.Urls.robotsGate(s, d)),
      "p1_pipeline_decision" -> ((s, d) => Curation.pipelineDecision(s, d)),
      "x45_outlink_graph" -> ((s, d) => graft.operators.Html.outlinkGraph(s, d)),
      "g3_link_pagerank" -> ((s, d) => graft.operators.Html.linkPageRank(s, d)),
      "x46_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(s, d)),
      "p2_web_pipeline" -> ((s, d) => Curation.webPipelineDecision(s, d)),
      "x47_crawl_schedule" -> ((s, d) => graft.operators.Urls.crawlSchedule(s, d)),
      "x48_domain_profile" -> ((s, d) => Curation.domainProfile(s, d)),
      "x49_fim_split" -> ((s, d) => Curation.fimSplit(s, d)),
      "x50_chat_template" -> ((s, d) => Curation.chatTemplate(s, d)),
      "x42b_blocklist_join" -> ((s, d) => Curation.blocklistFilterBroadcast(s, d)),
      "x42c_blocklist_bloom" -> ((s, d) => Curation.blocklistFilterBloom(s, d)),
      "p3_reputation_gate" -> ((s, d) => Curation.reputationGate(s, d)),
      "w1_warc_ingest" -> ((s, d) => graft.sources.Warc.warcIngest(s, d)),
      "w2_wet_extract" -> ((s, d) => graft.sources.Warc.wetExtract(s, d)),
      "x51_preference_pairs" -> ((s, d) => Curation.preferencePairs(s, d)),
      "i4_retrieval_eval" -> ((s, d) => Similarity.retrievalEval(s, d)),
      "cls6_lang_classifier" -> ((s, d) => Curation.langClassifier(s, d)),
      "w3_warc_files" -> ((s, d) => graft.sources.Warc.warcFileRoundTrip(s, d)),
      "w4_warc_gz" -> ((s, d) => graft.sources.Warc.warcGzRoundTrip(s, d)),
      "w5_warc_cdx" -> ((s, d) => graft.sources.Warc.warcGzPointReads(s, d)),
      "w6_cdx_lookup" -> ((s, d) => graft.sources.Warc.warcCdxLookup(s, d)),
      "p4_cls_lang_gate" -> ((s, d) => Curation.webPipelineClsLang(s, d)),
      "i5_index_eval" -> ((s, d) => Similarity.indexRetrievalEval(s, d)),
      // events-axis queries: flat on docs-mode slices (events base-linked);
      // run against MakeScale's events mode for real exponents
      "t3_accident_runs" -> ((s, d) => Telematics.accidentRuns(s, d)),
      "t4_congestion_daily" -> ((s, d) => Telematics.congestionDaily(s, d)),
      "t5_saturated_pairs" -> ((s, d) => Telematics.saturatedPairs(s, d)),
      "t6_session_windows" -> ((s, d) => Telematics.sessionWindows(s, d)),
      "t7_purchase_attribution" -> ((s, d) => {
        val e = graft.Tables.events(s, d)
        graft.streaming.StreamOps.purchaseAttribution(e, e)
      }),
      "t8_asof_attribution" -> ((s, d) => Telematics.asofAttribution(s, d)),
      "t9_sliding_windows" -> ((s, d) => Telematics.slidingWindows(s, d)),
      "q_funnel" -> ((s, d) => graft.operators.Analytics.funnel(s, d)),
      "q_cohort_retention" -> ((s, d) => graft.operators.Analytics.cohortRetention(s, d)),
      "q_running_total" -> ((s, d) => graft.operators.Analytics.runningTotals(s, d)),
      "q_lag_delta" -> ((s, d) => graft.operators.Analytics.purchaseDeltas(s, d)),
      "q_window_nav" -> ((s, d) => graft.operators.Analytics.windowNav(s, d)),
      "q_salted_purchases" -> ((s, d) => graft.operators.Analytics.saltedPurchaseTotals(s, d)),
      "h1_heavy_hitters" -> ((s, d) => Curation.heavyHitters(s, d)),
      "q_topk_agg" -> ((s, d) => graft.operators.Analytics.topKPerType(s, d)),
      // fact-axis queries: flat on docs/events slices (lineitem/orders
      // base-linked); run against MakeScale's facts mode for real exponents
      "q1_pricing_summary" -> ((s, d) => graft.operators.Analytics.pricingSummary(s, d)),
      "q9_nation_revenue" -> ((s, d) => graft.operators.DecisionSupport.nationRevenue(s, d)),
      "q12_late_shipments" -> ((s, d) => graft.operators.DecisionSupport.lateShipments(s, d)),
      "q18_large_orders" -> ((s, d) => graft.operators.DecisionSupport.largeOrders(s, d)),
      "q21_blame_supplier" -> ((s, d) => graft.operators.DecisionSupport.blameSupplier(s, d)),
      "cdc1_snapshot_diff" -> ((s, d) => DataOps.snapshotDiff(s, d)),
      "v3_expectation_check" -> ((s, d) => DataOps.expectationCheck(s, d)),
      "cls1_quality_classifier" -> ((s, d) => Curation.qualityClassifier(s, d)),
      "cls2_pareto_filter" -> ((s, d) => Curation.paretoFilter(s, d)),
      "cls3_calibration" -> ((s, d) => Curation.calibrationTable(s, d)),
      "cls4_threshold_sweep" -> ((s, d) => Curation.thresholdSweep(s, d)),
      "cls5_auc" -> ((s, d) => Curation.aucTable(s, d)),
      "x37_leakage_split" -> ((s, d) => Curation.leakageSplit(s, d)))

    slices.foreach { case (m, dir) =>
      Seq("documents", "embeddings").foreach { t =>
        try spark.read.parquet(s"$dir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
      (1 to iters).foreach { i =>
        // sorted run order = graft.Bench's alphabetical pass order, so
        // memo-family build OWNERSHIP here matches the pin convention
        // (i4 owns the neq-id ranking, i5 the IVF chain, d4 the scored
        // pairs, cls6 the lang training) — unsorted list order would
        // silently hand the build to whichever family member the list
        // mentions first and make the fitted exponents incomparable
        // with BASELINE's per-query attribution
        queries(m).filter(q => only.isEmpty || only(q._1))
          .sortBy(_._1).foreach { case (name, fn) =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[scaling] $name@${m}x failed: ${e.getMessage}")
              false
            } finally CacheRegistry.releaseAll()
          if (ok) {
            val sec = (System.nanoTime() - t0) / 1e9
            println(f"SCALING $name m=$m iter=$i $sec%.3f s")
          }
        }
        CacheRegistry.releaseShared()
      }
    }
    spark.stop()
  }
}
