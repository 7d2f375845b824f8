package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Doubles, Sketches, VectorFunctions}

/** Corpus-curation operators beyond the dedup family: normalization-aware
  * duplicate collapse, frequency heavy hitters, and the centroid-assignment
  * stage of SemDedup-style semantic clustering. Same scale posture as the
  * rest of the pipeline ops: per-row work is codegen'd projection, joins
  * are broadcast only when one side is bounded by construction, and every
  * aggregate is partial-mergeable.
  */
object Curation {

  /** THE normalization key — lowercase, any non-alphanumeric RUN → one
    * space (one regex pass, provably equivalent to strip-then-collapse
    * at half the regex cost), trimmed. ONE definition shared by n1, the
    * p1/p2 heuristic scoring and the incremental funnel closure, so no
    * consumer can normalize differently.
    */
  private[graft] def normExpr: Column =
    trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))

  /** The static (doc_id, norm) frame of the corpus — the group-key
    * lookup the incremental funnel closure joins (norm is a function of
    * the corpus text, so this frame never changes under the stream).
    * Memo-shared on the session: the closure probes it on EVERY landing
    * batch, and re-running the corpus-wide normalization regex per
    * batch would hand the incremental path an O(corpus) term it exists
    * to avoid.
    */
  private[graft] def normFrame(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.memoShared(
      s"normframe:${spark.sparkContext.applicationId}:$dir")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), normExpr.as("norm")))

  /** n1: normalization-aware exact dedup — lowercase, strip non-alphanumerics,
    * collapse whitespace, THEN group. Catches the near-dups that differ only
    * in case/punctuation which byte-exact d1 misses, at the same cost: one
    * hash shuffle keyed on the normalized text (at 100 TB: on its 128-bit
    * digest). `n_variants` counts how many distinct raw texts collapsed.
    */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), normExpr.as("norm"))
      .groupBy(col("norm"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        count_distinct(col("text")).as("n_variants"))
      .select(col("keep_id"), col("n_copies"), col("n_variants"),
        length(col("norm")).cast("long").as("norm_len"))
      .orderBy("keep_id")

  /** h1: frequency heavy hitters — (event_type, user_id) pairs whose count
    * is at least `minShare` of their type's total. Exact two-aggregate form:
    * the per-type totals are a types-sized relation (broadcast), the pair
    * counts partial-aggregate before the share filter. At 100 TB with a
    * hot-key pair the pair count itself would salt first (q_salted pattern);
    * the sketch form of this operator is Misra-Gries/SpaceSaving per
    * partition + merge, which trades exactness for fixed state — here the
    * exact form is the oracle-checkable baseline.
    */
  def heavyHitters(spark: SparkSession, dir: String,
                   minShare: Double = 0.008): DataFrame = {
    val totals = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("type_total"))
    Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(totals), "event_type")
      // integer-by-integer double division is exact and identical across
      // engines; the rounded share is display-only
      .filter(col("n").cast("double") / col("type_total") >= minShare)
      .select(col("event_type"), col("user_id"), col("n"),
        round(col("n").cast("double") / col("type_total"), 6).as("share"))
      .orderBy("event_type", "user_id")
  }

  /** p1: the end-to-end curation decision — one row per document with the
    * keep/drop verdict and the FIRST failing rule as the reason, combining
    * the pipeline's stages in their production order: the x42 blocklist
    * gate (domain / word / phrase / markup — the free rules run before
    * anything pays a shuffle), normalized dedup (keeper = smallest doc_id
    * in the n1 group), length bounds, x2 quality threshold, x1 language
    * agreement, c1 benchmark contamination, and the cls1/cls2 trained
    * quality gate (positive-label sources pass outright — they DEFINE
    * "high quality", the GPT-3-recipe routing the E2E composition ships —
    * while every bulk-source document faces the Pareto acceptance draw on
    * its trained score). This is the frame a training-data pipeline joins
    * against its corpus to build the final shard list, and it now carries
    * the SAME modern gates as `trainingCorpus`' composition.
    *
    * Scale shape: the heuristic stages stay one codegen scan + the
    * per-norm-group window (at 100 TB, keyed on the norm's digest); the
    * two added stages each join ONE doc-keyed verdict frame — c1's
    * hit list (bench side broadcast, hit volume bounds the shuffle) and
    * the memo-shared cls scored corpus (trained ONCE per pass on the
    * bounded id-prefix sample; the acceptance is a stateless projection
    * over it). Thresholds compare ROUNDED scores / exact integers so
    * every boundary is engine-portable.
    */
  /** The heuristic scoring projection shared VERBATIM by p1 and p2 (the
    * Scala face of the oracle-side p1SharedCtes discipline): x42
    * blocklist reason, n1 norm, length/TTR/stopword features, per-lang
    * marker counts, the x2 quality score and the x1 language vote —
    * computed over `passthrough` ++ the scoring columns in ONE codegen
    * projection (the input frame must carry `source` and `text`).
    */
  private def heuristicScored(docs: DataFrame,
                              passthrough: Seq[String]): DataFrame = {
    val toks = split(col("text"), " ")
    val stops = TextAnalysis.markers.flatMap(_._2)
    docs
      .select(
        (passthrough.map(col) ++ Seq(
          blocklistReason.as("block_reason"),
          normExpr.as("norm"),
          size(toks).cast("long").as("n_words"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr_raw"),
          (Sketches.countInSet(toks, stops).cast("double") / size(toks))
            .as("stop_raw")) ++
          TextAnalysis.markers.map { case (l, ws) =>
            Sketches.countInSet(toks, ws).as(s"s_$l")
          }): _*)
      .withColumn("q",
        round(lit(0.4) * col("ttr_raw")
          + lit(0.3) * (lit(1.0) - abs(col("stop_raw") - lit(0.4)))
          + lit(0.3) * least(col("n_words").cast("double") / 100.0, lit(1.0)), 6))
      .withColumn("pred_lang", TextAnalysis.predLangExpr(l => col(s"s_$l")))
  }

  /** The content-gate reason tail shared VERBATIM by p1 and p2: length,
    * quality, language agreement, c1 contamination, cls Pareto — the
    * stages downstream of whatever funnel the caller ran first (nested
    * as the caller's CASE's ELSE branch).
    */
  private def contentGateReason(minWords: Int, maxWords: Int,
                                minQuality: Double,
                                positiveSources: Seq[String]): Column =
    when(col("n_words") < minWords || col("n_words") > maxWords, "length")
      .when(col("q") < minQuality, "low_quality")
      .when(col("pred_lang") =!= col("lang"), "lang_mismatch")
      .when(col("contam"), "contaminated")
      .when(!(col("source").isin(positiveSources: _*) || col("cls_keep")),
        "classifier_reject")
      .otherwise("ok")

  /** The two doc-keyed verdict joins shared by p1 and p2: c1's
    * contamination hit list and the memo-shared cls Pareto acceptance,
    * null-filled for docs neither frame mentions.
    */
  private def withVerdictJoins(spark: SparkSession, dir: String,
                               positiveSources: Seq[String])
                              (scored: DataFrame): DataFrame = {
    val contam = Decontamination.contaminatedIds(spark, dir)
      .withColumn("contam", lit(true))
    val cls = acceptPareto(
      scoredCorpus(spark, dir, dim = 64, trainSample = 4096, iters = 3,
        lrDiv = 2, positiveSources = positiveSources)
        .select(col("doc_id"), col("prob_micros")))
      .select(col("doc_id"), col("keep").as("cls_keep"))
    scored
      .join(contam, Seq("doc_id"), "left")
      .join(cls, Seq("doc_id"), "left")
      .withColumn("contam", coalesce(col("contam"), lit(false)))
      .withColumn("cls_keep", coalesce(col("cls_keep"), lit(false)))
  }

  def pipelineDecision(spark: SparkSession, dir: String,
                       minWords: Int = 5, maxWords: Int = 1000,
                       minQuality: Double = 0.55,
                       positiveSources: Seq[String] =
                         Seq("src0", "src1", "src2", "src3", "src4")): DataFrame = {
    val scored = heuristicScored(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text")),
      Seq("doc_id", "lang", "source"))
      // keeper = smallest doc_id that SURVIVED the blocklist stage — the
      // staged-pipeline semantic (blocklist runs first, dedup sees only
      // survivors). A global min would let a blocked smallest copy drag
      // every clean duplicate down with it, deleting the content outright.
      .withColumn("keep_id",
        min(when(col("block_reason") === "ok", col("doc_id")))
          .over(Window.partitionBy(col("norm"))))
    val reason =
      when(col("block_reason") =!= "ok", col("block_reason"))
        .when(col("doc_id") =!= col("keep_id"), "duplicate")
        .otherwise(contentGateReason(minWords, maxWords, minQuality,
          positiveSources))
    withVerdictJoins(spark, dir, positiveSources)(scored)
      .withColumn("reason", reason)
      .select(col("doc_id"), (col("reason") === "ok").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** p2: the composed WEB pipeline — the full crawl-to-corpus funnel as
    * ONE audited verdict frame, chaining the frontier stack into p1's
    * content gates in production order: the x44 robots gate on the x43
    * canonical URL (a URL a crawler may not fetch never costs a byte of
    * bandwidth), URL-level dedup (keeper = smallest ROBOTS-ALLOWED copy of
    * the canonical group — the staged-keeper discipline: a disallowed
    * smallest copy must not delete the fetchable resource), the x41
    * extraction yield gate (a page whose parse yields zero content blocks
    * has nothing to curate), then the p1 stack unchanged: x42 blocklist,
    * normalized dedup (keeper = smallest copy that survived EVERY earlier
    * stage), length, quality, language agreement, c1 contamination, and
    * the cls1/cls2 trained Pareto gate. One row per document: canonical
    * URL, keep verdict, first-failing-rule reason spanning the funnel.
    *
    * Scale shape: ONE narrow kernel pass computes the three fetch-funnel
    * columns (canonicalize + REP match + page parse fused into a single
    * document walk) with the corpus columns passed through, so the
    * heuristic gates stay one codegen projection over the same scan — no
    * self-join back to the table. Two hash exchanges for the group
    * windows (canonical-URL key, then norm key — at 100 TB, their 128-bit
    * digests), plus p1's two doc-keyed verdict joins (c1 hits, memo-shared
    * cls scores). Robots rules ride the closure as a constant (at fleet
    * scale, a broadcast frame keyed on domain).
    */
  def webPipelineDecision(spark: SparkSession, dir: String,
                          minWords: Int = 5, maxWords: Int = 1000,
                          minQuality: Double = 0.55,
                          minBlockLen: Int = 25,
                          positiveSources: Seq[String] =
                            Seq("src0", "src1", "src2", "src3", "src4")): DataFrame =
    webPipelineVerdicts(spark, dir, minWords, maxWords, minQuality,
      minBlockLen, positiveSources)
      .orderBy("doc_id")

  /** p2's verdict frame WITHOUT the deterministic output sort — the form
    * downstream aggregators (x48) consume; the sort is the oracle
    * harness's contract, not the rollup's.
    *
    * Memo-shared on (dir, every gate parameter): p2 and x48 both start
    * from this frame, so one harness pass runs the fused funnel kernel —
    * the whole-page walk plus the two group windows and two verdict
    * joins — exactly once, and x48 times its own marginal (a
    * domain-bounded rollup) instead of re-paying the funnel. Same
    * lifecycle as d4's pair list: survives per-query release, dropped at
    * end of pass, keyed on applicationId so no frame outlives its
    * session.
    */
  private[graft] def webPipelineVerdicts(spark: SparkSession, dir: String,
                                         minWords: Int = 5, maxWords: Int = 1000,
                                         minQuality: Double = 0.55,
                                         minBlockLen: Int = 25,
                                         positiveSources: Seq[String] =
                                           Seq("src0", "src1", "src2", "src3", "src4")): DataFrame =
    graft.CacheRegistry.memoShared(
      s"p2verdicts:${spark.sparkContext.applicationId}:$dir:$minWords:" +
        s"$maxWords:$minQuality:$minBlockLen:" +
        positiveSources.mkString(","))(
      computeWebPipelineVerdicts(spark, dir, minWords, maxWords, minQuality,
        minBlockLen, positiveSources))

  private def computeWebPipelineVerdicts(spark: SparkSession, dir: String,
                                         minWords: Int, maxWords: Int,
                                         minQuality: Double,
                                         minBlockLen: Int,
                                         positiveSources: Seq[String]): DataFrame =
    webVerdictsOverFunnel(spark, dir, crawlFunnel(spark, dir, minBlockLen),
      minWords, maxWords, minQuality, positiveSources)

  /** The in-flight crawl funnel frame (doc_id, lang, source, text,
    * canon_url, allowed, n_content) — p2's first stage, shared by the
    * heuristic-gated and cls6-gated pipeline variants.
    */
  /** The per-record frontier kernel shared by the in-flight and
    * file-backed funnels: canonical URL, robots verdict, extraction
    * yield — ONE definition, so the "file-backed must equal in-flight"
    * contract (PipelineScale phase 6) can never drift on a one-sided
    * edit. The gate needs only the content-block COUNT — the audit
    * CRCs (x41's contract) would be two wasted hash folds per page.
    */
  private def frontierKernel(uri: String, html: String,
                             minBlockLen: Int): (String, Boolean, Long) = {
    val canon = Urls.canonicalizeUrl(uri)
    val (domain, path) = Urls.canonDomainPath(canon)
    val allowed = Urls.robotsVerdict(domain, path)._2
    val nContent = Html.TagWalkBlocker.blocks(html)
      .count(Html.isContent(_, minBlockLen)).toLong
    (canon, allowed, nContent)
  }

  private def crawlFunnel(spark: SparkSession, dir: String,
                          minBlockLen: Int): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)]
      .mapPartitions(_.map { case (id, lang, source, text) =>
        val (canon, allowed, nContent) = frontierKernel(
          Urls.buildUrl(id), Html.buildHtml(id, text), minBlockLen)
        (id, lang, source, text, canon, allowed, nContent)
      })
      .toDF("doc_id", "lang", "source", "text", "canon_url", "allowed",
        "n_content")
  }

  /** p4: the composed web pipeline with cls6's TRAINED language
    * identification substituted for x1's marker heuristic in the lang
    * gate — the CCNet recipe's actual first stage (Wenzek et al. 2020
    * runs fastText langid, not a hand heuristic) composed into the
    * funnel. Everything else is p2 verbatim: same frontier stages, same
    * keepers, same content gates — only the `pred_lang` column feeding
    * `lang_mismatch` changes, proving the gate composition takes a
    * learned column substitution without re-plumbing.
    *
    * Scale shape: p2's cost plus cls6's bounded training (trainSample
    * id-prefix, driver-held weights) and ONE doc-keyed join of the
    * scored-lang frame — which is memo-shared with the cls6 key (the
    * cls family convention), so a harness pass trains once.
    */
  def webPipelineClsLang(spark: SparkSession, dir: String,
                         minWords: Int = 5, maxWords: Int = 1000,
                         minQuality: Double = 0.55,
                         minBlockLen: Int = 25,
                         positiveSources: Seq[String] =
                           Seq("src0", "src1", "src2", "src3", "src4"),
                         dim: Int = 64, trainSample: Int = 4096,
                         iters: Int = 3, lrDiv: Int = 2): DataFrame = {
    val pred = scoredLangFrame(spark, dir, dim, trainSample, iters, lrDiv)
      .select(col("doc_id"), col("pred_lang"))
    webVerdictsOverFunnel(spark, dir, crawlFunnel(spark, dir, minBlockLen),
      minWords, maxWords, minQuality, positiveSources,
      predLangOverride = Some(pred))
      .orderBy("doc_id")
  }

  /** p2's verdict frame computed off FILE-READ WARC records — the fleet
    * ingest posture: the frontier stages (canonical URL, robots verdict,
    * extraction yield) run on what the `.warc` files on disk actually
    * SAY (the record's Target-URI, the record's HTTP body), with only
    * the table-resident metadata the archive doesn't carry (lang,
    * source, raw text for the quality scorer) joined back on doc_id.
    * Must produce webPipelineDecision's verdicts exactly — the
    * PipelineScale E2E gate pins that agreement at scale.
    *
    * Scale shape: one whole-file read per container (binaryFile), one
    * doc-keyed join against the metadata table, then p2's own gate
    * composition unchanged.
    */
  def webPipelineDecisionFromWarc(spark: SparkSession, dir: String,
                                  warcPath: String,
                                  minWords: Int = 5, maxWords: Int = 1000,
                                  minQuality: Double = 0.55,
                                  minBlockLen: Int = 25,
                                  positiveSources: Seq[String] =
                                    Seq("src0", "src1", "src2", "src3", "src4")): DataFrame = {
    webVerdictsOverFrontier(spark, dir,
      frontierFromRecords(spark,
        graft.sources.Warc.readWarcFileRecords(spark, warcPath),
        minBlockLen),
      minWords, maxWords, minQuality, positiveSources)
      .orderBy("doc_id")
  }

  /** The stateless frontier half of the file-backed funnel: parsed WARC
    * records (doc_id, target_uri, body) through the per-record frontier
    * kernel — ONE definition shared by batch file-backed p2 and the
    * STREAMING funnel face, so the two transports can never gate
    * differently. Page bodies never leave the stage; only the four
    * frontier columns do.
    */
  private[graft] def frontierFromRecords(spark: SparkSession,
                                         records: DataFrame,
                                         minBlockLen: Int = 25): DataFrame = {
    import spark.implicits._
    records
      .select(col("doc_id"), col("target_uri"), col("body"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, uri, body) =>
        val (canon, allowed, nContent) = frontierKernel(uri,
          new String(body, java.nio.charset.StandardCharsets.UTF_8),
          minBlockLen)
        (id, canon, allowed, nContent)
      })
      .toDF("doc_id", "canon_url", "allowed", "n_content")
  }

  /** p2's verdict frame over a SUPPLIED frontier frame (doc_id,
    * canon_url, allowed, n_content): join the corpus metadata, run the
    * shared gate composition. The seam the streaming funnel re-enters
    * on every closed container — batch-by-construction equality with
    * the file-backed p2 is this function being the only path.
    */
  private[graft] def webVerdictsOverFrontier(spark: SparkSession, dir: String,
                                             frontier: DataFrame,
                                             minWords: Int = 5,
                                             maxWords: Int = 1000,
                                             minQuality: Double = 0.55,
                                             positiveSources: Seq[String] =
                                               Seq("src0", "src1", "src2", "src3", "src4")): DataFrame = {
    val funnel = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .join(frontier, Seq("doc_id"))
      .select("doc_id", "lang", "source", "text", "canon_url", "allowed",
        "n_content")
    webVerdictsOverFunnel(spark, dir, funnel, minWords, maxWords,
      minQuality, positiveSources)
  }

  /** INCREMENTAL keeper maintenance for the streaming funnel — the
    * cdc3 kernel shape applied to p2's verdicts: given the accumulated
    * frontier and the batch's NEW rows, recompute verdicts ONLY for the
    * (canon_url / norm) groups the batch touches and return (affected
    * doc_ids, their recomputed verdict rows, the recompute input R) for
    * the caller to MERGE into its maintained verdict frame — R is the
    * exact frame the gate composition re-ran over, the instrument
    * behind the StreamBench corpus-independence rows. Provably
    * row-identical to the full recompute (spec-pinned across
    * adversarial batch prefixes):
    *
    * The gate composition's only cross-doc state is the two keeper
    * windows. A new row can change `url_keep_id` only inside its own
    * canonical group (S1 = every frontier row sharing a new row's
    * canon_url), and a row's funnel-survival flag — the input to
    * `keep_id` — changes only when its url_keep_id did, so keep_id can
    * move only inside the norm groups of S1 (A = every frontier row
    * sharing a norm with S1; norm is a function of the corpus text, so
    * the static [[normFrame]] supplies the key). Recomputing A needs
    * its windows' full inputs: A's norm groups are closed inside A by
    * construction, and A's canonical groups are pulled in as
    * window-input-only rows (R) whose own recomputed verdicts are
    * DISCARDED — any R-row whose norm touched an affected group would
    * already be in A, so partial norm groups in R never leak into kept
    * output. Every other doc's verdict inputs are untouched, so the
    * maintained rows stand.
    *
    * Scale shape: two semi-join closures over the frontier (key-only
    * columns) plus the full gate composition over R — the batch-touched
    * groups — instead of over the whole corpus; the doc-keyed verdict
    * joins (contamination, memo-shared cls scores) probe with R-sized
    * frames. This is the maintained-TABLE posture the WebFunnelState
    * scaladoc names, in code.
    */
  private[graft] def webVerdictsIncrement(spark: SparkSession, dir: String,
                                          frontier: DataFrame,
                                          newRows: DataFrame,
                                          minWords: Int = 5,
                                          maxWords: Int = 1000,
                                          minQuality: Double = 0.55,
                                          positiveSources: Seq[String] =
                                            Seq("src0", "src1", "src2", "src3", "src4"))
      : (DataFrame, DataFrame, DataFrame) = {
    val norms = normFrame(spark, dir)
    val frontierCols = Seq("doc_id", "canon_url", "allowed", "n_content")
    // the closure's probe side is always a batch-touched KEY frame —
    // broadcast them so every closure pass over the accumulated
    // frontier is a narrow scan, never a frontier-sized exchange
    // S1: full canonical groups of the batch's rows
    val s1 = frontier.join(
      broadcast(newRows.select("canon_url").distinct()),
      Seq("canon_url"), "left_semi")
    // A: S1 plus every frontier row sharing a norm with S1 (frontier
    // rows are exact-duplicate-free — the caller's anti-join — so the
    // distinct() after the union collapses only the overlap)
    val n1 = s1.join(norms, Seq("doc_id")).select("norm").distinct()
    val aNorm = frontier.join(norms, Seq("doc_id"))
      .join(broadcast(n1), Seq("norm"), "left_semi")
      .select(frontierCols.map(col): _*)
    val a = s1.select(frontierCols.map(col): _*).unionByName(aNorm).distinct()
    // R: A plus the full canonical groups of A's rows (url_keep window
    // inputs for A; recomputed rows outside A are discarded below)
    val r = frontier.join(
        broadcast(a.select("canon_url").distinct()),
        Seq("canon_url"), "left_semi")
      .select(frontierCols.map(col): _*)
      .unionByName(a).distinct()
    val aIds = a.select("doc_id").distinct()
    val verdA = webVerdictsOverFrontier(spark, dir, r, minWords, maxWords,
      minQuality, positiveSources)
      .join(broadcast(aIds), Seq("doc_id"), "left_semi")
    (aIds, verdA, r)
  }

  /** The gate composition downstream of the crawl funnel, shared by the
    * in-flight, file-backed and cls6-gated p2 variants: heuristic
    * scoring, the staged URL/content keepers, the reason CASE, the two
    * verdict joins. `funnel` must carry (doc_id, lang, source, text,
    * canon_url, allowed, n_content). `predLangOverride`, when set, is a
    * (doc_id, pred_lang) frame that REPLACES the heuristic language
    * vote before the reason CASE — the p4 substitution seam.
    */
  private def webVerdictsOverFunnel(spark: SparkSession, dir: String,
                                    funnel: DataFrame,
                                    minWords: Int, maxWords: Int,
                                    minQuality: Double,
                                    positiveSources: Seq[String],
                                    predLangOverride: Option[DataFrame] =
                                      None): DataFrame = {
    val scoredHeuristic = heuristicScored(funnel,
      Seq("doc_id", "lang", "source", "canon_url", "allowed", "n_content"))
      // fetch keeper = smallest ROBOTS-ALLOWED copy of the canonical URL
      .withColumn("url_keep_id",
        min(when(col("allowed"), col("doc_id")))
          .over(Window.partitionBy(col("canon_url"))))
      // content keeper = smallest copy that survived the WHOLE fetch
      // funnel and the blocklist — p1's staged-keeper discipline extended
      // to the frontier stages
      .withColumn("keep_id",
        min(when(col("allowed") && col("doc_id") === col("url_keep_id")
          && col("n_content") > 0 && col("block_reason") === "ok",
          col("doc_id")))
          .over(Window.partitionBy(col("norm"))))
    // the p4 seam: swap the heuristic language vote for a learned one;
    // the keepers above never read pred_lang, so the substitution sits
    // cleanly between staging and the reason CASE
    val scored = predLangOverride.fold(scoredHeuristic)(o =>
      scoredHeuristic.drop("pred_lang").join(o, Seq("doc_id")))
    val reason =
      when(!col("allowed"), "robots_disallowed")
        .when(col("doc_id") =!= col("url_keep_id"), "url_duplicate")
        .when(col("n_content") === 0, "no_content")
        .when(col("block_reason") =!= "ok", col("block_reason"))
        .when(col("doc_id") =!= col("keep_id"), "duplicate")
        .otherwise(contentGateReason(minWords, maxWords, minQuality,
          positiveSources))
    withVerdictJoins(spark, dir, positiveSources)(scored)
      .withColumn("reason", reason)
      .select(col("doc_id"), col("canon_url"),
        (col("reason") === "ok").as("keep"), col("reason"))
  }

  /** x48: domain-level curation profile — the RefinedWeb-style
    * host-reputation rollup over the composed p2 verdicts: one row per
    * (domain, reason) with the count, the domain's total and keep rate,
    * and the reason's share of the domain. This is the frame that FEEDS
    * the next crawl's domain blocklist (a host whose keep rate collapses
    * gets demoted or dropped from the frontier) and the per-host crawl
    * budget — domain-level curation is how web pipelines amortize
    * per-document gates.
    *
    * Scale shape: p2's cost plus one keyed aggregate on the domain (the
    * verdict frame is doc-keyed; the rollup output is bounded by
    * |domains| × |reasons|) and a broadcast join of the domain totals.
    * Shares are integer-by-integer double divisions rounded at 6 — the
    * h1 engine-portable discipline.
    */
  def domainProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the SHARED host split (robotsGate/x47's kernel) — a regexp
    // re-derivation here would disagree with the robots identity on
    // non-default ports and path-less canonical forms
    val byDomain = webPipelineVerdicts(spark, dir)
      .select(col("canon_url"), col("reason"))
      .as[(String, String)]
      .map { case (canon, reason) =>
        (Urls.canonDomainPath(canon)._1, reason)
      }
      .toDF("domain", "reason")
    // ONE pass over the verdict frame: the per-(domain, reason) counts
    // are the only doc-proportional aggregate; totals and kept counts
    // fold over the bounded rollup itself (keep ≡ reason = 'ok')
    val w = Window.partitionBy(col("domain"))
    byDomain
      .groupBy(col("domain"), col("reason"))
      .agg(count(lit(1)).as("n"))
      .withColumn("domain_total", sum(col("n")).over(w))
      .withColumn("n_kept",
        coalesce(sum(when(col("reason") === "ok", col("n"))).over(w), lit(0L)))
      .select(col("domain"), col("reason"), col("n"),
        col("domain_total"), col("n_kept"),
        round(col("n_kept").cast("double") / col("domain_total"), 6)
          .as("keep_rate"),
        round(col("n").cast("double") / col("domain_total"), 6).as("share"))
      .orderBy("domain", "reason")
  }

  /** x42's blocklist constants — ONE Scala definition interpolated into
    * the operator, the p1 composition and the DuckDB oracle (the x40 tau
    * convention, so the two engines can never drift). C4-shaped lists: a
    * bad-word list (token membership), canonical boilerplate phrases
    * (substring), a source/domain blocklist, and the curly-brace/
    * "javascript" code-page rule. The corpus-live entries ("dup",
    * src7/src13) make the gate fire at meaningful rates on the driver
    * tables; the canonical web entries fire on crafted spec fixtures.
    */
  private[graft] val blockedDomains: Seq[String] = Seq("src7", "src13")
  private[graft] val blockedWords: Seq[String] = Seq("deadlock", "dup", "lorem")
  private[graft] val blockedPhrases: Seq[String] =
    Seq("lorem ipsum", "privacy policy", "terms of use", "uses cookies")

  /** The x42 reason column over (source, text) — shared verbatim by the
    * standalone gate and the p1 composition. First-failing-rule order is
    * the production order: the free metadata rule, then token membership,
    * then the substring scans.
    */
  private[graft] def blocklistReason: Column = {
    val lowered = lower(col("text"))
    val toks = split(lowered, " ")
    when(col("source").isin(blockedDomains: _*), "blocked_domain")
      .when(Sketches.countInSet(toks, blockedWords) > 0, "blocked_word")
      .when(blockedPhrases.map(p => contains(lowered, lit(p))).reduce(_ || _),
        "blocked_phrase")
      .when(contains(col("text"), lit("{")) || contains(lowered, lit("javascript")),
        "markup")
      .otherwise("ok")
  }

  /** x42: C4-style blocklist gate — one row per document with the
    * keep/drop verdict and the FIRST failing rule as the reason (p1's
    * convention): domain blocklist, bad-word token membership, canonical
    * boilerplate phrases, code-page markup. ONE codegen'd projection over
    * one scan (the x1/x2 discipline) — the blocklists ride the plan as
    * literal sets (the degenerate broadcast; a production-size list —
    * C4's is ~400 words, a URL blocklist millions — swaps to a broadcast
    * join on exploded tokens or a Bloom-filter expression, same
    * one-scan shape). No shuffle at all except the ordered output.
    */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("reason", blocklistReason)
      .select(col("doc_id"), (col("reason") === "ok").as("keep"), col("reason"))
      .orderBy("doc_id")

  /** x42b: the SAME blocklist gate with the lists as BROADCAST FRAMES —
    * the production shape x42's scaladoc promises (C4's word list is
    * ~400 entries, a URL blocklist millions; a literal-set CASE chain
    * stops scaling long before that). Each rule class becomes the join
    * a real deployment runs: the domain list a broadcast equi-join on
    * source, the word list a broadcast equi-join against the exploded
    * token stream (c1's shingle-hash shape), the phrase list a
    * broadcast nested-loop contains-join (the only join shape a
    * substring rule admits). The three hit streams union with their
    * production priorities, ONE bounded aggregate takes the
    * first-failing rule per hit doc, and ONE doc-keyed left join puts
    * the verdict back on the corpus — c1/c2's exact cost class. The
    * markup rule stays a codegen expression (it keys on no list).
    * Output is row-identical to x42 (spec-pinned on crafted fixtures
    * AND the driver table), so the DuckDB oracle is x42's verbatim.
    *
    * Scale shape: the corpus-side scans stay narrow; the only
    * data-proportional exchange is the (doc_id, priority) hit stream —
    * ∝ matches, not corpus — plus the doc-keyed verdict join every
    * broadcast-list pipeline pays. Swapping a list for a 10M-row frame
    * changes broadcast size, not plan shape; past broadcast limits the
    * word join falls back to shuffle and the phrase join to a
    * Bloom-pre-filtered shuffle, same frame contract.
    */
  def blocklistFilterBroadcast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val domDf = blockedDomains.toDF("bdom")
    val wordDf = blockedWords.toDF("bword")
    val phraseDf = blockedPhrases.toDF("bphrase")
    val domHits = docs
      .join(broadcast(domDf), col("source") === col("bdom"))
      .select(col("doc_id"), lit(1).as("pri"))
    val wordHits = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .join(broadcast(wordDf), col("tok") === col("bword"))
      .select(col("doc_id"), lit(2).as("pri"))
    val phraseHits = docs
      .select(col("doc_id"), lower(col("text")).as("lt"))
      .join(broadcast(phraseDf), contains(col("lt"), col("bphrase")))
      .select(col("doc_id"), lit(3).as("pri"))
    val firstHit = domHits.union(wordHits).union(phraseHits)
      .groupBy(col("doc_id")).agg(min(col("pri")).as("pri"))
    docs
      .join(firstHit, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("pri") === 1, "blocked_domain")
          .when(col("pri") === 2, "blocked_word")
          .when(col("pri") === 3, "blocked_phrase")
          .when(contains(col("text"), lit("{")) ||
            contains(lower(col("text")), lit("javascript")), "markup")
          .otherwise("ok"))
      .select(col("doc_id"), (col("reason") === "ok").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** Build the bit vector of a Bloom filter over `values` with the SAME
    * hash family [[bloomMaybe]] probes: h1/h2 are Spark SQL's own
    * `xxhash64(v)` / `xxhash64(v, 1L)` — computed BY a (bounded,
    * list-sized) Spark job so driver build and executor probe can never
    * disagree on hash internals — and probe i sets
    * `(h1 + i*h2) mod m` with the hashes reduced mod m FIRST (keeps the
    * arithmetic overflow-free under ANSI mode). Booleans, not packed
    * bits: m is a few KiB here and `element_at` on a literal array
    * keeps the probe a codegen one-liner; a fleet-size filter (m in the
    * billions for a 10M-row list at 1% FPP) packs into longs and ships
    * as a broadcast variable instead of a plan literal — same probe
    * algebra.
    */
  private val bloomCache = scala.collection.concurrent.TrieMap
    .empty[(Seq[String], Int, Int), Seq[Boolean]]

  private[graft] def bloomBuild(spark: SparkSession, values: Seq[String],
                                m: Int, k: Int): Seq[Boolean] =
    // pure in (values, m, k) — Spark's xxhash64 is stable across
    // sessions — so the list-sized build job runs once per JVM, not
    // once per plan build
    bloomCache.getOrElseUpdate((values, m, k), {
      import spark.implicits._
      val bits = Array.fill(m)(false)
      values.toDF("v")
        .select(pmod(xxhash64(col("v")), lit(m.toLong)).as("h1"),
          pmod(xxhash64(col("v"), lit(1L)), lit(m.toLong)).as("h2"))
        .collect()
        .foreach { r =>
          val (h1, h2) = (r.getLong(0), r.getLong(1))
          (0 until k).foreach(i =>
            bits(((h1 + i * h2) % m).toInt) = true)
        }
      bits.toSeq
    })

  /** The Bloom membership test as a codegen'd Column over [[bloomBuild]]
    * bits: k `element_at` probes of a literal array, AND-folded. May
    * return true for a value never inserted (the false-positive
    * contract — callers MUST confirm with an exact join); never false
    * for an inserted one.
    */
  private[graft] def bloomMaybe(bits: Seq[Boolean], m: Int, k: Int)
                               (v: Column): Column = {
    val bitsLit = typedLit(bits)
    val h1 = pmod(xxhash64(v), lit(m.toLong))
    val h2 = pmod(xxhash64(v, lit(1L)), lit(m.toLong))
    (0 until k)
      .map(i => element_at(bitsLit,
        (pmod(h1 + lit(i.toLong) * h2, lit(m.toLong)) + 1).cast("int")))
      .reduce(_ && _)
  }

  /** x42c: the SAME blocklist gate in the PAST-BROADCAST-LIMIT shape
    * x42b's scaladoc names — when the word/phrase lists outgrow the
    * broadcast threshold (a URL blocklist is millions of rows), the
    * probe side must shrink BEFORE the shuffle, and a Bloom prefilter
    * is how: membership says "definitely not listed" for ~all of the
    * corpus-proportional stream, and only the surviving candidates pay
    * the exact confirm join. False positives are harmless (the confirm
    * join is exact), false negatives impossible (the Bloom contract),
    * so the output is row-identical to x42/x42b — spec-pinned, and the
    * DuckDB oracle is x42's verbatim.
    *
    * Rule shapes: the domain list stays a broadcast equi-join (domain
    * lists are thousands, never past the limit). The WORD rule explodes
    * tokens, Bloom-drops non-candidates in the scan projection, and
    * confirms the survivors with a SHUFFLE hash join (`shuffle_hash`
    * hint — the plan a too-big-to-broadcast list forces; the hint pins
    * the shape at bench list sizes). The PHRASE rule cannot equi-join
    * on whole phrases, so it joins on the phrase's LEADING CHARACTER
    * 4-GRAM: every contiguous 4-gram of the lowered text, probed
    * against the phrase-prefix Bloom INSIDE the gram array so only
    * candidate grams ever become rows (text itself never rides the
    * exploded stream), shuffle-joined to pair (doc, phrase)
    * candidates, then ONE exact `contains` confirm per pair after
    * joining the text back by doc_id. A phrase occurring
    * in a document forces its prefix gram into the document's gram set
    * (substring containment — unlike word-boundary tokens, which
    * punctuation can glue shut), so the pairing misses nothing.
    *
    * Scale shape: the only corpus-proportional exchanges are the
    * Bloom-SURVIVOR streams (∝ true hits + m/k-tunable false
    * positives), the pair confirm probes with candidate-sized frames,
    * and the doc-keyed verdict join every blocklist pipeline pays.
    * `m`/`k` parameterize the filters so the spec can force a
    * false-positive-rich regime and pin that the confirm join eats it.
    */
  def blocklistFilterBloom(spark: SparkSession, dir: String,
                           m: Int = 2048, k: Int = 5): DataFrame = {
    import spark.implicits._
    val gramLen = 4
    // code-POINT arithmetic on both sides of the pairing key: Spark's
    // substring and the BloomCandidates gram walk count code points, so
    // the Scala-side prefix must too — String.substring(0, 4) counts
    // UTF-16 units and would split a supplementary character (and probe
    // a prefix the gram stream can never produce) the moment a phrase
    // leads with one
    require(blockedPhrases.forall(p =>
        p.codePointCount(0, p.length) >= gramLen),
      s"phrase prefix-gram pairing needs phrases of at least $gramLen " +
        "code points")
    def phrasePrefix(p: String): String =
      p.substring(0, p.offsetByCodePoints(0, gramLen))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val domDf = blockedDomains.toDF("bdom")
    val wordDf = blockedWords.toDF("bword")
    val phraseDf = blockedPhrases.toDF("bphrase")
      .withColumn("pgram", substring(col("bphrase"), 1, gramLen))
    val wordBits = bloomBuild(spark, blockedWords, m, k)
    val gramBits =
      bloomBuild(spark, blockedPhrases.map(phrasePrefix), m, k)
    val domHits = docs
      .join(broadcast(domDf), col("source") === col("bdom"))
      .select(col("doc_id"), lit(1).as("pri"))
    // the Bloom probes run INSIDE the native one-pass kernel
    // (Sketches.bloomCandidates, spec-pinned window-for-window equal to
    // the bloomMaybe Column spelling), so the exploded survivor streams
    // materialize only candidates — the corpus-proportional token/gram
    // volumes are walked, never allocated
    val wordHits = docs
      .select(col("doc_id"),
        explode(Sketches.bloomCandidates(lower(col("text")), 0, wordBits, k))
          .as("tok"))
      .join(wordDf.hint("shuffle_hash"), col("tok") === col("bword"))
      .select(col("doc_id"), lit(2).as("pri"))
    val docGrams = docs
      .select(col("doc_id"),
        explode(Sketches.bloomCandidates(lower(col("text")), gramLen,
          gramBits, k)).as("gram"))
    val phraseHits = docGrams
      .join(phraseDf.hint("shuffle_hash"), col("gram") === col("pgram"))
      .select(col("doc_id"), col("bphrase")).distinct()
      .join(docs.select(col("doc_id"), lower(col("text")).as("lt")),
        Seq("doc_id"))
      .filter(contains(col("lt"), col("bphrase")))
      .select(col("doc_id"), lit(3).as("pri"))
    val firstHit = domHits.union(wordHits).union(phraseHits)
      .groupBy(col("doc_id")).agg(min(col("pri")).as("pri"))
    docs
      .join(firstHit, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("pri") === 1, "blocked_domain")
          .when(col("pri") === 2, "blocked_word")
          .when(col("pri") === 3, "blocked_phrase")
          .when(contains(col("text"), lit("{")) ||
            contains(lower(col("text")), lit("javascript")), "markup")
          .otherwise("ok"))
      .select(col("doc_id"), (col("reason") === "ok").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** p3: the reputation feedback loop — x48's domain-reputation frame
    * wired back in as a DYNAMIC domain blocklist, closing the
    * RefinedWeb-style loop x48's scaladoc promises: a host whose keep
    * rate collapses is demoted from the frontier, so its documents
    * never reach the per-document gates on the next crawl. The
    * reputation rule is exact integer arithmetic (the c2 convention):
    * a domain is low-reputation iff `n_kept * 100 < domain_total`
    * (keep rate strictly below 1%), never a rounded-double compare.
    * One row per document: the p2 verdict with `low_reputation`
    * overriding whenever the doc's domain failed the rule — the
    * frontier-level gate fires before any per-document stage, exactly
    * as a crawl scheduler would apply it.
    *
    * Scale shape: p2's memo-shared verdict frame + ONE bounded
    * per-domain aggregate (|domains| rows) broadcast-joined back onto
    * the doc-keyed verdicts — the dynamic-blocklist join is the
    * broadcast-frame shape (x42b's rule 1) with the list COMPUTED from
    * the pipeline's own output instead of configured. At fleet scale
    * the reputation frame comes from the previous crawl's rollup; the
    * join is unchanged.
    */
  def reputationGate(spark: SparkSession, dir: String,
                     minWords: Int = 5, maxWords: Int = 1000,
                     minQuality: Double = 0.55,
                     minBlockLen: Int = 25,
                     positiveSources: Seq[String] =
                       Seq("src0", "src1", "src2", "src3", "src4")): DataFrame = {
    import spark.implicits._
    // persistTracked: the reputation aggregate AND the verdict join both
    // scan this typed projection — without the cache the row-by-row
    // deserialize → canonDomainPath → re-serialize pass would run twice
    // per action (the computeNgramJaccard multi-consumer pattern)
    val verd = graft.CacheRegistry.persistTracked(
      webPipelineVerdicts(spark, dir, minWords, maxWords,
        minQuality, minBlockLen, positiveSources)
        .select(col("doc_id"), col("canon_url"), col("reason"))
        .as[(Long, String, String)]
        // the SHARED host split (x48's discipline) — a regexp re-derivation
        // would disagree with the robots identity on edge-case hosts
        .map { case (id, canon, reason) =>
          (id, Urls.canonDomainPath(canon)._1, reason)
        }
        .toDF("doc_id", "domain", "reason"))
    val rep = verd
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("domain_total"),
        coalesce(sum(when(col("reason") === "ok", 1L)), lit(0L)).as("n_kept"))
    verd
      .join(broadcast(rep), Seq("domain"))
      .withColumn("reason",
        when(col("n_kept") * 100 < col("domain_total"), "low_reputation")
          .otherwise(col("reason")))
      .select(col("doc_id"), col("domain"),
        (col("reason") === "ok").as("keep"), col("reason"))
      .orderBy("doc_id")
  }

  /** k1: centroid assignment — the clustering stage of SemDedup-style
    * semantic curation (cluster the corpus, then near-dup within clusters;
    * d5 is the within-cluster stage). Centroids are the `k` seed vectors
    * with the smallest vec_id (deterministic, no RNG); every vector joins
    * the broadcast centroid set, cosine runs in double, and the argmax is a
    * max-of-struct aggregate — one broadcast join + one shuffle on vec_id,
    * never a k-way self-join. A Lloyd iteration would re-average assigned
    * vectors per cluster and loop (the d6 iterate-with-localCheckpoint
    * pattern); the assignment step is the per-pass workhorse either way.
    *
    * Ties (same rounded cosine to two centroids) resolve to the smallest
    * centroid id via the struct ordering, so output is deterministic.
    */
  /** Nearest-centroid assignment shared by k1 and k2: every vector scored
    * against the broadcast seed centroids, argmax PER ROW over the
    * one-row centroid table (VectorFunctions.centroidTable — the round-17
    * shuffle-free form; ties → smallest centroid id, the same
    * max-of-struct winner). Returns (vec_id, centroid_id, cos, embedding,
    * nrm) so k2 can block its pair join on the assignment without
    * recomputing norms. No exchange: the previous groupBy(vec_id) argmax
    * shuffled the whole corpus (embeddings riding along) to pick a winner
    * a bounded-set projection decides in place.
    */
  private def assignments(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.normD(col("embedding")).as("nrm"))
    val cents = vecs
      .filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    vecs.crossJoin(broadcast(VectorFunctions.centroidTableFrame(cents)))
      .withColumn("coss",
        VectorFunctions.centCosines(col("embedding"), col("nrm"), 6))
      .select(col("vec_id"),
        VectorFunctions.argmaxCentroidId(col("coss")).as("centroid_id"),
        array_max(col("coss")).as("cos"), col("embedding"), col("nrm"))
  }

  def centroidAssign(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    assignments(spark, dir, k)
      .groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        // rounded cosines sum exactly in decimal, so the mean is
        // partial-aggregation-order independent
        Doubles.roundZ(sum(col("cos").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("avg_cos"),
        min(col("vec_id")).as("first_vec"))
      .orderBy("centroid_id")

  /** k3: Lloyd k-means refinement over the embedding corpus (spherical:
    * assignment by cosine, update by element-wise mean — the mean's
    * magnitude cancels in the next cosine). Each iteration is two shuffles:
    * the argmax assignment (broadcast centroids, same shape as k1) and the
    * centroid update (posexplode → per-(cluster, dim) average → arrays
    * rebuilt by sorted collect). Centroids live in a k-row DataFrame that
    * is localCheckpoint'ed per iteration — lineage stays flat and NOTHING
    * is ever collected to the driver (the d6 iterate-and-checkpoint
    * pattern; on a cluster the checkpoint is a reliable dir). A cluster
    * that loses all members drops out, the standard Lloyd caveat.
    * Every aggregate is summation-order independent (quantized-long
    * component sums, decimal cosine sums), so the full 3-iteration
    * refinement has an exact DuckDB oracle — the unrolled SQL twin is
    * generated in SparkEntry.
    */
  def kmeansRefine(spark: SparkSession, dir: String,
                   k: Int = 8, iters: Int = 3): DataFrame = {
    val vecs = graft.CacheRegistry.persistTracked(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"),
          VectorFunctions.normD(col("embedding")).as("nrm")))
    var cents = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"),
        transform(col("embedding"), _.cast("double")).as("c_emb"))
      .withColumn("c_nrm", VectorFunctions.normD(col("c_emb")))
      .localCheckpoint()

    // the round-17 shuffle-free assignment (see `assignments`): per-row
    // argmax over the one-row centroid table instead of a corpus-sized
    // groupBy exchange PER LLOYD ROUND (iters+1 of them here) — the
    // kernel's cosine row is sized by the table, so a cluster dropping
    // out mid-loop (the standard Lloyd caveat) just shrinks the row
    def assign(cs: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(VectorFunctions.centroidTableFrame(cs)))
        .withColumn("coss",
          VectorFunctions.centCosines(col("embedding"), col("nrm"), 9))
        .select(col("vec_id"),
          VectorFunctions.argmaxCentroidId(col("coss")).as("centroid_id"),
          array_max(col("coss")).as("cos"), col("embedding"))

    for (_ <- 0 until iters) {
      cents = assign(cents)
        .select(col("centroid_id"), posexplode(col("embedding")))
        .groupBy(col("centroid_id"), col("pos"))
        // quantized mean: components fold to ⌊x·10⁶+0.5⌋ longs first, so
        // the sum is exact and partial-aggregation-order independent —
        // the change that gives Lloyd an exact cross-engine oracle (a
        // double avg() differs by summation order); 1e-6 quantization is
        // the e1 storage grid, far below embedding noise
        .agg((sum(floor(col("col") * 1e6 + 0.5).cast("long")).cast("double")
          / count(lit(1)) / 1e6).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c_emb"))
        .withColumn("c_nrm", VectorFunctions.normD(col("c_emb")))
        .localCheckpoint()
    }
    assign(cents)
      .groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        // rounded-9 cosines sum exactly in decimal (the k1 pattern), so
        // the mean is partial-aggregation-order independent too
        Doubles.roundZ(sum(col("cos").cast("decimal(28,9)")).cast("double")
          / count(lit(1)), 6).as("avg_cos"),
        min(col("vec_id")).as("first_vec"))
      .orderBy("centroid_id")
  }

  /** k2: the full SemDedup chain — cluster the corpus (k1's assignment),
    * then exact cosine near-dup WITHIN each assigned cluster. The cluster
    * id becomes the block key of the pairwise join, so shuffle volume is
    * Σ cluster² instead of n² — the published SemDedup recipe (Abbas et
    * al., 2023: k-means then within-cluster cosine) with the same join
    * discipline as d5. Recall is bounded by the clustering (a cross-cluster
    * near-dup pair is missed by design — that is the accepted trade of the
    * technique); precision is exact because every candidate is re-scored
    * with the true double cosine.
    */
  def semDedupPairs(spark: SparkSession, dir: String, k: Int = 8,
                    minCosine: Double = 0.4): DataFrame = {
    // both sides of the pair join read the assignment — materialize once
    val assigned = graft.CacheRegistry.persistTracked(
      assignments(spark, dir, k)
        .select("vec_id", "centroid_id", "embedding", "nrm"))
    val a = assigned.select(col("centroid_id"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, Seq("centroid_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosim",
        round(VectorFunctions.cosineWithNorms(
          VectorFunctions.dotD(col("a_emb"), col("b_emb")),
          col("a_nrm"), col("b_nrm")), 6))
      .filter(col("cosim") >= minCosine)
      .select(col("centroid_id"), col("a_id"), col("b_id"), col("cosim"))
      .orderBy("a_id", "b_id")
  }

  /** e1: int8 scalar quantization audit — per label, the reconstruction
    * error of symmetric per-vector int8 quantization (scale = max|x|/127,
    * the storage format that shrinks an embedding fleet 4x before ANN
    * serving). Rounding is spelled floor(x/s + 0.5) so every engine bit-
    * agrees on the quantized code (round() half-away vs half-even varies
    * by engine; floor does not). One codegen'd projection per vector (the
    * HOF lambdas are per-dimension arithmetic over a 64-wide array — tiny
    * next to the scan), then one partial-mergeable aggregate keyed on the
    * label. Nothing driver-side, nothing vocabulary-sized.
    */
  def quantizeError(spark: SparkSession, dir: String): DataFrame = {
    val ve = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), ve.as("v"))
      .withColumn("scale",
        aggregate(col("v"), lit(0.0), (m, x) => greatest(m, abs(x))) / 127.0)
      .filter(col("scale") > 0)
      .withColumn("err",
        aggregate(col("v"), lit(0.0),
          (m, x) => greatest(m, abs(x - floor(x / col("scale") + 0.5) * col("scale")))))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("err")), 6).as("avg_max_err"),
        round(max(col("err")), 6).as("max_err"),
        round(max(col("scale")), 6).as("max_scale"))
      .orderBy("label")
  }

  /** x20: sequence packing — the concat-and-chunk step that turns a doc
    * stream into fixed-token training bins. Docs are laid end-to-end per
    * source in doc_id order; a doc lands in the bin where its first token
    * falls (bin = floor(prior_tokens / binTokens)), so bins fill greedily
    * and only the bin-crossing doc spills its tail — the standard
    * pretraining packing discipline. One shuffle: the running-total window
    * keyed on source. Per-source ordering is inherently sequential, which
    * is why real pipelines pack per shard; at 100 TB the partition key
    * becomes (source, shard) and each shard packs independently — same
    * plan, narrower sort. Output is the per-bin audit: doc count, token
    * fill, and fill ratio against the bin size.
    */
  def packSequences(spark: SparkSession, dir: String,
                    binTokens: Int = 512): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("wc"))
      .withColumn("prior", coalesce(sum(col("wc")).over(w), lit(0L)))
      .groupBy(col("source"),
        floor(col("prior") / binTokens).as("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("wc")).as("bin_tokens"),
        round(sum(col("wc")).cast("double") / binTokens, 4).as("fill_ratio"))
      .orderBy("source", "bin_id")
  }

  /** x27: concat-and-split packing — x20's strict form: the bin-crossing
    * document SPLITS, contributing its token span to every bin it crosses,
    * so every bin holds exactly `binTokens` tokens (the last bin per source
    * excepted) — the invariant a fixed-context training loader requires.
    * Same single window shuffle as x20; the fan-out to crossed bins is a
    * narrow declarative `sequence` + `explode` (a doc crosses
    * ⌈wc/B⌉+1 bins at most), and the per-(source,bin) rollup is
    * partial-mergeable. Same 100 TB posture as x20: partition the window
    * by (source, shard) and pack shards independently.
    */
  def packSegments(spark: SparkSession, dir: String,
                   binTokens: Int = 512): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = lit(binTokens.toLong)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("wc"))
      .withColumn("prior", coalesce(sum(col("wc")).over(w), lit(0L)))
      .withColumn("bin_id", explode(sequence(
        floor(col("prior") / b), floor((col("prior") + col("wc") - 1) / b))))
      .withColumn("seg_tokens",
        least((col("bin_id") + 1) * b, col("prior") + col("wc")) -
          greatest(col("bin_id") * b, col("prior")))
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(col("seg_tokens")).as("bin_tokens"))
      .orderBy("source", "bin_id")
  }

  /** x25: temperature-scaled mixture weights — the multilingual/multi-source
    * sampling-rate schedule (rate ∝ n^α, α < 1 upweights small sources;
    * the mT5/XLM-R recipe). One partial-mergeable per-source aggregate, a
    * one-row total broadcast back, and a projection — nothing scales with
    * the corpus beyond the first count. Emits raw vs temperature share so
    * the rebalancing factor per source is directly readable.
    */
  def mixtureWeights(spark: SparkSession, dir: String,
                     alpha: Double = 0.3): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(
      sum(col("n_docs")).cast("double").as("tot_docs"),
      sum(pow(col("n_docs").cast("double"), alpha)).as("tot_pow"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("n_docs") / col("tot_docs"), 6).as("raw_share"),
        round(pow(col("n_docs").cast("double"), alpha) / col("tot_pow"), 6)
          .as("temp_share"))
      .orderBy("source")
  }

  /** x21: DSIR-style importance weights — data selection by distribution
    * matching (Xie et al., NeurIPS'23 shape, unigram features). Score each
    * doc by avg log(p_target(w) / p_corpus(w)) where the target model is
    * the English slice and the raw model is the whole corpus; high scores
    * mark docs that look like the target distribution and survive the
    * resample. Both frequency tables are token-keyed aggregates joined back
    * on `w` — a plain shuffle join, because at 100 TB the vocabulary is
    * unbounded and can never broadcast (the one-row totals can and do).
    * Laplace +1 smoothing keeps target-unseen tokens finite, and the same
    * arithmetic runs verbatim in any SQL engine — the oracle recomputes it.
    */
  def dsirWeights(spark: SparkSession, dir: String,
                  targetLang: String = "en"): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
    // both models in ONE tokenize pass: the target count is a conditional
    // aggregate of the same shuffle, not a second corpus scan + left join
    val vocab = tok.groupBy("w").agg(
      count(lit(1)).as("cc"),
      sum((col("lang") === targetLang).cast("long")).as("tc"))
    val totals = vocab.agg(
      sum(col("cc")).cast("double").as("ctot"),
      sum(col("tc")).cast("double").as("ttot"),
      count(lit(1)).cast("double").as("v"))
    tok.join(vocab, "w")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (log((col("tc") + 1.0) / (col("ttot") + col("v"))) -
          log((col("cc") + 1.0) / (col("ctot") + col("v")))).as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        // roundZ: a tiny negative log-ratio sum rounds to -0.0 in DuckDB but
        // 0.0 here — normalize so the byte-hash oracle compare agrees
        Doubles.roundZ(sum(col("lr")) / count(lit(1)), 4).as("dsir_weight"))
      .orderBy("doc_id")
  }

  /** x35: DSIR importance RESAMPLING — the step that turns x21's
    * distribution-matching weights into an actual selected subset, the way
    * x31 turned x25's mixture plan into a keep-list. Gumbel-top-k: adding
    * independent standard-Gumbel noise (−ln(−ln u)) to each log-weight and
    * taking the global top-N draws exactly N documents with probability
    * proportional to exp(weight), WITHOUT replacement — the textbook
    * softmax-sampling identity, but as one TakeOrdered instead of N
    * sequential draws. The noise comes from the x28 arithmetic LCG
    * (engine-portable, reproducible run to run; +0.5 centering keeps u
    * strictly inside (0,1) so the double-log never hits ±∞). Plan: x21's
    * scoring plan + a narrow key projection + global top-N — no new
    * shuffle beyond the TakeOrdered merge.
    */
  def dsirResample(spark: SparkSession, dir: String, n: Int = 100,
                   targetLang: String = "en"): DataFrame = {
    // bits stay in SQL-expr integer arithmetic; the (0,1) mapping uses
    // Scala double literals — SQL-literal `0.5` would parse as DECIMAL and
    // silently round u at scale 8 (measured 1.6e-8 key drift vs the oracle)
    val bits = expr(
      "((pmod(doc_id, 2147483648) * 1103515245 + 12345) % 2147483648) div 65536 % 32768")
    val u = (bits.cast("double") + lit(0.5)) / lit(32768.0)
    dsirWeights(spark, dir, targetLang)
      .withColumn("gumbel_key",
        Doubles.roundZ(col("dsir_weight") - log(-log(u)), 9))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(n)
      .select("doc_id", "n_tokens", "dsir_weight", "gumbel_key")
  }

  /** x22: token-window chunking — fixed-size overlapping windows (size W,
    * stride S) over each doc's token stream, the retrieval/embedding
    * chunking shape. Chunk starts are generated declaratively
    * (`sequence(0, lastStart, S)` + explode) so the fan-out is a narrow
    * per-row operation — no shuffle at all until the audit aggregate; at
    * 100 TB this is embarrassingly parallel and the explode output streams
    * straight into the downstream embed/write stage. The last chunk is the
    * only short one (standard ceil((wc−W)/S)+1 chunk count).
    */
  def docChunks(spark: SparkSession, dir: String,
                window: Int = 64, stride: Int = 48): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("wc"))
    val lastStart = greatest(
      ceil((col("wc") - window).cast("double") / stride).cast("long") * stride,
      lit(0L))
    docs
      .select(col("doc_id"), col("wc"),
        explode(sequence(lit(0L), lastStart, lit(stride.toLong))).as("start"))
      .select(col("doc_id"), col("wc"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        col("start"),
        least(col("wc") - col("start"), lit(window.toLong)).as("chunk_len"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The permutation key shared by x30/x31 — LCG → xor-fold → LCG, pure
    * integer arithmetic that wraps identically on every engine (the
    * x8/x28 discipline: fold into [0, 2³¹) first so no product can
    * overflow a 64-bit signed int; 2³¹·1103515245 < 2⁶², 2³¹·69069 <
    * 2⁴⁸). The xor of the high bits into the low bits between rounds
    * breaks the LCG's lattice (two ids at constant distance would
    * otherwise map to keys at constant distance — a visible stripe in
    * the "shuffled" order); div-by-2¹⁵ is the engine-portable shift.
    */
  /** The bucket width both two-phase bucket-rank operators (x31, x36)
    * derive from the permutation key's high 7 bits: keys are < 2^31, so
    * div 2^24 yields 128 buckets. If permKey's range ever changes, this
    * single constant keeps the two operators' bucketing in lockstep.
    */
  private val KeyBucketWidth = 16777216L

  private def permKey(id: Column): Column = {
    val r1 = (pmod(id, lit(2147483648L)) * 1103515245L + 12345L) % 2147483648L
    val x = r1.bitwiseXOR((r1 / 32768L).cast("long"))
    (x * 69069L + 1234567L) % 2147483648L
  }

  /** x30: reproducible corpus shuffle + shard assignment — the "global
    * shuffle" step every pretraining data pipeline runs before writing
    * loader shards, made deterministic so a re-run (or an auditor) gets
    * byte-identical shard contents and order. Each doc's permutation key is
    * a pure arithmetic hash of its id (no RNG state, no partition
    * dependence); shard = high bits mod nShards, position = rank of
    * (key, doc_id) within the shard.
    *
    * Scale shape: ONE hash shuffle on shard_id and a per-shard sort —
    * exactly what the training-shard writer needs anyway (shards are the
    * write partitions, the within-shard order is the sort key), so at
    * 100 TB the permutation costs nothing beyond the write's own exchange.
    * The window is partitioned by shard (corpus/nShards rows each),
    * never a single global ordering.
    */
  def corpusShuffle(spark: SparkSession, dir: String,
                    nShards: Int = 16): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        permKey(col("doc_id")).as("shuffle_key"))
      .withColumn("shard_id", (col("shuffle_key") / 65536L).cast("long") % nShards)
    keyed
      .withColumn("pos_in_shard",
        row_number().over(
          Window.partitionBy(col("shard_id"))
            .orderBy(col("shuffle_key"), col("doc_id"))).cast("long"))
      .select("shard_id", "pos_in_shard", "doc_id", "source", "shuffle_key")
      .orderBy("shard_id", "pos_in_shard")
  }

  /** x36: deterministic stratified train/val/test split — assign EVERY
    * document to a split with EXACT per-source proportions (`trainPct` /
    * `valPct` / remainder percent of each source, boundaries decided by
    * integer cross-multiply `rank*100 <= n*pct` — the c2 convention, no
    * rounded-double compare), ordered by the same id-arithmetic
    * permutation key x30 shuffles with, so the split is reproducible,
    * auditable, and independent of partitioning. This is the assignment
    * step every training run needs BEFORE sharding: a hash-threshold
    * split gets proportions only in expectation; ranking gets them exact.
    *
    * Scale shape: the naive form is one rank window per source (a single
    * corpus-sized sort partition at 100 TB). This is the x31 two-phase
    * histogram form instead: bucket docs by the key's high bits, rank
    * only within (source, bucket) — each partition ~1/128th of a
    * source — and add the bucket's cumulative START offset from a tiny
    * broadcast |sources|×128 frame. Key order is bucket-major by
    * construction, so composed ranks are provably the global ranks; the
    * DuckDB oracle runs the NAIVE per-source window and the hash check
    * certifies the equivalence (the x31 precedent).
    */
  def splitAssign(spark: SparkSession, dir: String,
                  trainPct: Int = 98, valPct: Int = 1): DataFrame =
    rankSplit(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), permKey(col("doc_id")).as("split_key")),
      "doc_id", trainPct, valPct)
      .select("doc_id", "source", "split_key", "rnk", "split")
      .orderBy("doc_id")

  /** The two-phase bucket-rank split core shared by x36 (every doc) and
    * x37 (dedup-group representatives): given (idCol, source, split_key),
    * assign each row its exact per-source stratified split. Rank within
    * (source, key-bucket) + a broadcast |sources|×128 cumulative-offset
    * frame — no corpus-sized sort partition (the x31 histogram shape);
    * boundaries by integer cross-multiply; the offset join is null-SAFE
    * on source: groupBy and Window keep a NULL source as its own group
    * (exactly like the oracle's PARTITION BY), so the join must too — a
    * plain equi-join would silently DROP null-source rows from every
    * split.
    */
  private def rankSplit(keyed0: DataFrame, idCol: String,
                        trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"trainPct ($trainPct) + valPct ($valPct) must leave room for test")
    val keyed = keyed0
      .withColumn("bucket", (col("split_key") / KeyBucketWidth).cast("long"))
    val offs = keyed.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("boff", coalesce(
        sum(col("bn")).over(Window.partitionBy("source").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_src", sum(col("bn")).over(Window.partitionBy("source")))
      .select("source", "bucket", "boff", "n_src")
    keyed.join(broadcast(offs.withColumnRenamed("source", "o_source")
        .withColumnRenamed("bucket", "o_bucket")),
      col("source") <=> col("o_source") && col("bucket") === col("o_bucket"))
      .withColumn("rnk", (col("boff") + row_number().over(
        Window.partitionBy("source", "bucket")
          .orderBy(col("split_key"), col(idCol)))).cast("long"))
      .withColumn("split",
        when(col("rnk") * 100 <= col("n_src") * trainPct, "train")
          .when(col("rnk") * 100 <= col("n_src") * (trainPct + valPct), "val")
          .otherwise("test"))
      .drop("bucket", "o_source", "o_bucket", "boff", "n_src")
  }

  /** x37: leakage-proof train/val/test split — x36's exact stratified
    * assignment lifted to d6's near-duplicate GROUPS, so two documents
    * that are near-duplicates of each other can never straddle train and
    * test. This is the split a training run actually needs: assigning
    * docs independently (x36, or any hash split) leaks — a test doc with
    * a near-identical twin in train is memorization measured as
    * generalization (the published dedup recipes deduplicate train
    * AGAINST test for exactly this reason; here the split itself is made
    * group-atomic instead). Each component's representative (d6's
    * group_id = the smallest member doc_id) is ranked by the x36
    * permutation key within ITS source stratum — d4's candidate pairs
    * are within-source by construction, so a group has one well-defined
    * source — and every member inherits the representative's split.
    *
    * Output: one row per document (doc_id, source, group_id, split);
    * singletons are their own representative, so a dup-free corpus gets
    * EXACTLY x36's assignment (spec-pinned). Proportions are exact over
    * representatives (the only atomicity-compatible notion — exact doc
    * proportions and group atomicity are mutually exclusive).
    *
    * Scale shape: d6's labels (memoShared, LSH-bucketed candidate
    * generation), ONE distinct over group ids, the x31/x36 two-phase
    * bucket-rank over representatives (no corpus-sized sort partition),
    * and a co-keyed join back on group_id. The DuckDB oracle replays the
    * whole thing naively (recursive-CTE components + one window per
    * source) and the hash check certifies the equivalence.
    */
  def leakageSplit(spark: SparkSession, dir: String,
                   trainPct: Int = 98, valPct: Int = 1,
                   minJaccard: Double = 0.8): DataFrame = {
    val groups = Dedup.dedupGroups(spark, dir, minJaccard)
      .select(col("doc_id"), col("group_id"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val reps = docs
      .join(groups.select(col("group_id")).distinct(),
        col("doc_id") === col("group_id"))
      .select(col("group_id"), col("source"),
        permKey(col("group_id")).as("split_key"))
    val repSplit = rankSplit(reps, "group_id", trainPct, valPct)
      .select(col("group_id"), col("split"))
    docs.join(groups, "doc_id")
      .join(repSplit, "group_id")
      .select("doc_id", "source", "group_id", "split")
      .orderBy("doc_id")
  }

  /** x31: token-budget sampling — realize a mixture plan (x25's shares ×
    * a global token budget) by selecting, per source, the prefix of a
    * deterministic priority order whose cumulative token count stays
    * within that source's budget. This is the step that turns "CommonCrawl
    * 60%, code 20%, …" into an actual keep-list of documents.
    *
    * Scale shape: the naive form is one giant window per source (cumsum
    * over every doc — a single sort partition per source at 100 TB). This
    * implementation is the two-phase histogram form instead: (1) bucket
    * docs by the high bits of their priority key and aggregate per-(source,
    * bucket) token sums — a tiny frame, |sources|×128 rows; (2) a window
    * over that tiny frame yields each bucket's cumulative START offset,
    * broadcast back; (3) the per-doc cumsum window partitions by (source,
    * bucket) — every partition is ~1/128th of a source, so no single sort
    * swallows the corpus. Keep decision = bucket offset + within-bucket
    * cumsum ≤ budget, integer-exact, and provably identical to the naive
    * global-prefix rule (priority order is bucket-major by construction).
    */
  def tokenBudgetSample(spark: SparkSession, dir: String,
                        budget: Long = 4000L): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("wc"),
        permKey(col("doc_id")).as("pri"))
      // bucket-major: priority's high 7 bits (KeyBucketWidth; pri < 2^31, so div 2^24
      // yields buckets 0..127) — within-bucket order refines it
      .withColumn("bucket", (col("pri") / KeyBucketWidth).cast("long"))
    val bucketTotals = docs.groupBy(col("source"), col("bucket"))
      .agg(sum(col("wc")).as("bucket_wc"))
      .withColumn("offset",
        coalesce(
          sum(col("bucket_wc")).over(
            Window.partitionBy(col("source")).orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("source", "bucket", "offset")
    docs
      .join(broadcast(bucketTotals), Seq("source", "bucket"))
      .withColumn("cum_tokens",
        col("offset") + sum(col("wc")).over(
          Window.partitionBy(col("source"), col("bucket"))
            .orderBy(col("pri"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("kept", col("cum_tokens") <= budget)
      .select("doc_id", "source", "wc", "pri", "cum_tokens", "kept")
      .orderBy("source", "pri", "doc_id")
  }

  /** k4: cluster-quality diagnostics — per-cluster separation margins over
    * k1's centroid assignment (the simplified-silhouette family: a = cosine
    * to own centroid, b = best cosine to any OTHER centroid, margin =
    * a − b ≥ 0). The margin distribution is the health check a SemDedup /
    * k-means curation stage reads before trusting its clusters: a cluster
    * whose average margin ≈ 0 is not separated from its neighbors, so its
    * "semantic duplicates" are quantization noise.
    *
    * Scale shape: identical to k1 — broadcast k centroids, one codegen'd
    * cosine scan over the fleet, one keyed aggregate. The per-vector
    * best/second-best pair comes from a k-element sorted collect (bounded
    * by k = 8, never by data). Cosines are rounded to 6 before the
    * subtraction, so margins are exact decimals and every aggregate is
    * summation-order independent (the k1/k3 oracle discipline).
    */
  /** k5: the elbow curve — spherical k-means inertia at a ladder of k
    * values, the choose-k diagnostic that decides how k1/k2/k3/k4 are
    * provisioned. Inertia(k) = Σ over vectors of (1 − cos to the nearest
    * of the first k seed centroids); the drop from one rung to the next
    * (`delta`) flattening out IS the elbow. Every rung reuses the SAME
    * broadcast-centroid argmax scan as k1 (one corpus pass per rung, k
    * dot products per vector), cosines round-6 and summed as exact
    * decimals so each inertia is aggregation-order independent. At fleet
    * scale the rungs run in one pass (score all ladder ks per vector in
    * one projection) — here they stay separate scans so each rung's plan
    * is exactly k1's and the oracle replays rung by rung.
    */
  def elbowCurve(spark: SparkSession, dir: String,
                 ks: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    val perK = ks.map { k =>
      assignments(spark, dir, k)
        .agg(count(lit(1)).as("n_vecs"),
          sum((lit(1.0) - col("cos")).cast("decimal(28,6)")).as("inertia_d"))
        .select(lit(k).as("k"), col("n_vecs"),
          col("inertia_d").cast("double").as("inertia"))
    }.reduce(_ unionAll _)
    // the ladder is |ks| rows — the single-partition lag window is free
    perK
      .withColumn("delta",
        coalesce(
          lag(col("inertia"), 1).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("k")))
            - col("inertia"),
          lit(0.0)))
      .orderBy("k")
  }

  /** The end-to-end curation composition a pipeline actually ships: d7's
    * transitive-dedup keepers ∧ x33's CCNet language-model verdict ∧ x31's
    * token-budget cut, with x30's reproducible shard key attached for the
    * shard writer's within-shard sort. Stages compose as doc-keyed
    * keep-list joins — verdict frames are tiny relative to the corpus, so
    * at fleet scale each join is a broadcast or a co-keyed shuffle on the
    * doc id, and adding a stage adds a join, never a corpus pass.
    * `PipelineE2ESpec` drives this through the training-shard writer and
    * pins run-to-run byte-order reproducibility; `CurationPipelineApp` is
    * the runnable CLI form.
    */
  def curatedCorpus(spark: SparkSession, dir: String,
                    budget: Long = 1500L): DataFrame = {
    import graft.Tables
    val keepDedup = Dedup.keepList(spark, dir)
      .filter(col("keep")).select("doc_id")
    val keepLm = TextAnalysis.ccnetBuckets(spark, dir)
      .filter(col("keep")).select("doc_id")
    val keepBudget = tokenBudgetSample(spark, dir, budget = budget)
      .filter(col("kept")).select("doc_id")
    val shardKey = corpusShuffle(spark, dir)
      .select(col("doc_id"), col("shuffle_key"))
    Tables.documents(spark, dir)
      .join(keepDedup, "doc_id")
      .join(keepLm, "doc_id")
      .join(keepBudget, "doc_id")
      .join(shardKey, "doc_id")
  }

  /** x49: fill-in-the-middle (FIM) splitting — the training transform
    * code-model pipelines run over the whole corpus (Bavarian et al.
    * 2022, "Efficient Training of Language Models to Fill in the
    * Middle"): each selected document is cut at two deterministic points
    * and re-serialized with the middle MOVED TO THE END (PSM order
    * prefix→suffix→middle, or SPM suffix→prefix→middle), so the model
    * learns infilling from an autoregressive objective. Selection (the
    * ~50% FIM rate), the two cut points and the PSM/SPM choice all
    * derive from the x28/cls2 LCG chain on doc_id — deterministic,
    * engine-portable, no RNG. The audit row is fixed width: the split
    * accounting plus a CRC32 over the transformed byte sequence (the
    * `<|fim|>` sentinel joins the three segments), pinning the exact
    * rewrite without materializing a second corpus column.
    *
    * Scale shape: ONE codegen projection over one scan — LCG arithmetic,
    * three substrings, a concat and Spark's built-in crc32; no kernel,
    * no shuffle beyond the ordered output. The transform is the
    * pack-stage rewrite (x20/x27's neighbor) at fleet scale.
    */
  def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    val sep = "<|fim|>"
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("s1",
        expr("((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648"))
      .withColumn("s2", expr("(s1 * 1103515245 + 12345) % 2147483648"))
      .withColumn("s3", expr("(s2 * 1103515245 + 12345) % 2147483648"))
      .withColumn("u1", expr("s1 div 65536 % 32768"))
      .withColumn("u2", expr("s2 div 65536 % 32768"))
      .withColumn("u3", expr("s3 div 65536 % 32768"))
      .withColumn("fim", col("u1") < 16384)
      .withColumn("a", expr("CAST(u2 % (n + 1) AS INT)"))
      .withColumn("b", expr("CAST(a + u3 % (n - a + 1) AS INT)"))
      .withColumn("mode",
        when(!col("fim"), "none")
          .when(expr("u1 % 2 = 0"), "psm")
          .otherwise("spm"))
      .withColumn("out",
        when(!col("fim"), col("text"))
          .when(col("mode") === "psm",
            expr(s"concat(substring(text, 1, a), '$sep', " +
              s"substring(text, b + 1), '$sep', " +
              "substring(text, a + 1, b - a))"))
          .otherwise(
            expr(s"concat(substring(text, b + 1), '$sep', " +
              s"substring(text, 1, a), '$sep', " +
              "substring(text, a + 1, b - a))")))
      .select(col("doc_id"), col("fim"), col("mode"),
        when(col("fim"), col("a").cast("long")).otherwise(col("n"))
          .as("prefix_len"),
        when(col("fim"), expr("CAST(b - a AS BIGINT)")).otherwise(lit(0L))
          .as("middle_len"),
        when(col("fim"), expr("CAST(n - b AS BIGINT)")).otherwise(lit(0L))
          .as("suffix_len"),
        crc32(col("out").cast("binary")).as("out_crc32"))
      .orderBy("doc_id")
  }

  /** x50: chat-template serialization — the post-training (SFT) sibling
    * of x49's FIM transform: each document is re-serialized as a
    * deterministic multi-turn conversation (a constant system prompt,
    * then 1–3 user→assistant exchange pairs cut from the text at exact
    * integer boundaries) with sentinel tokens, plus the loss-mask span
    * audit every SFT pipeline needs — supervised fine-tuning trains only
    * on assistant spans (+ the turn-end sentinel), so the mask is as
    * load-bearing as the text. The pair count derives from the x49 LCG
    * chain on doc_id (deterministic, engine-portable, no RNG); segment
    * boundaries are b_i = (i·n) div (2p) (exact integers, contiguous,
    * covering the text with no gaps — b_{2p} = n identically). The audit
    * row is fixed width: pair/length accounting, the masked fraction in
    * micros (truncating division, the c2 convention), and TWO CRC32s —
    * one over the serialized bytes, one over the '0'/'1' mask string —
    * pinning both the rewrite and the exact span structure without
    * materializing either as a corpus column.
    *
    * Scale shape: ONE codegen projection over one scan — LCG arithmetic,
    * six substrings, concat/repeat and Spark's built-in crc32; no
    * kernel, no shuffle beyond the ordered output (x49's cost class).
    */
  def chatTemplate(spark: SparkSession, dir: String): DataFrame = {
    // sentinel lengths: <|system|>+prompt = 38, <|user|> = 8,
    // <|assistant|> = 13, <|end|> = 7 → 28 fixed chars per pair
    val hdr = "'<|system|>You are a helpful assistant.'"
    def seg(i: Int) =
      s"substring(text, CAST(b${i - 1} + 1 AS INT), CAST(b$i - b${i - 1} AS INT))"
    def pairS(k: Int) =
      s"'<|user|>' || ${seg(2 * k - 1)} || '<|assistant|>' || " +
        s"${seg(2 * k)} || '<|end|>'"
    def maskS(k: Int) =
      s"repeat('0', CAST(21 + b${2 * k - 1} - b${2 * k - 2} AS INT)) || " +
        s"repeat('1', CAST(b${2 * k} - b${2 * k - 1} + 7 AS INT))"
    var df = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("s1",
        expr("((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648"))
      .withColumn("u1", expr("s1 div 65536 % 32768"))
      .withColumn("p", expr("CAST(1 + u1 % 3 AS INT)"))
      .withColumn("b0", lit(0L))
    (1 to 6).foreach { i =>
      df = df.withColumn(s"b$i", expr(s"$i * n div (2 * p)"))
    }
    df
      .withColumn("asst_len", expr(
        "CASE WHEN p = 1 THEN b2 - b1 WHEN p = 2 THEN (b2 - b1) + (b4 - b3) " +
          "ELSE (b2 - b1) + (b4 - b3) + (b6 - b5) END"))
      .withColumn("out", expr(
        s"CASE WHEN p = 1 THEN $hdr || ${pairS(1)} " +
          s"WHEN p = 2 THEN $hdr || ${pairS(1)} || ${pairS(2)} " +
          s"ELSE $hdr || ${pairS(1)} || ${pairS(2)} || ${pairS(3)} END"))
      .withColumn("mask", expr(
        s"repeat('0', 38) || (CASE WHEN p = 1 THEN ${maskS(1)} " +
          s"WHEN p = 2 THEN ${maskS(1)} || ${maskS(2)} " +
          s"ELSE ${maskS(1)} || ${maskS(2)} || ${maskS(3)} END)"))
      .select(col("doc_id"), col("p").cast("long").as("n_pairs"),
        (col("n") - col("asst_len")).as("user_len"),
        col("asst_len"),
        (lit(38L) + lit(28L) * col("p") + col("n")).as("out_len"),
        (col("asst_len") + lit(7L) * col("p")).as("mask_len"),
        expr("(asst_len + 7 * p) * 1000000 div (38 + 28 * p + n)")
          .as("mask_frac_micros"),
        crc32(col("out").cast("binary")).as("out_crc32"),
        crc32(col("mask").cast("binary")).as("mask_crc32"))
      .orderBy("doc_id")
  }

  /** x51: preference-pair synthesis — the DPO/RLHF post-training
    * transform next to x50's SFT template: each document splits at an
    * LCG-derived cut into (prompt, chosen continuation), and the
    * REJECTED continuation is the next same-source document's
    * continuation (the mismatched-continuation negative — topically
    * plausible, definitionally wrong; the standard synthetic-negative
    * recipe when no reward model exists). Both responses serialize
    * through x50's sentinel template, and the audit row pins the pair
    * without materializing it: partner id, segment lengths, and a
    * CRC32 per serialized response. The last doc of a source wraps to
    * the source's first (every doc gets a partner, deterministically);
    * a single-doc source degenerates to partner == self, visible in
    * the audit.
    *
    * Scale shape: ONE window over (partnerKey, doc_id) — lead + an
    * unbounded-frame first for the wrap — then one codegen projection;
    * the window is the only exchange. `partnerKey` IS the pairing
    * rule: the default partners source-wide (the audit contract); at
    * fleet scale a source can hold billions of docs, so the caller
    * bounds partition width by keying on a shard term too — e.g.
    * `struct(col("source"), expr("doc_id div 100000"))` — and the wrap
    * closes each shard ring instead of one source-wide ring. The plan
    * shape is identical either way; only the exchange key narrows.
    */
  def preferencePairs(spark: SparkSession, dir: String,
                      partnerKey: Column = col("source")): DataFrame = {
    val w = Window.partitionBy(partnerKey).orderBy(col("doc_id"))
    val wAll = Window.partitionBy(partnerKey).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("s1",
        expr("((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648"))
      .withColumn("s2", expr("(s1 * 1103515245 + 12345) % 2147483648"))
      .withColumn("u2", expr("s2 div 65536 % 32768"))
      .withColumn("a", expr("CAST(u2 % (n + 1) AS INT)"))
      .withColumn("prompt", expr("substring(text, 1, a)"))
      .withColumn("chosen", expr("substring(text, a + 1)"))
      .withColumn("partner_id",
        coalesce(lead(col("doc_id"), 1).over(w), first(col("doc_id")).over(wAll)))
      .withColumn("partner_chosen",
        coalesce(lead(col("chosen"), 1).over(w), first(col("chosen")).over(wAll)))
      .withColumn("out_chosen", expr(
        "'<|user|>' || prompt || '<|assistant|>' || chosen || '<|end|>'"))
      .withColumn("out_rejected", expr(
        "'<|user|>' || prompt || '<|assistant|>' || partner_chosen || '<|end|>'"))
      .select(col("doc_id"), col("partner_id"),
        col("a").cast("long").as("prompt_len"),
        (col("n") - col("a")).as("chosen_len"),
        length(col("partner_chosen")).cast("long").as("rejected_len"),
        crc32(col("out_chosen").cast("binary")).as("chosen_crc32"),
        crc32(col("out_rejected").cast("binary")).as("rejected_crc32"))
      .orderBy("doc_id")
  }

  /** The WEB end-to-end composition: p2's composed crawl-to-corpus
    * verdict as the gate (robots → URL dedup → extraction yield → the
    * full content stack) ∧ x31's token-budget cut, with x30's
    * reproducible shard key attached — `curatedCorpus`' crawl-side twin,
    * consumed by the same training-shard writer. Same scale shape:
    * verdict frames are doc-keyed and tiny relative to the corpus, so
    * every stage is one keep-list join, never an extra corpus pass.
    */
  def webCorpus(spark: SparkSession, dir: String,
                budget: Long = 1500L): DataFrame = {
    import graft.Tables
    val keepWeb = webPipelineVerdicts(spark, dir)
      .filter(col("keep")).select("doc_id")
    val keepBudget = tokenBudgetSample(spark, dir, budget = budget)
      .filter(col("kept")).select("doc_id")
    val shardKey = corpusShuffle(spark, dir)
      .select(col("doc_id"), col("shuffle_key"))
    Tables.documents(spark, dir)
      .join(keepWeb, "doc_id")
      .join(keepBudget, "doc_id")
      .join(shardKey, "doc_id")
  }

  def clusterQuality(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.normD(col("embedding")).as("nrm"))
    val cents = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    // k bounded structs ranked PER ROW over the one-row centroid table
    // (the round-17 shuffle-free form — the previous groupBy(vec_id)
    // collect_list shuffled the corpus to build the same k structs this
    // projection builds in place); sort desc by (cos, -centroid_id) =
    // k1's argmax tie-break, element 0 = own cluster, element 1 =
    // runner-up. Sentinel slots (table shorter than k) sort last and the
    // first two elements never see them on a ≥2-centroid corpus.
    val best2 = vecs
      .crossJoin(broadcast(VectorFunctions.centroidTableFrame(cents)))
      .withColumn("coss",
        VectorFunctions.centCosines(col("embedding"), col("nrm"), 6))
      .withColumn("ranked", reverse(array_sort(array((0 until k).map { i =>
        when(lit(i) < size(col("cent_tab")),
          struct(element_at(col("coss"), i + 1).as("cos"),
            (-element_at(col("cent_tab"), i + 1).getField("centroid_id"))
              .as("neg_cid")))
          .otherwise(struct(lit(-2.0).as("cos"),
            lit(Long.MinValue).as("neg_cid")))
      }: _*))))
      .select(col("vec_id"),
        (-col("ranked")(0).getField("neg_cid")).as("centroid_id"),
        col("ranked")(0).getField("cos").as("a_cos"),
        col("ranked")(1).getField("cos").as("b_cos"))
      .withColumn("margin",
        col("a_cos").cast("decimal(18,6)") - col("b_cos").cast("decimal(18,6)"))
    best2.groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        Doubles.roundZ(sum(col("a_cos").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("avg_cos"),
        Doubles.roundZ(sum(col("margin")).cast("double")
          / count(lit(1)), 6).as("avg_margin"),
        Doubles.normZero(min(col("margin")).cast("double")).as("min_margin"),
        min(col("vec_id")).as("first_vec"))
      .orderBy("centroid_id")
  }

  // hard-sigmoid on the 1e-6 grid; operands non-negative after the
  // clamp, so integral div == floor on both engines
  private def p6ExprOf(z: String): String =
    s"(least(greatest($z + 2000000000000, 0), 4000000000000) + 2000000) div 4000000"
  private val p6Expr = p6ExprOf("z12")

  /** The training half of cls1: the (dim+1) quantized weights (1e-6 long
    * grid, slot `dim` = bias) from `iters` full-batch hard-sigmoid
    * logistic rounds over the `trainSample` id-prefix docs. EAGER — one
    * doc count plus ONE bounded collect of the sparse features run as
    * Spark jobs; the gradient rounds themselves execute driver-locally
    * over the collected sample (ClassifierLocal — the weights are a
    * driver-held model artifact, the s5 codebook pattern, and so is the
    * bounded sample they are fit on). Exposed so the streaming scorer can
    * train once and apply the same model to every micro-batch.
    */
  def trainQualityWeights(spark: SparkSession, dir: String,
                          dim: Int = 64, trainSample: Int = 4096,
                          iters: Int = 3, lrDiv: Int = 2,
                          positiveSources: Seq[String] =
                            Seq("src0", "src1", "src2", "src3", "src4")): Array[Long] = {
    require(iters >= 0, s"iters must be >= 0; got $iters")
    require(lrDiv >= 1, s"lrDiv must be >= 1; got $lrDiv")
    val emb = Sketches.hashEmbedding(split(col("text"), " "), dim)
    val isHigh = col("source").isin(positiveSources: _*)
    // sparse quantized features: (doc_id, j, xq) for nonzero dims, plus a
    // bias row j = dim with xq = 10^6 (x = 1.0) for every doc
    val xqArr = concat(
      transform(emb, v => floor(v * 1e6 + 0.5).cast("long")),
      array(lit(1000000L)))
    val trainDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") < trainSample)
    val n = trainDocs.count()
    require(n > 0,
      s"qualityClassifier needs at least one doc with doc_id < trainSample ($trainSample)")
    // ONE bounded collect of the sparse quantized features
    // (≤ trainSample·(dim+1) rows, CONSTANT in corpus size — the same
    // driver-held-model-artifact class as the weight vector itself), then
    // the gradient rounds run driver-locally (round-17 optimization): the
    // cluster form scheduled one aggregate+broadcast-join+collect job per
    // round over this sample-sized frame — a fleet-wide barrier per round
    // buying nothing. Every quantity is exact long arithmetic (sums
    // commute; p6 is clamp + non-negative integral division, where Java /
    // == Spark div == DuckDB //), so the local loop is bit-identical —
    // CurationSpec pins a round against the Spark-side aggregate form.
    val rows: Array[(Long, Long, Int, Long)] = trainDocs
      .select(col("doc_id"),
        when(isHigh, 1000000L).otherwise(0L).as("y6"),
        posexplode(xqArr))
      .select(col("doc_id"), col("y6"), col("pos").as("j"),
        col("col").as("xq"))
      .filter(col("xq") =!= 0L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val wq = Array.fill(dim + 1)(0L)
    for (_ <- 0 until iters) {
      ClassifierLocal.gradientRound(rows, wq, lrDiv.toLong * n * 1000000L)
    }
    wq
  }

  /** The scoring half of cls1: margin + probability + verdict columns
    * appended to any frame with a `text` column, from a trained weight
    * vector. ONE codegen'd narrow projection — no shuffle, no join,
    * stateless, which is what lets the SAME scorer serve the batch
    * operator and the per-micro-batch streaming twin bit-identically.
    * The quantized dot runs as the native `QuantizedDotLong` kernel
    * (one loop over the embedding array per row — bit-identical to the
    * unrolled 64-term element_at spelling, which measured ~15x slower
    * because each term re-walked its own codegen'd subtree;
    * KernelPropertiesSpec pins the equivalence). The published columns
    * are exact longs/booleans; downstream thresholds compare integers.
    */
  def scoreQuality(df: DataFrame, wq: Array[Long], dim: Int = 64): DataFrame = {
    require(wq.length == dim + 1,
      s"weight vector must have dim+1 (${dim + 1}) slots incl. bias; got ${wq.length}")
    val emb = Sketches.hashEmbedding(split(col("text"), " "), dim)
    df.withColumn("z12", Sketches.quantizedDot(emb, wq.toSeq))
      .withColumn("margin_p12", expr("z12"))
      .withColumn("prob_micros", expr(p6Expr))
      .withColumn("pred_high", expr(s"$p6Expr >= 500000"))
      .drop("z12")
  }

  /** The memo-shared train-once/score-once substrate of the whole
    * classifier family (cls1 apply, cls2 Pareto gate, cls3 calibration,
    * cls4 sweep, cls5 AUC, and the E2E composition's quality gate): ONE
    * bounded training run + ONE codegen scoring scan produce the
    * (doc_id, source, label_high, margin_p12, prob_micros, pred_high)
    * frame, cached under a key carrying every training parameter, and
    * every family member projects from it. This is exactly what a real
    * pipeline does — score the corpus once, then spend the scores on
    * filtering AND evaluation — and at fleet scale it replaces five
    * corpus scoring scans (plus five retraining runs) with one. Same
    * lifecycle as d4's pair list: survives per-query release, dropped at
    * end of harness pass, keyed on applicationId so no frame outlives
    * its session.
    */
  private def scoredCorpus(spark: SparkSession, dir: String,
                           dim: Int, trainSample: Int, iters: Int,
                           lrDiv: Int,
                           positiveSources: Seq[String]): DataFrame =
    graft.CacheRegistry.memoShared(
      s"clsScored:${spark.sparkContext.applicationId}:$dir:$dim:" +
        s"$trainSample:$iters:$lrDiv:${positiveSources.mkString(",")}") {
      val wq = trainQualityWeights(spark, dir, dim, trainSample, iters,
        lrDiv, positiveSources)
      scoreQuality(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("text")),
        wq, dim)
        .select(col("doc_id"), col("source"),
          col("source").isin(positiveSources: _*).as("label_high"),
          col("margin_p12"), col("prob_micros"), col("pred_high"))
    }

  /** cls1: trained linear quality classifier — the GPT-3/LLaMA-recipe
    * curation stage (Brown et al. 2020 App. A; Touvron et al. 2023):
    * fit a binary classifier that scores P(document resembles a
    * high-quality source) with source membership as the label, then
    * score the whole corpus with it. Features are x7's feature-hashing
    * embeddings (the fastText-style bag-of-hashed-tokens), the model is
    * logistic regression trained with a hard-sigmoid surrogate
    * (σ̂(z) = clamp(z/4 + 1/2, 0, 1) — exact rational arithmetic where
    * exp() would be the one cross-engine nondeterminism in the loop) by
    * `iters` full-batch gradient steps at learning rate 1/`lrDiv`.
    *
    * Every quantity lives on an explicit integer grid so the entire
    * training run + scoring pass is bit-replayed by the DuckDB oracle
    * (the s5/k3 discipline): features quantize once to 1e-6 longs
    * (⌊v·10⁶+0.5⌋, x7's digest grid) plus a constant bias feature;
    * per-doc margins are exact long sums in 1e-12 units; predicted
    * probabilities collapse to the 1e-6 grid by non-negative integral
    * division; the gradient is an exact long sum of err·x products; and
    * the weight update Δw_j = g_j quot (lrDiv·n·10⁶) uses truncating
    * integer division — identical in Java long division and DuckDB `//`
    * (both truncate toward zero). No float enters anywhere — margins,
    * probabilities and verdicts publish as exact longs/booleans.
    *
    * Scale posture: training reads only the `trainSample` id-prefix docs
    * (the s5 trainSample bound — constant cost in corpus size, and the
    * sample is oracle-replayable with one WHERE); each round is one
    * aggregate + one tiny broadcast join over a persisted
    * ≤ trainSample·(dim+1)-row sparse frame, and the (dim+1)-weight
    * model lives DRIVER-SIDE between rounds (the s5 codebook / k-row
    * centroid pattern — the model IS a driver artifact). Scoring the
    * corpus is ONE codegen'd narrow projection (the 64-term quantized
    * dot product unrolled — no shuffle, no join; the fleet-scale apply
    * pass is embarrassingly parallel). NOTE: training is EAGER — the
    * doc count and one small gradient collect per round run as Spark
    * jobs at construction time; the returned scoring plan is lazy.
    * Split into the `trainQualityWeights` + `scoreQuality` seams above
    * so the streaming twin trains once and scores every micro-batch
    * with the identical codegen projection. The batch family
    * (cls1–cls5 + the E2E quality gate) reads the memo-shared
    * `scoredCorpus` frame, so one harness pass trains and scans the
    * corpus exactly once however many family members run.
    */
  def qualityClassifier(spark: SparkSession, dir: String,
                        dim: Int = 64, trainSample: Int = 4096,
                        iters: Int = 3, lrDiv: Int = 2,
                        positiveSources: Seq[String] =
                          Seq("src0", "src1", "src2", "src3", "src4")): DataFrame =
    scoredCorpus(spark, dir, dim, trainSample, iters, lrDiv, positiveSources)
      .orderBy("doc_id")

  /** The training half of cls6: ONE-VS-REST multinomial over the `lang`
    * label — cls1's integer-grid hard-sigmoid machinery generalized to
    * K simultaneous binary problems sharing the persisted sparse
    * feature frame. Each round is still ONE aggregate (K margin sums
    * wide) + ONE K·(dim+1)-cell gradient collect; the K weight vectors
    * live driver-side between rounds (the s5 codebook pattern). Every
    * quantity sits on cls1's exact integer grids — features 1e-6 longs,
    * margins 1e-12 longs, probabilities by non-negative integral
    * division, updates by truncating long division — so the whole
    * K-class run is bit-replayed by the DuckDB oracle's unrolled CTEs.
    */
  private[graft] def trainLangWeights(spark: SparkSession, dir: String,
                                      langs: Seq[String],
                                      dim: Int = 64, trainSample: Int = 4096,
                                      iters: Int = 3, lrDiv: Int = 2): Map[String, Array[Long]] = {
    require(iters >= 0, s"iters must be >= 0; got $iters")
    require(lrDiv >= 1, s"lrDiv must be >= 1; got $lrDiv")
    val emb = Sketches.hashEmbedding(split(col("text"), " "), dim)
    val xqArr = concat(
      transform(emb, v => floor(v * 1e6 + 0.5).cast("long")),
      array(lit(1000000L)))
    val trainDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") < trainSample)
    val n = trainDocs.count()
    require(n > 0,
      s"langClassifier needs at least one doc with doc_id < trainSample ($trainSample)")
    // cls1's local-training shape widened to K classes: ONE bounded
    // collect of the sparse features (label carried per doc), then the
    // K one-vs-rest gradient rounds run driver-locally — the cluster form
    // scheduled one K-column aggregate+join+collect job per round over
    // the sample-sized frame. Exact long arithmetic throughout, so the
    // local loop is bit-identical (the cls1 argument; CurationSpec pins
    // the single-class round, and the cls6 oracle replays this training
    // end-to-end).
    val rows: Array[(Long, String, Int, Long)] = trainDocs
      .select(col("doc_id"), col("lang"), posexplode(xqArr))
      .select(col("doc_id"), col("lang"), col("pos").as("j"),
        col("col").as("xq"))
      .filter(col("xq") =!= 0L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val byClass = langs.map { c =>
      c -> rows.map { case (id, lang, j, xq) =>
        (id, if (lang == c) 1000000L else 0L, j, xq)
      }
    }
    val ws = scala.collection.mutable.LinkedHashMap(
      langs.map(_ -> Array.fill(dim + 1)(0L)): _*)
    for (_ <- 0 until iters) {
      // one-vs-rest: z_c reads only ws(c), so per-class sequential rounds
      // are the same computation the K-column aggregate ran at once
      byClass.foreach { case (c, classRows) =>
        ClassifierLocal.gradientRound(classRows, ws(c),
          lrDiv.toLong * n * 1000000L)
      }
    }
    ws.toMap
  }

  /** cls6: trained language identification — the fastText-shaped first
    * stage of the CCNet recipe (Wenzek et al. 2020; Joulin et al. 2017):
    * a LINEAR classifier over x7's feature-hashing bag-of-tokens,
    * trained one-vs-rest on the corpus' own `lang` label, replacing
    * x1's hand-written marker heuristic with a model that learns
    * whatever token-distribution signal the corpus carries. Training is
    * cls1's bounded integer-grid run (trainSample id-prefix, 3 rounds,
    * driver-held weights) widened to K classes in the SAME job count;
    * scoring is ONE codegen projection computing the K quantized dots
    * (the shared hashEmbedding subtree is eliminated by codegen CSE),
    * and the prediction is x1's exact priority argmax CASE chain
    * (`TextAnalysis.predLangExpr` — ties resolve en > es > de > fr >
    * zh, ONE shared definition) over the K probability columns. Output
    * per doc: the K exact-long probabilities, the predicted language
    * and the agreement flag — the eval a langid stage reports before
    * replacing its heuristic.
    *
    * Scale posture: training constant in corpus size (trainSample
    * bound); the apply pass is one narrow scan, no shuffle beyond the
    * ordered output; the whole K-class train + score is bit-replayed by
    * the DuckDB oracle's unrolled CTEs. The driver corpus' lang label is
    * near signal-free (marker-frequency deltas under 1% — measured, not
    * assumed), so the trained model correctly collapses to the priority
    * argmax of near-tied scores there, exactly like cls1 on its
    * signal-free source labels; SEPARABILITY is what the spec pins, on
    * a disjoint-vocabulary fixture where the model must classify every
    * language perfectly (the cls1 convention).
    */
  def langClassifier(spark: SparkSession, dir: String,
                     dim: Int = 64, trainSample: Int = 4096,
                     iters: Int = 3, lrDiv: Int = 2): DataFrame =
    scoredLangFrame(spark, dir, dim, trainSample, iters, lrDiv)
      .orderBy("doc_id")

  /** cls6's scored frame WITHOUT the deterministic output sort — the
    * form downstream consumers take. Memo-shared on (dir, every
    * training parameter), the cls family convention: cls6 and the
    * p4 composed pipeline both start from this frame, so one harness
    * pass trains the K-class model exactly once and p4 times only its
    * marginal (the funnel + one doc-keyed join).
    */
  private[graft] def scoredLangFrame(spark: SparkSession, dir: String,
                                     dim: Int = 64, trainSample: Int = 4096,
                                     iters: Int = 3, lrDiv: Int = 2): DataFrame =
    graft.CacheRegistry.memoShared(
      s"cls6scored:${spark.sparkContext.applicationId}:$dir:$dim:" +
        s"$trainSample:$iters:$lrDiv") {
      val langs = TextAnalysis.markers.map(_._1)
      val ws = trainLangWeights(spark, dir, langs, dim, trainSample, iters,
        lrDiv)
      val emb = Sketches.hashEmbedding(split(col("text"), " "), dim)
      val scored = langs.foldLeft(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
          col("text"))) { (df, c) =>
        df.withColumn(s"z_$c", Sketches.quantizedDot(emb, ws(c).toSeq))
          .withColumn(s"p6_$c", expr(p6ExprOf(s"z_$c")))
      }
      scored
        .withColumn("pred_lang",
          TextAnalysis.predLangExpr(c => col(s"p6_$c")))
        .select(col("doc_id") +: col("lang") +:
          langs.map(c => col(s"p6_$c")) :+
          col("pred_lang") :+
          (col("pred_lang") === col("lang")).as("correct"): _*)
    }

  /** The cls2 acceptance thresholds: T(s3) for every milli-probability
    * s3 in [0, 1000], where `keep ⟺ u15 < T(s3)` is EXACTLY the Pareto
    * rule `u15/32768 < (1000/(2000−s3))⁹` — ceiling division makes the
    * integer comparison equivalent to the strict rational inequality
    * (u < N/D ⟺ u < ⌈N/D⌉ for integer u, since u < N/D ⟺ u·D < N ⟺
    * u ≤ ⌈N/D⌉−1; CurationSpec re-proves it against the exact BigInt
    * inequality at both boundary uniforms of every slot). Endpoints:
    * T(1000) = 32768 (a perfectly-scored doc always survives — every
    * u15 < 32768) and T(0) = 32768/2⁹ = 64 (a zero-scored doc keeps a
    * 1-in-512 floor). Driver-side exact integer arithmetic; the DuckDB
    * twin derives the same 1001 values with HUGEINT ceil-division.
    */
  private[graft] lazy val paretoLut: IndexedSeq[Long] = {
    val num = BigInt(32768) * BigInt(1000).pow(9)
    (0 to 1000).map { s3 =>
      val den = BigInt(2000 - s3).pow(9)
      ((num + den - 1) / den).toLong
    }
  }

  /** cls2: Pareto acceptance filter over the trained quality score — the
    * second half of the GPT-3 curation recipe (Brown et al. 2020 App. A,
    * also the LLaMA filtering setup, Touvron et al. 2023): after cls1
    * scores every document, a doc is kept iff a Pareto(α = 9) draw
    * exceeds 1 − score, i.e. with P(keep | score s) = (2 − s)⁻⁹ — a
    * high-scoring doc always survives while a low-scoring one is still
    * sampled at a ≥ 2⁻⁹ floor, which is precisely what saves the kept
    * corpus from the hard-threshold distribution collapse the recipe
    * warns about (a pure `score ≥ t` cut would delete entire low-scoring
    * domains; x14's bins show how much mass each score band holds).
    *
    * Deterministic twin of the sampled rule, exact on both engines: the
    * per-doc uniform is x28's overflow-proof 15-bit LCG draw
    * u15 ∈ [0, 32768) (a pure function of doc_id — re-runs and engines
    * agree, and the draw is independent of the score by construction);
    * the score enters on the milli grid s3 = prob_micros div 1000; and
    * the acceptance test is `u15 < T(s3)` against the 1001-slot
    * `paretoLut` ceiling-division table, which `CurationSpec` proves
    * bit-equivalent to the strict rational Pareto inequality — no float,
    * no pow(), no cross-engine rounding surface anywhere in the verdict.
    *
    * Scale posture: cls1's exactly — training is the same bounded
    * trainSample run (EAGER, driver-held weights), and the filter pass
    * adds one broadcast-free codegen projection on top of the scoring
    * projection: the LUT rides as a single 1001-long array literal
    * (ONE Literal node — not 1001 expression nodes, so no codegen
    * bloat), the LCG is four integer ops, and the verdict never
    * shuffles. At 100 TB the apply pass stays embarrassingly parallel;
    * the kept/flagged routing is the caller's filter on `keep`.
    */
  /** The acceptance half of cls2: appends the deterministic uniform
    * (`u15`), the LUT threshold (`t_keep`) and the verdict (`keep`) to
    * any frame carrying `doc_id` + `prob_micros`. ONE stateless codegen
    * projection — no shuffle, no join (the LUT is a single array
    * Literal) — which is what lets the SAME acceptance rule serve the
    * batch operator and the per-micro-batch streaming twin
    * bit-identically (`StreamOps.paretoFilterStream`).
    */
  def acceptPareto(df: DataFrame): DataFrame =
    df.withColumn("u15", expr(
        "(((pmod(doc_id, 2147483648) * 1103515245 + 12345) % 2147483648) div 65536) % 32768"))
      .withColumn("t_keep", element_at(typedLit(paretoLut),
        expr("CAST(prob_micros div 1000 AS INT)") + 1))
      .withColumn("keep", col("u15") < col("t_keep"))

  def paretoFilter(spark: SparkSession, dir: String,
                   dim: Int = 64, trainSample: Int = 4096,
                   iters: Int = 3, lrDiv: Int = 2,
                   positiveSources: Seq[String] =
                     Seq("src0", "src1", "src2", "src3", "src4")): DataFrame =
    acceptPareto(
      scoredCorpus(spark, dir, dim, trainSample, iters, lrDiv, positiveSources)
        .select(col("doc_id"), col("source"), col("prob_micros")))
      .orderBy("doc_id")

  /** The full training-set composition a pretraining pipeline ships —
    * curatedCorpus's three keep-lists (d7 dedup ∧ x33 CCNet ∧ x31 budget)
    * ∧ the cls1/cls2 quality gate, with x36's split assignment and the
    * quality/length cluster bins attached for the Z-ordered shard writer.
    * The quality gate routes exactly as the GPT-3 recipe does (Brown et
    * al. 2020 App. A): documents from the CURATED positive-label sources
    * are included outright (they define "high quality" — the classifier
    * was trained to recognize them), while every bulk-source document
    * faces cls2's Pareto acceptance draw on its trained score. A pure
    * `keep`-only intersection would also starve the corpus: mid-scored
    * docs survive the α=9 draw at ~1–3%, which is the recipe's POINT for
    * the CommonCrawl bulk but would delete the curated sources too.
    *
    * Output adds to the surviving documents' columns: `prob_micros`
    * (cls1's score), `split` (x37's LEAKAGE-PROOF stratified
    * train/val/test — near-dup groups are split-atomic, and the d6
    * group labels it ranks are the memoShared frame the dedup keep-list
    * stage already computed, so the upgrade from x36 costs one rep
    * ranking + one co-keyed join, not a second dedup pass),
    * `shuffle_key` (x30's reproducible shard order), and the two bounded
    * cluster dims for `Sinks.writeShardsZOrdered` — `q_bin` (milli-
    * probability, [0,1000]) and `len_bin` (n_chars/64, capped at 1023) —
    * so a loader filtering on EITHER quality or length prunes files.
    *
    * Scale shape: identical to curatedCorpus — every added stage is one
    * doc-keyed join against a verdict frame (broadcast or co-keyed on
    * doc_id), the classifier trains ONCE on the bounded trainSample
    * prefix (EAGER, driver-held weights — the s5 codebook pattern), and
    * scoring + the Pareto verdict + both bins are stateless codegen
    * projections. Adding the quality stage adds a join, never a corpus
    * pass. NOTE eager training jobs run at construction time.
    */
  def curatedTrainingSet(spark: SparkSession, dir: String,
                         budget: Long = 1500L,
                         trainPct: Int = 80, valPct: Int = 10,
                         dim: Int = 64, trainSample: Int = 4096,
                         iters: Int = 3, lrDiv: Int = 2,
                         positiveSources: Seq[String] =
                           Seq("src0", "src1", "src2", "src3", "src4")): DataFrame = {
    val quality = acceptPareto(
        scoredCorpus(spark, dir, dim, trainSample, iters, lrDiv,
          positiveSources)
          .select(col("doc_id"), col("source"), col("prob_micros")))
      .filter(col("keep") || col("source").isin(positiveSources: _*))
      .select(col("doc_id"), col("prob_micros"))
    val splits = leakageSplit(spark, dir, trainPct, valPct)
      .select(col("doc_id"), col("split"))
    curatedCorpus(spark, dir, budget)
      .join(quality, "doc_id")
      .join(splits, "doc_id")
      .withColumn("q_bin", expr("CAST(prob_micros div 1000 AS INT)"))
      .withColumn("len_bin",
        least(floor(col("n_chars") / lit(64L)), lit(1023L)).cast("int"))
  }

  /** The aggregation half of cls3: the reliability table of any frame
    * carrying `prob_micros` + `label_high` — one keyed aggregate, exact
    * integers throughout (counts, long sums, truncating integer division
    * for the two rates — identical in Spark `div` and DuckDB `//` on
    * these non-negative operands). Split out so the spec can pin the
    * binning/rate arithmetic on a crafted scored fixture without
    * retraining the classifier.
    */
  def calibrationOf(scored: DataFrame): DataFrame =
    scored
      .groupBy(expr("prob_micros div 100000").as("cal_bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("label_high").cast("long")).as("n_pos"),
        sum(col("prob_micros")).as("sum_prob_micros"))
      .select(col("cal_bin"), col("n_docs"), col("n_pos"),
        col("sum_prob_micros"),
        expr("sum_prob_micros div n_docs").as("avg_prob_micros"),
        expr("(n_pos * 1000000) div n_docs").as("pos_rate_micros"))
      .withColumn("gap_micros",
        col("avg_prob_micros") - col("pos_rate_micros"))
      .orderBy("cal_bin")

  /** cls3: calibration audit of the trained quality classifier — the
    * reliability table (Guo et al. 2017's ECE binning) that says whether
    * cls1's scores can be TRUSTED as probabilities before cls2 spends
    * them in the Pareto draw: per deci-probability bin, the doc count,
    * the positive-label count, the mean predicted probability and the
    * empirical positive rate, and their gap (a calibrated model's gap ≈ 0
    * in every bin; a confident-but-wrong model shows large same-sign
    * gaps). This is the eval stage the GPT-3/LLaMA filtering recipe runs
    * between training the filter and trusting its scores on 100 TB.
    *
    * Exactness: scores come from the same integer-grid training +
    * scoring pass as cls1 (bit-replayed by the oracle); bins are
    * `prob_micros div 100000` (deciles on the micro grid); counts and
    * sums are exact longs; both rates use truncating integer division
    * (Spark `div` == DuckDB `//` on non-negative operands) so the gap
    * column is an exact long. No float anywhere.
    *
    * Scale posture: cls1's training bound (EAGER, trainSample id-prefix,
    * driver-held weights) + ONE codegen scoring projection + ONE
    * partial-mergeable aggregate onto ≤ 11 bin rows. At 100 TB the
    * audit costs one corpus scan.
    */
  def calibrationTable(spark: SparkSession, dir: String,
                       dim: Int = 64, trainSample: Int = 4096,
                       iters: Int = 3, lrDiv: Int = 2,
                       positiveSources: Seq[String] =
                         Seq("src0", "src1", "src2", "src3", "src4")): DataFrame =
    calibrationOf(scoredWithLabels(spark, dir, dim, trainSample, iters,
      lrDiv, positiveSources))

  /** The (prob_micros, label_high) frame every classifier-eval operator
    * (cls3/cls4/cls5) aggregates — a projection of the memo-shared
    * `scoredCorpus` frame, so the whole eval family rides ONE training
    * run + ONE scoring scan per harness pass. NOTE the first family
    * member to run pays cls1's eager training jobs at construction time.
    */
  private def scoredWithLabels(spark: SparkSession, dir: String,
                               dim: Int, trainSample: Int, iters: Int,
                               lrDiv: Int,
                               positiveSources: Seq[String]): DataFrame =
    scoredCorpus(spark, dir, dim, trainSample, iters, lrDiv, positiveSources)
      .select(col("prob_micros"), col("label_high"))

  /** The aggregation half of cls4: the decile-threshold confusion/PR
    * sweep of any (prob_micros, label_high) frame. One corpus-sized
    * aggregate onto ≤ 11 bin rows; everything after is bounded-frame
    * arithmetic — the 11-threshold confusion table falls out of suffix
    * sums over the bins because the thresholds ARE the bin boundaries
    * (p6 >= t·10⁵ ⟺ p6 div 10⁵ >= t on non-negative ints). Precision /
    * recall / F1 in exact micro units via truncating integer division
    * (Spark `div` == DuckDB `//`); a threshold that predicts nothing
    * positive has NULL precision/F1 (the only honest value — both
    * engines agree on the NULL).
    */
  def thresholdSweepOf(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    val bins = scored
      .groupBy(expr("prob_micros div 100000").as("bin"))
      .agg(
        sum(col("label_high").cast("long")).as("bp"),
        sum((!col("label_high")).cast("long")).as("bn"))
    val tot = bins.agg(
      coalesce(sum(col("bp")), lit(0L)).as("np"),
      coalesce(sum(col("bn")), lit(0L)).as("nn"))
    val thr = spark.range(0, 11).select(col("id").as("t"))
    thr.join(broadcast(bins), col("bin") >= col("t"), "left")
      .groupBy(col("t"))
      .agg(
        coalesce(sum(col("bp")), lit(0L)).as("tp"),
        coalesce(sum(col("bn")), lit(0L)).as("fp"))
      .crossJoin(broadcast(tot))
      .select(
        (col("t") * 100000L).as("threshold_micros"),
        col("tp"), col("fp"),
        (col("np") - col("tp")).as("fn"),
        (col("nn") - col("fp")).as("tn"),
        when(col("tp") + col("fp") > 0,
          expr("(tp * 1000000) div (tp + fp)")).as("precision_micros"),
        when(col("np") > 0,
          expr("(tp * 1000000) div np")).as("recall_micros"))
      .withColumn("f1_micros",
        when(col("precision_micros").isNotNull && col("recall_micros").isNotNull
            && col("precision_micros") + col("recall_micros") > 0,
          expr("(2 * precision_micros * recall_micros) div (precision_micros + recall_micros)")))
      .orderBy("threshold_micros")
  }

  /** cls4: decile-threshold sweep of the trained quality classifier —
    * the operating-point table (confusion counts + precision / recall /
    * F1 at every deci-probability cutoff) that picks WHERE to cut when
    * the pipeline needs a hard keep/drop decision instead of cls2's
    * probabilistic draw. cls3 says whether the scores are calibrated;
    * this says what each cutoff costs in kept-junk (precision) vs
    * lost-quality (recall) — the last table the filtering recipe reads
    * before spending the scores on 100 TB.
    *
    * Exactness: cls1's bit-replayed integer-grid scores; counts are
    * exact longs; rates in micro units by truncating division; an
    * undefined precision (no predicted positives) is NULL in both
    * engines. Scale posture: the training bound + ONE scoring scan into
    * an 11-row partial-mergeable aggregate; the sweep itself is
    * bounded-frame (11×11 broadcast) arithmetic, free at any corpus
    * size.
    */
  def thresholdSweep(spark: SparkSession, dir: String,
                     dim: Int = 64, trainSample: Int = 4096,
                     iters: Int = 3, lrDiv: Int = 2,
                     positiveSources: Seq[String] =
                       Seq("src0", "src1", "src2", "src3", "src4")): DataFrame =
    thresholdSweepOf(scoredWithLabels(spark, dir, dim, trainSample, iters,
      lrDiv, positiveSources))

  /** The aggregation half of cls5: exact ROC-AUC of any (prob_micros,
    * label_high) frame by the tie-aware Mann–Whitney rank statistic —
    * AUC = U / (n_pos·n_neg) where, grouping by distinct score s with
    * p_s positives, n_s negatives and nb(s) negatives strictly below,
    * 2U = Σ_s p_s·(2·nb(s) + n_s) (ties contribute the half-credit the
    * average-rank convention assigns, and doubling keeps the statistic
    * exactly integral). Published as the exact long `auc_num2` plus ONE
    * rounded double division `auc` (the drift2 convention); NULL when a
    * class is absent. The cumsum runs over the DISTINCT-score support —
    * bounded by the 10⁶+1-slot probability grid regardless of corpus
    * size — in the x31/x36 two-phase bucket form (per-decile subtotals
    * + broadcast offsets), so no partition ever sees even the whole
    * bounded grid. Products are bounded by n_pos·n_neg: ample in long
    * here; at true fleet counts the cross-multiply moves to decimal,
    * same plan.
    */
  def aucOf(scored: DataFrame): DataFrame = {
    val ps = scored
      .groupBy(col("prob_micros").as("p6"))
      .agg(
        sum(col("label_high").cast("long")).as("p_s"),
        sum((!col("label_high")).cast("long")).as("n_s"))
      .withColumn("bucket", expr("p6 div 100000"))
    val offs = ps.groupBy(col("bucket"))
      .agg(sum(col("n_s")).as("b_n"))
      .withColumn("o_n", coalesce(
        sum(col("b_n")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "o_n")
    val cum = Window.partitionBy(col("bucket")).orderBy(col("p6"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ps.join(broadcast(offs), "bucket")
      .withColumn("nb", col("o_n") + coalesce(sum(col("n_s")).over(cum), lit(0L)))
      .agg(
        coalesce(sum(col("p_s")), lit(0L)).as("n_pos"),
        coalesce(sum(col("n_s")), lit(0L)).as("n_neg"),
        coalesce(sum(col("p_s") * (col("nb") * 2L + col("n_s"))), lit(0L))
          .as("auc_num2"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          graft.functions.Doubles.roundZ(
            col("auc_num2").cast("double") /
              (col("n_pos") * col("n_neg") * 2L).cast("double"), 6)))
  }

  /** cls5: exact ROC-AUC of the trained quality classifier — the one
    * scalar the GPT-3/LLaMA filtering recipe reports for the filter
    * itself (threshold-free ranking quality: P(random positive scores
    * above random negative, ties half)). Complements cls3 (calibration)
    * and cls4 (operating points): a model can be well-calibrated and
    * still rank poorly, and vice versa. Exactness: tie-aware rank AUC
    * on cls1's bit-replayed integer scores, integral `auc_num2` until
    * ONE rounded division. Scale posture: training bound + one scoring
    * scan into a support-sized aggregate (≤ 10⁶+1 rows by the grid,
    * corpus-independent), then the two-phase bucket cumsum onto one
    * row. The oracle replays the naive single-window form; the hash
    * check certifies the equivalence.
    */
  def aucTable(spark: SparkSession, dir: String,
               dim: Int = 64, trainSample: Int = 4096,
               iters: Int = 3, lrDiv: Int = 2,
               positiveSources: Seq[String] =
                 Seq("src0", "src1", "src2", "src3", "src4")): DataFrame =
    aucOf(scoredWithLabels(spark, dir, dim, trainSample, iters, lrDiv,
      positiveSources))
}

/** Driver-local replica of one cls1/cls6 full-batch hard-sigmoid logistic
  * gradient round over the sparse quantized feature rows (doc, y6, j, xq),
  * updating `wq` in place — bit-identical to the Spark aggregate form it
  * replaced (the round-17 optimization), because every quantity is exact
  * long arithmetic:
  *
  *  - per-doc margin z12 = Σ xq·w[j] — long sums commute, so local
  *    accumulation order is irrelevant;
  *  - p6 = (clamp(z12 + 2e12, 0, 4e12) + 2e6) div 4e6 with NON-NEGATIVE
  *    operands after the clamp, where Java `/` == Spark `div` == DuckDB
  *    `//` (they differ only on negatives);
  *  - gradient g_j = Σ err6·xq — again commuting long sums;
  *  - update w[j] -= g_j / divisor — Java long division truncates toward
  *    zero, exactly like the driver-side update it replaces. A j with no
  *    feature rows has g_j = 0 and its weight is untouched, exactly like
  *    the aggregate that produced no row for it.
  *
  * CurationSpec pins one round against the Spark-side aggregate form on
  * real corpus features.
  */
private[graft] object ClassifierLocal {

  private def p6(z12: Long): Long =
    (math.min(math.max(z12 + 2000000000000L, 0L), 4000000000000L) +
      2000000L) / 4000000L

  def gradientRound(rows: Array[(Long, Long, Int, Long)], wq: Array[Long],
                    divisor: Long): Unit = {
    val zAcc = scala.collection.mutable.HashMap.empty[Long, Long]
    val y6Of = scala.collection.mutable.HashMap.empty[Long, Long]
    rows.foreach { case (doc, y6, j, xq) =>
      zAcc.update(doc, zAcc.getOrElse(doc, 0L) + xq * wq(j))
      y6Of.update(doc, y6)
    }
    val err6Of = zAcc.map { case (doc, z12) => doc -> (p6(z12) - y6Of(doc)) }
    val g = new Array[Long](wq.length)
    rows.foreach { case (doc, _, j, xq) => g(j) += err6Of(doc) * xq }
    var j = 0
    while (j < wq.length) { wq(j) -= g(j) / divisor; j += 1 }
  }
}
