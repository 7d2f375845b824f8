package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Doubles, RollingHash, Sketches}

/** Text-analysis operators over the `documents` table: language ID, quality
  * scoring, token statistics, and content fingerprinting. All per-document
  * work is a single codegen'd projection (no UDFs, no shuffle); only the
  * per-source rollup in x3 shuffles, keyed by source.
  */
object TextAnalysis {

  /** Language marker lexicons for the n-gram/stopword-hit heuristic. On real
    * corpora these would be per-language frequency tables; the mechanism —
    * count hits per language, argmax with a fixed priority order — is the
    * same at any lexicon size.
    */
  private[graft] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("data", "table", "row"),
    "de" -> Seq("join", "merge", "group"),
    "fr" -> Seq("window", "stream", "batch"),
    "zh" -> Seq("spark", "vector", "hash"))

  // native codegen'd set-membership counter — the HOF spelling
  // size(filter(toks, _.isin(...))) runs an interpreted lambda per token
  private def hitCount(toks: Column, words: Seq[String]): Column =
    Sketches.countInSet(toks, words)

  /** x1: language identification by marker-token counts; ties resolve in
    * fixed lexicon order (en > es > de > fr > zh).
    */
  /** Argmax-with-priority CASE chain over per-language score columns named
    * by `score` — shared by x1 and the p1 pipeline decision.
    */
  private[operators] def predLangExpr(score: String => Column): Column = {
    val langs = markers.map(_._1)
    langs.init.foldRight(lit(langs.last): Column) { (l, els) =>
      val mine = score(l)
      val beats = langs.filter(_ != l).map(o => mine >= score(o)).reduce(_ && _)
      when(beats, lit(l)).otherwise(els)
    }
  }

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), toks.as("toks"))
      .select(
        (col("doc_id") +: col("lang") +:
          markers.map { case (l, ws) => hitCount(col("toks"), ws).as(s"s_$l") }): _*)
    scored
      .withColumn("pred_lang", predLangExpr(l => col(s"s_$l")))
      .select("doc_id", "lang", "pred_lang")
      .orderBy("doc_id")
  }

  /** x2: document quality score from length / type-token ratio / stopword
    * ratio — pure column arithmetic, one codegen'd pass.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val stops = markers.flatMap(_._2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      // raw ratios feed the score; rounding only happens at the output edge
      // (rounding-then-weighting lands scores exactly on decimal halves,
      // where engines disagree)
      .withColumn("ttr_raw",
        size(array_distinct(col("toks"))).cast("double") / col("n_words"))
      .withColumn("stop_raw",
        Sketches.countInSet(col("toks"), stops).cast("double") / col("n_words"))
      .withColumn("quality_score",
        round(lit(0.4) * col("ttr_raw")
          + lit(0.3) * (lit(1.0) - abs(col("stop_raw") - lit(0.4)))
          + lit(0.3) * least(col("n_words").cast("double") / 100.0, lit(1.0)), 6))
      .withColumn("ttr", round(col("ttr_raw"), 6))
      .withColumn("stop_ratio", round(col("stop_raw"), 6))
      .select("doc_id", "n_words", "ttr", "stop_ratio", "quality_score")
      .orderBy("doc_id")
  }

  /** x3: token statistics per source — whitespace tokens vs a BPE-ish
    * regex tokenizer (`[a-z]+|[0-9]+|[^a-z0-9 ]`).
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("re"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("re")).as("re_tokens"))
      .withColumn("avg_ws_tokens",
        round(col("ws_tokens").cast("double") / col("n_docs"), 4))
      .select("source", "n_docs", "ws_tokens", "re_tokens", "avg_ws_tokens")
      .orderBy("source")

  /** x38: the per-source corpus DATASHEET — the first table every
    * dataset card reports (docs, bytes, tokens, language mix, exact-dup
    * rate per source), composed as ONE exact frame so the numbers a
    * release ships are oracle-checkable rather than notebook folklore.
    * `top_lang` breaks count ties lexicographically (deterministic);
    * rates are micro-unit truncating divisions (exact longs, the cls3
    * convention); `dup_docs` counts redundant byte-identical copies
    * (n_docs − distinct texts, d1's notion).
    *
    * Scale shape: one scan → one (source, lang) count (tiny) + one
    * per-source aggregate. The exact `count(DISTINCT text)` is the one
    * data-proportional exchange (text-hash partitioned, the same cost
    * class as d1).
    */
  def sourceDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("text"), col("n_chars"))
    val base = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
      countDistinct(col("text")).as("n_uniq"),
      countDistinct(col("lang")).as("n_langs"))
    val topLang = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("ln"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("ln").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("ln").as("top_n"))
    // null-safe join (the rankSplit discipline): groupBy keeps NULL as its
    // own source stratum, so a plain equi-join would silently drop that
    // stratum from the datasheet
    base.join(topLang, base("source") <=> topLang("source"))
      .drop(topLang("source"))
      .select(col("source"), col("n_docs"), col("n_chars"), col("n_tokens"),
        expr("n_chars div n_docs").as("avg_chars"),
        col("n_langs"), col("top_lang"),
        expr("(top_n * 1000000) div n_docs").as("top_lang_micros"),
        (col("n_docs") - col("n_uniq")).as("dup_docs"),
        expr("((n_docs - n_uniq) * 1000000) div n_docs").as("dup_rate_micros"))
      .orderBy("source")
  }

  /** x5: unigram log-probability scoring — the perplexity-style fluency
    * filter. The corpus token frequencies ARE the model (self-scored here;
    * in production the frequency table comes from a reference corpus and is
    * broadcast). avg log p(token) per doc, higher = more typical.
    */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("wc"))
    // Corpus token total from the already-aggregated freq table (one row),
    // broadcast-joined into the plan — no separate driver job re-scanning
    // the corpus. The vocabulary join itself is a plain shuffle join on `w`:
    // at 100 TB the vocabulary is unbounded (billions of distinct tokens),
    // so broadcasting `freq` would OOM the driver; Catalyst picks a
    // sort-merge/hash join keyed on the token instead.
    val total = freq.agg(sum(col("wc")).cast("double").as("tot"))
    tok.join(freq, "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), log(col("wc").cast("double") / col("tot")).as("lp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        Doubles.roundZ(sum(col("lp")) / count(lit(1)), 4).as("avg_logprob"))
      .select("doc_id", "n_tokens", "avg_logprob")
      .orderBy("doc_id")
  }

  /** x33: CCNet-style perplexity bucketing — per LANGUAGE, rank documents
    * by LM score (x5's unigram log-prob; in production a KenLM / x32
    * bigram model) and cut the ranking into head / middle / tail tertiles.
    * CCNet keeps head+middle and drops the tail, so the `keep` column IS
    * the curation verdict. One extra window shuffle keyed on lang on top
    * of x5's scoring plan — per-language tertiles parallelize across
    * languages exactly like x14's per-source deciles; the ordering key is
    * the ROUNDED score plus doc_id, so the ntile boundary is reproducible
    * bit-for-bit across engines (both implement standard SQL ntile:
    * first n mod k buckets one row larger).
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    unigramLogProb(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        "doc_id")
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("avg_logprob"),
        col("bucket"),
        when(col("bucket") === 1, lit("head"))
          .when(col("bucket") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket_name"),
        (col("bucket") < 3).as("keep"))
      .orderBy("doc_id")
  }

  /** x8: deterministic stratified sampling — downsample each source to its
    * own rate (corpus rebalancing). The keep decision is a pure-arithmetic
    * LCG over doc_id (portable across engines, reproducible across runs,
    * no RNG state), and the per-source rate derives from the source string
    * so the operator needs no config table. Sampling is a narrow filter:
    * no shuffle until the tiny per-source audit aggregate.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    // the product is reduced mod 2^31 BEFORE the bit extraction: doc_id is
    // first folded into [0, 2^31) with pmod (nonnegative even for negative
    // ids) so the multiply can never overflow a Long (2^31 * 1103515245 <
    // 2^62). The masking intentionally CHANGES bucket values relative to an
    // unmasked product — the final % 100 reads bits above bit 30 — but it
    // changes them identically on every engine (the oracle applies the same
    // fold), which is what the cross-engine gate needs; only x28's pure
    // bits-16..30 extraction is value-preserving under the mask
    val bucket = expr(
      "(((pmod(doc_id, 2147483648) * 1103515245 + 12345) % 2147483648) div 65536) % 100")
    val rate = lit(25) + pmod(length(col("source")) * 17, lit(50))
    Tables.documents(spark, dir)
      .withColumn("rate_pct", rate.cast("long"))
      .filter(bucket < col("rate_pct"))
      .groupBy(col("source"), col("rate_pct"))
      .agg(
        count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("first_kept"))
      .orderBy("source")
  }

  /** x28: weighted sampling without replacement — the Efraimidis–Spirakis
    * one-pass scheme (key = u^(1/w), keep the top-k keys), here weighted by
    * token count so the kept subset is token-budget-proportional (long docs
    * proportionally likelier — the "sample N docs worth ~M tokens" shape).
    * The uniform u is the same engine-portable integer LCG x8 uses (pure
    * arithmetic on doc_id: reproducible across runs AND engines, so the
    * oracle recomputes it exactly). Scoring is one narrow projection; the
    * only shuffle is the global top-k, which plans as TakeOrdered — no
    * full sort. At 100 TB: per-partition partial top-k, k rows per
    * partition to the driver-side merge, the same mergeable-top-k shape as
    * q_topk_agg.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // u in (0,1]: 15-bit LCG output + 1, scaled — never exactly 0, so the
    // pow is finite for any weight
    // same overflow-proof mod-2^31 LCG as x8: the % 32768 here reads only
    // bits 16..30 of the product, which the mod-2^31 fold preserves, so
    // this value matches the unmasked LCG wherever that one didn't
    // overflow (doc_id ~8.4e9, where it goes negative — NaN keys that
    // sort first — or throws under ANSI mode). pmod keeps the folded id
    // nonnegative even for negative doc_ids, where a signed % would make
    // Spark's div (truncating) and DuckDB's // (flooring) diverge and u
    // could reach 0
    val u = (expr(
      "(((pmod(doc_id, 2147483648) * 1103515245 + 12345) % 2147483648) div 65536) % 32768") + 1.0) / 32768.0
    val wc = size(split(col("text"), " ")).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), wc.as("n_tokens"), u.as("u"))
      .withColumn("key", round(pow(col("u"), lit(1.0) / col("n_tokens")), 9))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("key"))
      .orderBy(col("key").desc, col("doc_id"))
  }

  /** x7: feature-hashing text embedding — the deterministic featurizer that
    * gives every document a fixed-size L2-normalized vector (the "hashing
    * trick") with no model or vocabulary, as one codegen'd pass. Output
    * plugs straight into the embedding operators (d5 near-dup, s1/s2 ANN)
    * when no learned embedding column exists.
    *
    * The driver-checked surface emits scalar columns only (the raw
    * array<double> is not sortable/hashable by the compare harness):
    * token count, non-zero dimension count, L2 norm (1.0 or 0.0 by
    * construction — the kernel normalizes), and a digest of the full
    * vector, which changes if any component changes. The digest is an
    * ordered poly-31 fold over the non-zero (dimension, ⌊v·10⁶+0.5⌋)
    * pairs — wraparound long arithmetic both engines reproduce exactly,
    * so the whole query has a bit-exact DuckDB oracle (xxhash64 would
    * not). Exact component semantics stay pinned by
    * KernelPropertiesSpec; `hashEmbeddingVectors` below returns the raw
    * vectors for composition with d5/s1/s2.
    */
  def hashEmbeddings(spark: SparkSession, dir: String, dim: Int = 64): DataFrame =
    hashEmbeddingVectors(spark, dir, dim)
      .select(
        col("doc_id"),
        col("n_tokens"),
        size(filter(col("embedding"), v => v =!= lit(0.0))).cast("long").as("nnz"),
        round(sqrt(aggregate(col("embedding"), lit(0.0), (acc, v) => acc + v * v)), 6)
          .as("l2_norm"),
        aggregate(
          zip_with(sequence(lit(0L), lit(dim - 1L)), col("embedding"),
            (i, v) => struct(i.as("i"), v.as("v"))),
          // fold state is DECIMAL(38,0) reduced mod 2^64 each step: ANSI
          // mode forbids wraparound long multiply, and decimal keeps the
          // arithmetic exact and engine-portable (DuckDB mirrors it in
          // HUGEINT)
          lit(new java.math.BigDecimal(0)).cast("decimal(38,0)"),
          (h, s) => when(s("v") === 0.0, h).otherwise(
            pmod(
              (h * 31 + s("i").cast("decimal(38,0)")) * 31 +
                floor(s("v") * 1e6 + 0.5).cast("decimal(38,0)"),
              lit(new java.math.BigDecimal("18446744073709551616")))
              .cast("decimal(38,0)")),
          h => when(h >= lit(new java.math.BigDecimal("9223372036854775808")),
            h - lit(new java.math.BigDecimal("18446744073709551616")))
            .otherwise(h).cast("long"))
          .as("vec_digest"))
      .orderBy("doc_id")

  /** The raw-vector form of x7 — embedding column usable as d5/s1/s2 input. */
  def hashEmbeddingVectors(spark: SparkSession, dir: String, dim: Int = 64): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        Sketches.hashEmbedding(split(col("text"), " "), dim).as("embedding"))

  /** x11: within-document repetition signals — the Gopher-style quality
    * filters: fraction of duplicated words and duplicated bigrams inside
    * each document. Pure per-row projection, no shuffle until the (absent)
    * caller aggregates; docs with fewer than 2 tokens score 0 by definition.
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
      .withColumn("n_words", size(col("t")).cast("long"))
      // zip_with over two slices, NOT transform(sequence, element_at(t, i)):
      // projection collapse re-inlines `t` as the split(), so the indexed
      // spelling re-splits the text once per position — O(n²) per doc
      // (measured 5x on the corpus). The slices evaluate the split twice.
      .withColumn("bg",
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat_ws(" ", a, b)))
      .select(
        col("doc_id"),
        col("n_words"),
        round(lit(1.0) -
          size(array_distinct(col("t"))).cast("double") / col("n_words"), 6)
          .as("dup_word_frac"),
        when(size(col("bg")) > 0,
          round(lit(1.0) -
            size(array_distinct(col("bg"))).cast("double") / size(col("bg")), 6))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** x10: top-k bigrams per source — the corpus n-gram profile. One explode
    * + one (source, bigram) aggregation + a rank window; Spark 4 plans the
    * rank filter as WindowGroupLimit, pushing top-k below the sort so each
    * partition forwards at most k rows per source.
    */
  def topBigrams(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val toks = split(col("text"), " ")
    val byCount = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n").desc, col("bigram"))
    Tables.documents(spark, dir)
      .filter(size(toks) >= 2)
      // slice+zip_with, not transform(sequence, element_at): see x11 — the
      // indexed form re-splits the text per position, O(n²) per doc
      .select(col("source"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat_ws(" ", a, b)))
          .as("bigram"))
      .groupBy("source", "bigram")
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(byCount).cast("long"))
      .filter(col("rnk") <= k)
      .select("source", "rnk", "bigram", "n")
      .orderBy("source", "rnk")
  }

  /** x34: top-k PMI collocations per source — pointwise mutual information
    * `ln(bc·T / (uc1·uc2))` over within-source bigram/unigram counts, the
    * collocation profile that separates real phrases ("machine learning")
    * from merely-frequent pairs x10's raw counts surface. A min-count
    * floor kills the low-frequency PMI explosion (hapax pairs otherwise
    * dominate any PMI ranking). Plan: x10's bigram fan-out aggregated on
    * (source, w1, w2), two unigram joins keyed on (source, token) — the
    * vocabulary is never broadcast, same posture as x5/x12 — the
    * sources-sized token-total frame broadcast, top-k as WindowGroupLimit.
    * Every count is an exact long < 2^53, so the double ratio and its
    * round-4 are engine-identical (the x12 discipline).
    */
  def pmiBigrams(spark: SparkSession, dir: String, k: Int = 10,
                 minCount: Int = 5): DataFrame = {
    val toks = split(col("text"), " ")
    val bg = Tables.documents(spark, dir)
      .filter(size(toks) >= 2)
      .select(col("source"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("source"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("source", "w1", "w2")
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") >= minCount)
    val uni = Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("w"))
      .groupBy("source", "w")
      .agg(count(lit(1)).as("uc"))
    val tot = uni.groupBy("source").agg(sum(col("uc")).as("t"))
    val byPmi = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("pmi").desc, col("w1"), col("w2"))
    bg
      .join(uni.select(col("source"), col("w").as("w1"), col("uc").as("uc1")),
        Seq("source", "w1"))
      .join(uni.select(col("source"), col("w").as("w2"), col("uc").as("uc2")),
        Seq("source", "w2"))
      .join(broadcast(tot), "source")
      .withColumn("pmi",
        Doubles.roundZ(
          log((col("bc").cast("double") * col("t")) / (col("uc1") * col("uc2"))),
          4))
      .withColumn("rnk", row_number().over(byPmi).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"),
        concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("bc"), col("uc1"), col("uc2"), col("pmi"))
      .orderBy("source", "rnk")
  }

  /** x12: top-k TF-IDF terms per source — the corpus's distinguishing-term
    * profile. TF counts the term within a source; DF counts documents over
    * the whole corpus. The DF table is vocabulary-sized, so the tf⋈df join
    * shuffles on the token (broadcasting it would OOM the driver at corpus
    * scale — same posture as x5); the corpus doc count rides in as a
    * one-row broadcast; the per-source top-k plans as WindowGroupLimit.
    */
  def tfidfTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = tok.groupBy("source", "w").agg(count(lit(1)).as("tf"))
    // document frequency without the (doc_id, w) distinct() exchange:
    // within-doc dedup is per-row array_distinct, so the per-token count
    // partial-aggregates map-side and only (w, partial df) rows shuffle
    // (guide §2.3/2.4 — the former form shuffled every distinct
    // (doc_id, token) pair just to count tokens per document set)
    val df = Tables.documents(spark, dir)
      .select(explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast("double").as("nd"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("w"))
    tf.join(df, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log(col("nd") / col("df")), 4))
      .withColumn("rnk", row_number().over(byScore).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("w").as("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("source", "rnk")
  }

  /** i1: doc-partitioned inverted index — token → posting list, segmented
    * by doc_id range so no single row aggregates an unbounded list: a
    * stopword's postings spread across ceil(N/segSize) bounded rows
    * instead of one giant array (the hot-token skew guard; production
    * indexes shard postings exactly this way). Postings are emitted as a
    * sorted comma-joined string — compact, and sortable by the compare
    * harness (raw array columns are not).
    */
  def invertedIndex(spark: SparkSession, dir: String, segSize: Int = 64): DataFrame =
    Tables.documents(spark, dir)
      // per-doc array_distinct BEFORE the explode: (doc_id, w) duplicates
      // only exist WITHIN a document, so the rows are already distinct and
      // the former corpus-wide distinct() exchange was pure overhead
      // (guide §2.4) — the posting aggregate below is the only shuffle
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("segment", (col("doc_id") / lit(segSize)).cast("long"))
      .groupBy("w", "segment")
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(
          transform(array_sort(collect_list(col("doc_id"))), _.cast("string")),
          ",").as("postings"))
      .orderBy("w", "segment")

  /** i3: positional phrase search — exact-phrase retrieval over a
    * positional token index (the query class i1's doc-level postings and
    * i2's bag-of-words BM25 both cannot answer: "the data" as ADJACENT
    * tokens). The token stream is filtered to the phrase's terms
    * immediately after tokenize — only the phrase vocabulary survives into
    * the join — and adjacency is one equi-join keyed on (doc_id, pos):
    * co-keyed by document, so the join shuffles each term's postings once
    * and never fans out beyond true positional matches. Top-k plans as
    * TakeOrdered (count desc, doc_id) — no global sort of the match set.
    * At 100 TB the positional index would be the stored artifact (i1's
    * segmented layout plus positions) and this join runs against it
    * unchanged.
    */
  def phraseSearch(spark: SparkSession, dir: String,
                   w1: String = "the", w2: String = "data",
                   k: Int = 20): DataFrame = {
    val pos = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w").isin(w1, w2))
    val a = pos.filter(col("w") === w1).select(col("doc_id"), col("pos"))
    val b = pos.filter(col("w") === w2)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .select(lit(s"$w1 $w2").as("phrase"), col("doc_id"), col("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(k)
  }

  /** x14: per-source quality-decile binning (ntile) — the "keep the top
    * N% by quality" curation step. Scoring reuses the x2 formula; binning
    * is PER SOURCE so the sort parallelizes across strata — a single
    * global ntile would serialize the corpus through one partition, the
    * per-stratum form is the at-scale shape. Ordering ties break on
    * doc_id, and the score is rounded before ordering so bin boundaries
    * are engine-portable.
    */
  def qualityBins(spark: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val toks = split(col("text"), " ")
    val stops = markers.flatMap(_._2)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), toks.as("toks"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("q",
        round(lit(0.4) * (size(array_distinct(col("toks"))).cast("double") / col("n_words"))
          + lit(0.3) * (lit(1.0) -
            abs(Sketches.countInSet(col("toks"), stops).cast("double") / col("n_words") - lit(0.4)))
          + lit(0.3) * least(col("n_words").cast("double") / 100.0, lit(1.0)), 6))
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("q"), col("doc_id"))
    scored
      .withColumn("decile", ntile(bins).over(byQ).cast("long"))
      .groupBy("source", "decile")
      .agg(
        count(lit(1)).as("n_docs"),
        round(min("q"), 6).as("q_lo"),
        round(max("q"), 6).as("q_hi"))
      .orderBy("source", "decile")
  }

  /** x4: document fingerprints via the native rolling-hash expressions —
    * whole-text polynomial hash + minimum 32-byte-window hash (winnowing
    * sketch). Rows-only checked; exactness is pinned by ScalaTest.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        RollingHash.polyHash(col("text")).as("fp64"),
        RollingHash.minWindowHash(col("text"), 32).as("min_win_fp"))
      .orderBy("doc_id")

  /** x17: per-document unigram Shannon entropy (nats) — the
    * vocabulary-diversity quality signal (low entropy = template/boilerplate,
    * the repetition class x11 counts in a different basis). Computed as
    * H = ln(n) − (Σ c·ln c)/n so the per-(doc, token) aggregate feeds one
    * partial-mergeable per-doc aggregate — two shuffles, both keyed and
    * bounded by document size, nothing vocabulary-sized on any single node.
    */
  def docEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      .select(col("doc_id"), col("n_tokens"),
        Doubles.roundZ(log(col("n_tokens").cast("double")) - col("clogc") / col("n_tokens"), 6)
          .as("entropy"))
      .orderBy("doc_id")

  /** x18: Zipf slope per source — the log-log regression of token frequency
    * against frequency rank, the classic natural-language sanity check on a
    * corpus slice (≈ −1 for organic text; flat or cliff-shaped for
    * machine-generated spam). Token counts shuffle once on (source, token);
    * ranks come from a WindowGroupLimit-capped row_number over the
    * per-source count relation (vocabulary-sized, never the corpus); the
    * regression is Spark's partial-mergeable regr_slope/regr_r2 co-moments.
    */
  def zipfSlope(spark: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    val byFreq = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n").desc, col("w"))
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w")
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(byFreq))
      .filter(col("rnk") <= topK)
      .select(col("source"), log(col("rnk").cast("double")).as("lr"),
        log(col("n").cast("double")).as("lf"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        Doubles.roundZ(regr_slope(col("lf"), col("lr")), 4).as("zipf_slope"),
        Doubles.roundZ(regr_r2(col("lf"), col("lr")), 4).as("r2"))
      .orderBy("source")
  }

  /** x19: source vocabulary overlap — pairwise Jaccard between every two
    * sources' distinct-token vocabularies, the corpus-slice contamination /
    * redundancy diagnostic run before mixing sources into a training blend.
    * The token join fans out to at most |sources|² rows PER TOKEN (sources
    * are a bounded catalog, not data-scaled), so candidate volume is
    * |vocab| · |sources|² — linear in the vocabulary; the per-pair
    * intersection aggregate and the tiny per-source size table cap the
    * result at |sources|² rows.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // cached: the per-source size aggregate and BOTH sides of the overlap
    // self-join read it — without the persist the corpus-wide distinct
    // runs three times
    val vocab = graft.CacheRegistry.persistTracked(
      Tables.documents(spark, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .distinct())
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("n"))
    vocab.select(col("source").as("source_a"), col("w"))
      .join(vocab.select(col("source").as("source_b"), col("w")), "w")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(sizes.withColumnRenamed("source", "sa")
        .withColumnRenamed("n", "na")), col("source_a") === col("sa"))
      .join(broadcast(sizes.withColumnRenamed("source", "sb")
        .withColumnRenamed("n", "nb")), col("source_b") === col("sb"))
      .select(col("source_a"), col("source_b"), col("c").as("n_shared"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6)
          .as("vocab_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** x15: PII scrub — regex redaction of emails / NANP phone numbers /
    * SSN-shaped ids, with per-document match counts and an md5 of the
    * redacted text so the oracle verifies the actual rewrite, not just the
    * counts. One codegen'd projection, no shuffle, no UDF; patterns are
    * RE2-compatible so every engine in the pipeline (and the DuckDB oracle)
    * agrees on matches. The synthetic corpus is PII-free (all counts 0 —
    * the oracle still pins the regex dialect end to end); PiiScrubSpec
    * drives the patterns over real fixtures.
    */
  private[operators] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private[operators] val ssnRe   = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(col("text"), lit(ssnRe), lit(0))).cast("long").as("n_ssns"),
        md5(regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), emailRe, "<EMAIL>"),
            ssnRe, "<SSN>"),
          phoneRe, "<PHONE>")).as("redacted_md5"))
      .orderBy("doc_id")

  /** x23: distributed BPE tokenizer training — learn `merges` byte-pair
    * merges from the corpus (Sennrich et al., ACL'16). The scale shape is
    * the whole point: ONE corpus scan folds the text down to the
    * (word, freq) vocabulary table, and every merge iteration — adjacent-
    * pair counting, argmax, merge rewrite — runs on that vocabulary-sized
    * frame, never re-touching the corpus. At 100 TB the corpus scan is the
    * only big job; the loop is as cheap as the vocabulary — and because
    * that training state is vocabulary-sized (Heaps' law: millions of
    * distinct words, not the corpus), the merge loop itself runs
    * INCREMENTALLY ON THE DRIVER (Sennrich's reference algorithm: live
    * pair counts + an occurrence index), so a merge step costs CPU, not a
    * cluster job round-trip — 32k merges no longer pay 32k job latencies.
    * A corpus whose distinct-word count exceeds `driverVocabCap` falls
    * back to the fully distributed per-step loop with identical semantics
    * (spec-pinned equal). Ties break by pair text so runs are
    * deterministic. Output is the learned merge table in rank order — the
    * tokenizer artifact itself.
    */
  def bpeMerges(spark: SparkSession, dir: String,
                merges: Int = 10,
                driverVocabCap: Long = DriverVocabCap): DataFrame = {
    import spark.implicits._
    val wordFreq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    sharedMerges(spark, dir, merges, wordFreq, driverVocabCap)
      .toDF("rank", "left", "right", "pair_count")
      .orderBy("rank")
  }

  /** The learned merge table, memo-shared per (dir, merges): x23 and x24
    * train over the same corpus-global word frequencies, so within one
    * harness pass the 10-step loop (and its 10 driver argmaxes) runs
    * once. The table is the ≤`merges`-row model artifact — exactly the
    * kind of small driver-side value CacheRegistry.memoSharedValue holds.
    */
  private def sharedMerges(spark: SparkSession, dir: String, merges: Int,
                           wordFreq: => DataFrame,
                           driverVocabCap: Long = DriverVocabCap): Seq[(Int, String, String, Long)] =
    graft.CacheRegistry.memoSharedValue(
      s"bpe:${spark.sparkContext.applicationId}:$dir:$merges:$driverVocabCap")(
      learnMerges(spark, wordFreq, merges, driverVocabCap))

  // pair separator inside the argmax key: NUL can never occur in a symbol
  // (symbols are substrings of whitespace-split words)
  private val PairSep = '\u0000'

  /** Vocabulary cap for the driver-side incremental trainer. BPE training
    * state after the corpus aggregation is VOCABULARY-sized, so the merge
    * loop belongs on the driver for the common case — like k3's k-row
    * centroid table, it is a bounded model artifact, not data. Above the
    * cap the fully distributed loop takes over.
    */
  private[operators] val DriverVocabCap = 1000000L

  /** The merge-learning loop over an already-aggregated (w, freq)
    * vocabulary frame — shared by x23 (which builds the vocab from the
    * corpus) and x24 (which derives it from its per-source frequency
    * table, so train + apply together cost ONE corpus scan). The split
    * symbol table is built once (cached, released by the harness); the
    * incremental driver trainer takes it when the vocabulary fits
    * `driverVocabCap`, the distributed loop otherwise. Both paths
    * implement identical semantics — argmax by (count desc, pair text
    * asc), greedy leftmost rewrite — and are spec-pinned equal.
    */
  private[graft] def learnMerges(spark: SparkSession, wordFreq: DataFrame,
                                 merges: Int,
                                 driverVocabCap: Long = DriverVocabCap): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    val vocab0 = graft.CacheRegistry.persistTracked(
      wordFreq.select(split(col("w"), "").as("sym"), col("freq")))
    if (vocab0.count() <= driverVocabCap)
      learnMergesIncremental(vocab0.as[(Seq[String], Long)].collect(), merges)
    else
      learnMergesDistributed(spark, vocab0, merges)
  }

  /** Greedy leftmost non-overlapping single-merge rewrite — the one
    * rewrite rule both trainers share.
    */
  private def mergeOnce(sym: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
        out += l + r; i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-side incremental BPE trainer (Sennrich et al.'s reference
    * algorithm): pair counts are maintained UNDER the merges — each step
    * pays one argmax over the live count table plus a rewrite of only the
    * words containing the merged pair (found via an occurrence index) —
    * so large merge budgets cost CPU, never per-step cluster round-trips.
    */
  /** Unsigned UTF-8 byte-order "a < b" — Spark's UTF8String binary
    * collation, shared by both merge-learning paths so their tie-breaks
    * can never diverge.
    */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private def learnMergesIncremental(vocab: Array[(Seq[String], Long)],
                                     merges: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val words = vocab.map(_._1.toArray)
    val freqs = vocab.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    // occurrence index: pair -> indices of words that contained it when
    // last indexed; entries go stale after rewrites and are re-validated
    // (cheap contains scan) before use
    val occurs = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    def bump(p: (String, String), f: Long): Unit = {
      val n = counts.getOrElse(p, 0L) + f
      if (n == 0L) counts.remove(p) else counts.update(p, n)
    }
    def index(wi: Int): Unit = {
      val w = words(wi); val f = freqs(wi)
      var k = 0
      while (k < w.length - 1) {
        val p = (w(k), w(k + 1))
        bump(p, f)
        occurs.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += wi
        k += 1
      }
    }
    def deindex(wi: Int): Unit = {
      val w = words(wi); val f = freqs(wi)
      var k = 0
      while (k < w.length - 1) { bump((w(k), w(k + 1)), -f); k += 1 }
    }
    words.indices.foreach(index)
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    while (step < merges && counts.nonEmpty) {
      // the distributed loop's exact argmax: count desc, then the
      // PairSep-joined pair text ascending in UTF-8 BYTE order — the same
      // collation as the fallback's Spark orderBy (UTF8String binary).
      // Java String '<' compares UTF-16 code units, which disagrees on
      // supplementary-plane characters (surrogates 0xD800+ sort below
      // 0xE000+ BMP text that UTF-8 places first).
      var bl: String = null; var br: String = null
      var bn = Long.MinValue; var bk: String = null
      counts.foreach { case ((l, r), n) =>
        val k = l + PairSep + r
        if (n > bn || (n == bn && utf8Less(k, bk))) { bl = l; br = r; bn = n; bk = k }
      }
      learned += ((step, bl, br, bn))
      occurs.getOrElse((bl, br), mutable.ArrayBuffer.empty).distinct.foreach { wi =>
        val w = words(wi)
        var contains = false
        var k = 0
        while (!contains && k < w.length - 1) {
          if (w(k) == bl && w(k + 1) == br) contains = true
          k += 1
        }
        if (contains) { // skip stale index entries
          deindex(wi)
          words(wi) = mergeOnce(w, bl, br)
          index(wi)
        }
      }
      occurs.remove((bl, br))
      step += 1
    }
    learned.result()
  }

  /** The distributed merge loop — the unbounded-vocabulary fallback: one
    * declarative adjacent-pair count + 1-row argmax + typed merge rewrite
    * per step. Each step is a cluster job, which is exactly why the
    * driver trainer owns the common case.
    */
  private def learnMergesDistributed(spark: SparkSession, vocab0: DataFrame,
                                     merges: Int): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    val pairCol = explode(zip_with(
      slice(col("sym"), lit(1), size(col("sym")) - 1),
      slice(col("sym"), lit(2), size(col("sym")) - 1),
      (a, b) => concat(a, lit(PairSep.toString), b)))
    var vocab = vocab0.as[(Seq[String], Long)].localCheckpoint()
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var exhausted = false
    while (step < merges && !exhausted) {
      val top = vocab.toDF("sym", "freq")
        .filter(size(col("sym")) > 1)
        .select(pairCol.as("pair"), col("freq"))
        .groupBy("pair").agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Array(l, r) = top.head.getString(0).split(PairSep)
        learned += ((step, l, r, top.head.getLong(1)))
        vocab = vocab.map { case (sym, freq) =>
          (mergeOnce(sym.toArray, l, r).toSeq, freq)
        }.localCheckpoint()
        step += 1
      }
    }
    learned.result()
  }

  /** Apply a BPE merge list (rank order) to one word's symbol sequence —
    * the tokenizer-apply inner loop, shared by x24 and its spec.
    */
  private[operators] def applyMerges(word: String,
                                     ms: Seq[(String, String)]): Seq[String] = {
    var sym: Seq[String] = word.split("").toSeq
    ms.foreach { case (l, r) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < sym.length) {
        if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
          out += l + r; i += 2
        } else { out += sym(i); i += 1 }
      }
      sym = out.toSeq
    }
    sym
  }

  /** x24: tokenizer apply + compression accounting — tokenize the corpus
    * under the x23-learned merge table and report per-source token counts
    * and the chars-per-token compression ratio (the number that prices
    * training and sizes packing). The learned merge table is the model: a
    * bounded artifact (≤ `merges` rows) collected once and closed over —
    * exactly how a trained tokenizer ships to a cluster — while the apply
    * pass stays on the vocabulary-sized (source, word, freq) frame; the
    * corpus is scanned once for the count and never re-touched.
    */
  def tokenCompression(spark: SparkSession, dir: String,
                       merges: Int = 10): DataFrame = {
    import spark.implicits._
    // one corpus scan for the whole train+apply pipeline: the per-source
    // frequency table is cached (vocabulary-sized — the cacheable tier),
    // the training vocab re-aggregates it, and the apply pass re-reads it
    val srcFreq = graft.CacheRegistry.persistTracked(
      Tables.documents(spark, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("freq")))
    val wordFreq = srcFreq.groupBy("w").agg(sum(col("freq")).as("freq"))
    val ms: Seq[(String, String)] =
      sharedMerges(spark, dir, merges, wordFreq).map(t => (t._2, t._3))
    srcFreq
      .as[(String, String, Long)]
      .map { case (source, w, freq) =>
        (source, freq, w.length.toLong * freq,
          applyMerges(w, ms).length.toLong * freq)
      }
      .toDF("source", "ws_tokens", "chars", "bpe_tokens")
      .groupBy("source")
      .agg(sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("chars")).as("chars"),
        sum(col("bpe_tokens")).as("bpe_tokens"))
      .withColumn("chars_per_token",
        round(col("chars").cast("double") / col("bpe_tokens"), 4))
      .orderBy("source")
  }

  /** x46: BPE ENCODE — apply the x23-learned merge table to emit the
    * actual token-id sequence per document (x23 learns the merges, x24
    * prices them; this is the pass that tokenizes the corpus for
    * training). The token dictionary is corpus alphabet ∪ merge products
    * in UTF-8 byte order with dense 0-based ids — like the merge table
    * itself, a bounded model artifact (|alphabet| + ≤ `merges` entries)
    * held on the driver and shipped in the closure. Every symbol
    * `applyMerges` can produce is covered: unmerged symbols are alphabet
    * characters, merged ones are some rank's `l+r` product.
    *
    * Output is the m1 audit-row discipline — fixed width per document
    * regardless of length: the BPE token count plus a CRC32 over the
    * comma-joined decimal id sequence, which pins the EXACT ids in exact
    * order without shipping a token column that would dwarf the corpus.
    * (A production sink would write the ids as an array column straight
    * to parquet — same pass, wider row.)
    *
    * Scale shape: train once (vocabulary-sized state, memo-shared with
    * x23/x24), then ONE narrow encode pass — per-partition cost ∝ bytes
    * scanned, a per-partition word→encoding memo capping the repeated
    * `applyMerges` work on duplicate words, no shuffle beyond the
    * ordered output.
    */
  def bpeEncode(spark: SparkSession, dir: String, merges: Int = 10): DataFrame = {
    import spark.implicits._
    val wordFreq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val ms: Seq[(String, String)] =
      sharedMerges(spark, dir, merges, wordFreq).map(t => (t._2, t._3))
    val alphabet = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(explode(split(col("w"), "")).as("c"))
      .distinct().as[String].collect().toSeq
    val dict: Map[String, Long] =
      (alphabet ++ ms.map { case (l, r) => l + r })
        .distinct.sortWith(utf8Less).zipWithIndex
        .map { case (s, i) => s -> i.toLong }.toMap
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // word -> (ids-csv, token count): partition-local memo so
        // duplicate words tokenize once; bounded to keep a pathological
        // vocabulary from pinning executor memory
        val memo = new java.util.HashMap[String, (String, Long)]()
        def enc(w: String): (String, Long) = {
          val hit = memo.get(w)
          if (hit != null) hit
          else {
            val syms = applyMerges(w, ms)
            val v = (syms.iterator.map(dict(_)).mkString(","), syms.length.toLong)
            if (memo.size < 100000) memo.put(w, v)
            v
          }
        }
        it.map { case (id, text) =>
          val sb = new java.lang.StringBuilder
          var n = 0L
          text.split(" ").iterator.filter(_.nonEmpty).foreach { w =>
            val (ids, k) = enc(w)
            if (sb.length > 0) sb.append(',')
            sb.append(ids)
            n += k
          }
          val c = new java.util.zip.CRC32
          c.update(sb.toString.getBytes("UTF-8"))
          (id, n, c.getValue)
        }
      }
      .toDF("doc_id", "n_tokens", "ids_crc32")
      .orderBy("doc_id")
  }

  /** i2: BM25 top-k retrieval — score every document against a term query
    * with Okapi BM25 (k1 = 1.2, b = 0.75, the Robertson/Sparck-Jones idf in
    * its always-positive ln(1 + …) form) and keep the best `topK`. This is
    * the retrieval half of targeted data selection (find the corpus docs
    * most relevant to a probe set) and the exact-scoring twin of what the
    * i1 inverted index serves at interactive latency.
    *
    * Scale shape: the token stream is filtered to the query terms AT THE
    * SCAN (predicate on the exploded token — candidate rows ∝ docs
    * containing a term, not corpus tokens); df is |terms| rows, broadcast;
    * doc lengths come from the same single corpus scan; the global top-k is
    * a TakeOrdered, never a full sort. Per-term contributions are rounded
    * to 9 and summed as exact decimals (the k1 discipline) so the final
    * score — and therefore the top-k cut — is partial-aggregation-order
    * independent.
    */
  def bm25TopK(spark: SparkSession, dir: String,
               terms: Seq[String] = Seq("spark", "window", "join"),
               topK: Int = 20): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val dl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    // one row: corpus size and total token count (avgdl = tot_dl / n_docs,
    // kept as the exact integer pair so both engines divide identically)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = docs
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df") + 0.5)
          / (col("df").cast("double") + 0.5) + 1.0))
      .withColumn("contrib",
        round(col("idf") * (col("tf").cast("double") * (k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") * col("n_docs")
              / col("tot_dl")))), 9))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms_hit"),
        Doubles.roundZ(sum(col("contrib").cast("decimal(28,9)")).cast("double"), 4)
          .as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** x32: interpolated bigram language-model scoring — the KenLM-shaped
    * fluency filter one rung above x5's unigram model: per-position
    * p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/T (Jelinek–Mercer smoothing
    * with the corpus itself as the model), per-doc mean log-probability. A
    * doc of common words in an order the corpus never uses now scores low
    * where x5 scored it fluent — the signal that separates shuffled-word
    * spam from organic text.
    *
    * Scale shape: the x5/x21 vocabulary discipline throughout — the bigram
    * and unigram count tables are shuffle-joined on their token keys
    * (BILLIONS of distinct bigrams at 100 TB; broadcasting either table
    * would OOM the driver), the single-row corpus total is the only
    * broadcast, and the per-doc rollup is one keyed aggregate. Four
    * shuffles total, each keyed on a high-cardinality column.
    */
  def bigramLogProb(spark: SparkSession, dir: String,
                    lambda: Double = 0.7): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("uc"))
    val total = uni.agg(sum(col("uc")).cast("double").as("tot"))
    val occ = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("bg"))
      .select(col("doc_id"),
        col("bg").getField("w1").as("w1"), col("bg").getField("w2").as("w2"))
    val bi = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bc"))
    occ
      .join(bi, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("uc", "uc1"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("uc", "uc2"), "w2")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(lit(lambda) * (col("bc").cast("double") / col("uc1"))
          + lit(1.0 - lambda) * (col("uc2").cast("double") / col("tot"))).as("lp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        Doubles.roundZ(sum(col("lp")) / count(lit(1)), 4).as("avg_bigram_lp"))
      .orderBy("doc_id")
  }
}
