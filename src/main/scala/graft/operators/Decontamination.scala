package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Sketches

/** Benchmark decontamination — the training-data hygiene operator: flag
  * corpus documents that share any contiguous k-token shingle with a
  * benchmark/eval corpus, so eval data can be removed from training input.
  *
  * Scale posture: both sides reduce to (key, shingle) streams; the join is
  * a shuffle on the shingle (or a broadcast when the benchmark side is
  * small, which it always is in practice — benchmarks are MBs, corpora are
  * TBs). Candidate volume is bounded by true shingle collisions, never a
  * cross product. The join key is the shingle's 64-bit hash, not the
  * string: the carried column shrinks from ~tens of bytes to 8 and the
  * broadcast set holds longs — the fleet-scale layout. A hash collision
  * could in principle flag a clean document; at 64 bits that chance is
  * ~n²/2⁶⁵, and the sf0.01 oracle (which joins raw strings) hash-matches,
  * confirming zero collisions at test scale.
  */
object Decontamination {

  /** c1: documents outside `benchSource` sharing at least one k-shingle
    * with a `benchSource` document → (doc_id, source, n_hit_shingles).
    * Shingle hashing is the native ShingleHash64 kernel — one pass over the
    * document bytes, values bit-identical to xxhash64 of the concat_ws
    * shingle strings (which the HOF spelling would rebuild per element,
    * re-splitting the text each time).
    */
  def contaminated(spark: SparkSession, dir: String,
                   k: Int = 8, benchSource: String = "src0"): DataFrame = {
    // Round 18: same fused-kernel form as c3 — the bench hash set rides
    // the scan as a sorted constant (the collect is the identical bounded
    // set the broadcast join shipped), and the per-doc DISTINCT-hit count
    // is one graft_count_in_sorted_set pass over the doc's distinct
    // shingle hashes. The corpus-wide explode + broadcast probe + keyed
    // aggregate are gone; docs with zero hits fall to the filter exactly
    // as the inner join dropped them.
    val benchHashes = sortedBenchHashes(spark, dir, k, benchSource)
    Tables.documents(spark, dir)
      .filter(col("source") =!= benchSource)
      .filter(size(split(col("text"), " ")) >= k)
      .select(col("doc_id"), col("source"),
        Sketches.countInSortedSet(
          array_distinct(Sketches.shingleHash64(col("text"), k)),
          benchHashes).as("n_hit_shingles"))
      .filter(col("n_hit_shingles") > 0)
      .orderBy("doc_id")
  }

  /** The benchmark side of c1/c2/c3 as a standalone frame: the distinct
    * 64-bit k-shingle hashes of the `benchSource` documents — the set a
    * live ingest guard broadcasts against every micro-batch
    * (`StreamOps.contaminationGuardStream`). Benchmarks are MBs in
    * practice, so this frame is always broadcast-sized; the SAME
    * ShingleHash64 kernel as the batch operators, so stream and batch
    * verdicts agree bit-for-bit.
    */
  def benchShingles(spark: SparkSession, dir: String,
                    k: Int = 8, benchSource: String = "src0"): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("source") === benchSource)
      .filter(size(split(col("text"), " ")) >= k)
      .select(explode(array_distinct(Sketches.shingleHash64(col("text"), k))).as("h"))
      .distinct()

  /** Most distinct bench hashes the c-family collects: 16 MB of sorted
    * longs, which every task of the scan carries as a constant.
    * A benchmark corpus is MBs of text, well under this (the sf0.1 bench
    * source has 11,548 distinct 8-shingles).
    */
  val MaxBenchHashes: Int = 1 << 21

  /** `benchShingles` collected as one sorted array — the
    * constant c1/c2/c3 and `contaminatedIds` probe per document. Collects
    * at most `bound + 1` rows and raises when the set is larger, instead
    * of running the collecting JVM or the task binaries out of memory.
    */
  private[operators] def sortedBenchHashes(spark: SparkSession, dir: String,
                                           k: Int, benchSource: String,
                                           bound: Int = MaxBenchHashes): Array[Long] = {
    val hs = benchShingles(spark, dir, k, benchSource).limit(bound + 1)
      .collect().map(_.getLong(0))
    if (hs.length > bound) throw new IllegalStateException(
      s"bench source '$benchSource' has more than $bound distinct $k-shingle hashes " +
        "(Decontamination.MaxBenchHashes); the c-family holds them as one in-memory array")
    java.util.Arrays.sort(hs)
    hs
  }

  /** The per-doc any-hit verdict p1 joins as its contamination stage —
    * c1's candidate join without the per-doc rollup or ordered output:
    * distinct doc_ids outside `benchSource` sharing ≥ 1 k-shingle with
    * it. Same scale posture (broadcast bench hash set, hit volume bounds
    * the shuffle).
    */
  // memo-shared per session pass: the hit list is static per (dir, k,
  // benchSource) and is probed by every pipeline-decision caller (p1-p4
  // and EVERY landing batch of the streaming funnel) — recomputing the
  // corpus-wide shingle explode per probe would put an O(corpus) term
  // in each one.
  private[operators] def contaminatedIds(spark: SparkSession, dir: String,
                                         k: Int = 8,
                                         benchSource: String = "src0"): DataFrame =
    graft.CacheRegistry.memoShared(
      s"contamids:${spark.sparkContext.applicationId}:$dir:$k:$benchSource")(
      {
        // c1's fused-kernel form (round 18): any-hit verdict straight off
        // the scan — no explode, no probe join, no distinct exchange
        // (doc_ids are unique in `documents` already)
        val benchHashes = sortedBenchHashes(spark, dir, k, benchSource)
        Tables.documents(spark, dir)
          .filter(col("source") =!= benchSource)
          .filter(size(split(col("text"), " ")) >= k)
          .filter(Sketches.countInSortedSet(
            array_distinct(Sketches.shingleHash64(col("text"), k)),
            benchHashes) > 0)
          .select("doc_id")
      })

  /** c2: fraction-based decontamination — the graded form of c1 used by
    * production pretraining pipelines (PaLM / GPT-4 style): a document is
    * contaminated when at least `1/denom` of its distinct k-shingles also
    * appear in the benchmark corpus, not when any single shingle does. c1's
    * any-hit rule is the conservative filter; the fraction distinguishes
    * verbatim eval copies (frac → 1) from incidental boilerplate overlap
    * (frac ≈ 0), which is what a curation pipeline actually thresholds on.
    *
    * Same scale posture as c1 — the benchmark side reduces to a broadcast
    * set of 64-bit shingle hashes, the corpus side streams (doc, hash) rows
    * through a LEFT join against it (hit = key present), and one keyed
    * aggregate emits per-doc totals. The LEFT join keeps zero-overlap docs
    * in the output (they carry the keep verdict), which the inner-join c1
    * drops. The verdict compares integers (`denom * n_hit >= n_shingles`),
    * never a rounded double, so the threshold edge is engine-exact.
    */
  def contaminationFraction(spark: SparkSession, dir: String,
                            k: Int = 8, benchSource: String = "src0",
                            denom: Int = 5): DataFrame = {
    // Round 18: c1's fused-kernel form, LEFT-join flavour — zero-hit docs
    // keep their row (n_hit = 0), n_shingles is the distinct-hash array's
    // size (what count(lit(1)) counted per doc after the explode).
    val benchHashes = sortedBenchHashes(spark, dir, k, benchSource)
    Tables.documents(spark, dir)
      .filter(col("source") =!= benchSource)
      .filter(size(split(col("text"), " ")) >= k)
      .select(col("doc_id"), col("source"),
        array_distinct(Sketches.shingleHash64(col("text"), k)).as("hs"))
      .select(col("doc_id"), col("source"),
        size(col("hs")).cast("long").as("n_shingles"),
        Sketches.countInSortedSet(col("hs"), benchHashes).as("n_hit"))
      .withColumn("contam_frac",
        round(col("n_hit").cast("double") / col("n_shingles"), 6))
      .withColumn("contaminated",
        col("n_hit") * denom >= col("n_shingles"))
      .orderBy("doc_id")
  }

  /** x26: duplicated-span fraction — for each doc, the share of its
    * distinct k-shingles that also occur in at least one OTHER document
    * (the memorization-risk signal behind exact-substring dedup, Lee et
    * al., ACL'22, approximated at shingle granularity). Corpus-internal
    * twin of c1: same codegen'd shingle-hash kernel, but instead of a
    * benchmark join the shingle occurrence counts come from one keyed
    * aggregate over the whole corpus. A hot shingle (boilerplate in a
    * million docs) stays one counter row — counts, never pair fanout, so
    * there is no O(n²) cliff. The oracle recomputes over shingle STRINGS:
    * the fraction is hash-agnostic, so the SQL match also certifies the
    * kernel's 64-bit keys collide on nothing in this corpus.
    */
  /** x29: duplicated-span REMOVAL — the rewrite x26 only measures: every
    * token covered solely because its k-shingle span occurs earlier in the
    * corpus is dropped, keeping each span's GLOBAL FIRST occurrence (by
    * (doc_id, start) order — the ExactSubstr dedup of Lee et al., ACL'22,
    * at shingle granularity). Scale shape: one keyed aggregate finds each
    * shingle's first occurrence (shuffle ∝ occurrences, like x26), dup
    * occurrences collect their START positions into ONE per-doc array
    * (shuffle ∝ dup occurrences — the k-fold covered-position fan-out is
    * expanded doc-locally AFTER the aggregate, since `array_except`
    * ignores duplicates in its removal argument), and the rewrite itself
    * is NARROW — `array_except` on a position sequence plus an
    * `element_at` transform inside the doc row, no token explode,
    * no per-token shuffle. The oracle replays it over shingle STRINGS
    * (row_number per string vs the kernel's min-struct per hash agree iff
    * the 64-bit keys collide on nothing — the same certification x26
    * carries), so the rewritten text matches byte-for-byte.
    */
  def dupSpanRemoval(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
    val occ = docs.filter(col("n") >= k)
      .select(col("doc_id"), posexplode(Sketches.shingleHash64(col("text"), k)))
      .toDF("doc_id", "s", "h")
    val first = occ.groupBy("h")
      .agg(min(struct(col("doc_id"), col("s"))).as("f"))
    val removed = occ.join(first, "h")
      .filter(col("f.doc_id") =!= col("doc_id") || col("f.s") =!= col("s"))
      .groupBy("doc_id").agg(collect_set(col("s")).as("starts"))
    // Expand dup-span starts to covered positions doc-locally: array_except
    // drops every occurrence of a removal element, so overlapping spans'
    // repeated positions need no distinct pass.
    val starts = coalesce(col("starts"), array().cast("array<int>"))
    val rm = flatten(transform(starts, st => sequence(st, st + k - 1)))
    val keptPos = array_except(sequence(lit(0), col("n") - 1), rm)
    val kept = transform(keptPos, p => element_at(col("t"), p + 1))
    docs.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("text_clean"))
      .orderBy("doc_id")
  }

  /** c3: SURGICAL decontamination — instead of dropping a contaminated
    * document (c1/c2's verdicts), remove exactly the tokens covered by a
    * k-shingle that appears in the benchmark corpus, keeping the rest of
    * the document in the training set (the ExactSubstr rewrite x29 applies
    * to duplicates, aimed at the eval set instead). Plan mirrors x29: the
    * benchmark side reduces to a broadcast set of 64-bit shingle hashes
    * (c1's layout), corpus shingles stream through the membership join,
    * hit starts collect to ONE per-doc array, and the rewrite is narrow
    * (array_except + transform inside the doc row — no token explode).
    * Docs with zero hits keep their row (`scrubbed` = false) — the output
    * IS the cleaned corpus, not a diff. The oracle replays over shingle
    * strings and matches the rewritten text byte-for-byte.
    *
    * Collision caveat (the c1 convention): the engine matches shingles by
    * 64-bit hash while the stated contract (and the oracle) is exact
    * string match, so a hash collision between a corpus shingle and a
    * different benchmark shingle would over-scrub those tokens. At 64
    * bits the birthday bound puts a first collision around ~5·10⁹
    * distinct shingles — astronomically unlikely below fleet scale, but
    * the contract is probabilistic, not exact.
    */
  def contaminationScrub(spark: SparkSession, dir: String,
                         k: Int = 8, benchSource: String = "src0"): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("source") =!= benchSource)
      .select(col("doc_id"), col("source"), col("text"),
        split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
    // Round 18 (guide §2.4/§4.1): the bench shingle-hash set is collected
    // once — a bounded, benchmark-sized (MBs by the family's posture)
    // Spark job, the bloomBuild/x42c precedent; the broadcast join
    // collected the identical set to the driver anyway — and the per-doc
    // hit positions come from ONE fused kernel pass over the text
    // (graft_shingle_hit_starts: ShingleHash64's byte walk + exact sorted-
    // set membership). This deletes the corpus-wide
    // posexplode(shingleHash64) row stream (~|tokens| rows through a
    // broadcast-hash probe), the per-doc collect_set aggregate and the
    // doc-keyed rejoin: c3 becomes one narrow projection over `documents`
    // plus the ordered-output sort. Hit membership is the SAME exact
    // 64-bit hash set, so the rewritten text is bit-identical, including
    // the collision caveat above.
    val benchHashes = sortedBenchHashes(spark, dir, k, benchSource)
    val starts = Sketches.shingleHitStarts(col("text"), k, benchHashes)
    val rm = flatten(transform(starts, st => sequence(st, st + k - 1)))
    val keptPos = array_except(sequence(lit(0), col("n") - 1), rm)
    val kept = transform(keptPos, p => element_at(col("t"), p + 1))
    docs
      .select(col("doc_id"), col("source"),
        col("n").cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        (size(kept) < col("n")).as("scrubbed"),
        array_join(kept, " ").as("text_clean"))
      .orderBy("doc_id")
  }

  def dupShingleFraction(spark: SparkSession, dir: String,
                         k: Int = 8): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= k)
      .select(col("doc_id"),
        explode(array_distinct(Sketches.shingleHash64(col("text"), k))).as("h"))
    // shingles are distinct within a doc, so the per-hash row count IS the
    // number of docs containing that shingle
    val occ = sh.groupBy("h").agg(count(lit(1)).as("nd"))
    sh.join(occ, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("nd") > 1).cast("long")).as("n_dup_shingles"))
      .withColumn("dup_frac",
        round(col("n_dup_shingles").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }
}
