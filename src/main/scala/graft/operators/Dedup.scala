package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Sketches, VectorFunctions}

/** Deduplication family over the `documents` / `embeddings` tables — the
  * operators a large-scale training-data pipeline runs before anything else.
  *
  * Scale posture: the only quadratic-looking step anywhere is a self-join,
  * and every self-join here is *blocked* — by LSH band bucket (d2), simhash
  * band (d3), source (d4), or label (d5) — so shuffle volume is proportional
  * to candidate pairs, not to n². At 100 TB the blocked joins shuffle on
  * their block key once; nothing is ever collected to the driver.
  */
object Dedup {

  /** d1: exact dedup — group identical texts, keep the smallest doc_id.
    * One hash shuffle on the text (at scale: on a 128-bit text digest).
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  // --- MinHash machinery (d2) -----------------------------------------

  /** Word shingles of size `k` as an array column (k=1 → word set). */
  private[graft] def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    if (k == 1) array_distinct(toks)
    else array_distinct(
      transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** k=`numHashes` MinHash signature — the native codegen'd kernel (one
    * string hash per shingle + k cheap long mixes; see
    * graftbridge.MinHashSignature).
    */
  def minHashSignature(shingleCol: Column, numHashes: Int): Column =
    Sketches.minHashSignature(shingleCol, numHashes)

  /** d2: MinHash + LSH near-dup candidates. Signature: 32 hashes; banding:
    * 8 bands x 4 rows. Docs sharing any band bucket become a candidate pair;
    * pairs are scored by signature agreement (the MinHash estimate of
    * Jaccard) and kept at est >= the threshold.
    *
    * Join discipline for scale: the band join carries ONLY (bucket, doc_id)
    * — signatures rejoin after the candidate pairs are deduplicated, so the
    * wide arrays are shuffled once per *distinct* pair, not once per band
    * collision. Candidate volume tracks true collisions, never n².
    */
  def minhashLsh(spark: SparkSession, dir: String,
                 shingleSize: Int = 1, numHashes: Int = 32, bands: Int = 8,
                 minEstJaccard: Double = 0.8, maxBucketSize: Int = 2000): DataFrame = {
    // The signature is the expensive kernel and is reused by three branches
    // (banding + both sides of the pair rejoin) — persist it once. At fleet
    // scale this is a MEMORY_AND_DISK cache of (id, 32 longs), a tiny
    // fraction of the corpus it replaces recomputing. Tracked in
    // CacheRegistry so harnesses release it deterministically after the
    // result materializes.
    val docs = graft.CacheRegistry.persistTracked(
      Tables.documents(spark, dir)
        .filter(size(split(col("text"), " ")) >= shingleSize)
        .select(col("doc_id"),
          minHashSignature(shingles(col("text"), shingleSize), numHashes).as("sig")))

    val pairs = minhashCandidatePairs(docs, numHashes, bands, maxBucketSize)

    pairs
      .join(docs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .select(col("a_id"), col("b_id"),
        (Sketches.equalCount(col("a_sig"), col("b_sig")).cast("double") / numHashes)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .orderBy("a_id", "b_id")
  }

  /** d8: INCREMENTAL near-dup detection — the query a production pipeline
    * runs per ingest batch: which of the NEW documents near-duplicate
    * anything already in the corpus (or each other)? Same MinHash banding,
    * threshold and bucket cap as d2, but the pair join is batch-side ×
    * corpus-side instead of corpus × corpus, so candidate volume (and the
    * shuffle behind it) is ∝ |batch| × bucket density — at 100 TB the
    * daily increment never re-pairs the historical corpus with itself.
    * Output: canonical (a_id < b_id) pairs with ≥ 1 new side, scored by
    * signature agreement, plus per-side is-new flags so the caller can
    * split batch-vs-corpus hits from batch-internal ones.
    *
    * The "new batch" membership is a deterministic predicate on doc_id
    * (`doc_id % batchMod == 0`, 10% of the corpus by default) so the
    * DuckDB oracle can replay the split exactly; a real pipeline passes
    * its own ingest-date predicate. Over-full buckets are detected on the
    * FULL corpus (identical cap semantics to d2 — a stop-shingle bucket is
    * uninformative no matter which side it comes from).
    */
  def incrementalDedup(spark: SparkSession, dir: String,
                       shingleSize: Int = 1, numHashes: Int = 32, bands: Int = 8,
                       minEstJaccard: Double = 0.8, maxBucketSize: Int = 2000,
                       batchMod: Int = 10): DataFrame = {
    val rows = numHashes / bands
    val docs = graft.CacheRegistry.persistTracked(
      Tables.documents(spark, dir)
        .filter(size(split(col("text"), " ")) >= shingleSize)
        .select(col("doc_id"),
          (pmod(col("doc_id"), lit(batchMod.toLong)) === 0).as("is_new"),
          minHashSignature(shingles(col("text"), shingleSize), numHashes).as("sig")))

    val banded = docs.select(
      col("doc_id"), col("is_new"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(
            b.as("band"),
            slice(col("sig"), b * rows + 1, lit(rows)).as("bucket"))))
        .as("bb"))
      .select(col("doc_id"), col("is_new"), col("bb.band"), col("bb.bucket"))
    // two-level cap: hash-keyed count, exact recount of flagged groups
    // only — no corpus-sized exchange carries the bucket array (see
    // overfullBuckets; identical cap semantics on the FULL corpus)
    val overfull = overfullBuckets(banded, maxBucketSize)
    val bounded = banded.join(broadcast(overfull), Seq("band", "bucket"), "left_anti")

    // batch side × full side: every emitted pair has >= 1 new member, and
    // the join fan-out is bounded by the BATCH's bucket occupancy. A
    // new-new pair arrives in both orders — least/greatest + distinct
    // canonicalizes it to one row. The join keys on xxhash64(band,
    // bucket) — 8 B instead of the 32 B slice array, d2's round-17
    // narrowing; the cap above still counts exact buckets, and at the
    // declared threshold (0.8 > 1 − bands/numHashes) the scored output
    // is provably identical (see minhashCandidatePairs).
    val keyed = bounded.select(
      xxhash64(col("band"), col("bucket")).as("bh"),
      col("doc_id"), col("is_new"))
    val cand = keyed.filter(col("is_new"))
      .select(col("bh"), col("doc_id").as("n_id"))
      .join(keyed.select(col("bh"), col("doc_id").as("x_id")), Seq("bh"))
      .filter(col("n_id") =!= col("x_id"))
      .select(least(col("n_id"), col("x_id")).as("a_id"),
        greatest(col("n_id"), col("x_id")).as("b_id"))
      .distinct()

    cand
      .join(docs.select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
        col("is_new").as("a_new")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
        col("is_new").as("b_new")), "b_id")
      .select(col("a_id"), col("b_id"),
        (Sketches.equalCount(col("a_sig"), col("b_sig")).cast("double") / numHashes)
          .as("est_jaccard"),
        col("a_new"), col("b_new"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .orderBy("a_id", "b_id")
  }

  /** Over-cap (band, bucket) pairs of a banded frame — the d2/d8 bucket
    * cap, computed in TWO levels so no corpus-sized exchange carries the
    * 32 B bucket array (round 18, guide §2.3; the round-17 narrowing only
    * hashed the candidate-join key, and the cap count still shuffled the
    * exact array as its aggregate key):
    *
    *   1. count per xxhash64(band, bucket) — an 8 B aggregate key. A hash
    *      GROUP's count is an upper bound on every exact bucket inside it
    *      (a group is a disjoint union of exact buckets), so any group at
    *      or under the cap proves all its buckets are under the cap and
    *      is dropped from further work.
    *   2. recount EXACTLY on (band, bucket), but only over rows whose
    *      hash group was flagged — ∝ the over-cap volume (hot stop-shingle
    *      buckets plus astronomically rare hash collisions), not the
    *      corpus. The exact recount keeps cap semantics bit-identical: a
    *      collision can flag a group, but the exact count behind it
    *      decides, so two buckets can never merge across the cap boundary.
    *
    * The flagged-hash frame is ≤ (#overfull buckets + collisions) rows —
    * broadcast-sized by the same argument that makes `overfull` itself
    * broadcastable.
    */
  private[graft] def overfullBuckets(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    val flagged = banded
      .groupBy(xxhash64(col("band"), col("bucket")).as("bh"))
      .agg(count(lit(1)).as("grp_n"))
      .filter(col("grp_n") > maxBucketSize)
      .select("bh")
    banded
      .join(broadcast(flagged),
        xxhash64(col("band"), col("bucket")) === col("bh"))
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("bkt_n"))
      .filter(col("bkt_n") > maxBucketSize)
      .select("band", "bucket")
  }

  /** LSH candidate pairs (banded, capped, deduped — UNscored) from a
    * (doc_id, sig) frame — split out of minhashLsh so skew specs can
    * assert CANDIDATE VOLUME, the quantity the bucket cap bounds,
    * independently of scoring.
    *
    * The CAP groups on the band's raw signature slice (array equality is
    * the collision predicate the oracle replays; a hashed cap could merge
    * two buckets across the cap boundary and change results), while the
    * candidate SELF-JOIN keys on xxhash64(band, bucket) — 8 B per row
    * instead of the 32 B slice array (round-17, guide §2.3). A join-key
    * collision can only ADD candidates, never drop one; at any score
    * threshold t with numHashes·(1−t) < bands (d2/d8's declared 0.8:
    * 32·0.2 = 6.4 < 8) the SCORED output is provably unchanged — a pair
    * at est ≥ t has ≤ ⌊numHashes·(1−t)⌋ broken bands, so it already
    * shares an exact band bucket, and collision-only candidates die at
    * the est filter. Below that threshold (spec-only territory) the
    * candidate set is a hash-superset with the same astronomically-
    * unlikely-collision contract c3 documents.
    *
    * Standard LSH hygiene: cap bucket size. An over-full bucket means the
    * band carries no discriminating information there (stop-shingle
    * territory) but would cost O(size²) pairs — the worst-case skew killer
    * at fleet scale. Recall is preserved by the other bands. The handful of
    * over-cap buckets is found with a partial-aggregable count and removed
    * with a broadcast anti-join — no sort-based window over every row.
    */
  private[graft] def minhashCandidatePairs(docs: DataFrame, numHashes: Int,
                                           bands: Int, maxBucketSize: Int): DataFrame = {
    val rows = numHashes / bands
    val banded = graft.CacheRegistry.persistTracked(
      docs.select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(
              b.as("band"),
              slice(col("sig"), b * rows + 1, lit(rows)).as("bucket"))))
          .as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bucket")))

    val overfull = overfullBuckets(banded, maxBucketSize)
    val bounded = banded.join(broadcast(overfull), Seq("band", "bucket"), "left_anti")

    // Round-17: the candidate self-join keys on xxhash64(band, bucket) —
    // one 8 B long instead of the 32 B signature-slice array (guide §2.3,
    // narrower shuffle keys). The over-full CAP above still counts exact
    // array buckets (a hash collision must not merge two buckets across
    // the cap boundary); only the join key is hashed, and a collision can
    // only ADD candidate pairs, never drop one. The final output is
    // provably unchanged: est ≥ 0.8 means ≥ 26 of 32 matching hash slots,
    // so at most 6 of the 8 bands are broken and the pair ALREADY shares
    // ≥ 2 exact band buckets — every surviving pair is a real-band
    // candidate, and collision-only candidates die at the est filter.
    val keyed = bounded.select(
      xxhash64(col("band"), col("bucket")).as("bh"), col("doc_id"))
    keyed.select(col("bh"), col("doc_id").as("a_id"))
      .join(keyed.select(col("bh"), col("doc_id").as("b_id")), Seq("bh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  // --- SimHash machinery (d3) -----------------------------------------

  /** 64-bit SimHash of a token array — the native codegen'd kernel (one
    * engine-portable poly-31 + xorshift64 hash per token, bit votes read
    * from that hash; see graftbridge.SimHash64).
    */
  def simHash64(tokens: Column): Column = Sketches.simHash64(tokens)

  /** d3: SimHash near-dup pairs. Candidates share one of four 16-bit bands
    * (guaranteed to catch every pair at hamming <= 3, by pigeonhole);
    * candidates are verified with the true hamming distance.
    */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), simHash64(split(col("text"), " ")).as("fp"))

    // both self-join sides read this; hash the corpus once (released by the
    // harness via CacheRegistry once the result materializes)
    val banded = graft.CacheRegistry.persistTracked(
      docs.select(col("doc_id"), col("fp"),
        explode(transform(sequence(lit(0), lit(3)),
          b => struct(b.as("band"),
            call_function("shiftright", col("fp"), b * 16).bitwiseAND(0xFFFFL).as("bits"))))
          .as("bb"))
        .select(col("doc_id"), col("fp"), col("bb.band"), col("bb.bits")))

    val a = banded.select(col("band"), col("bits"),
      col("doc_id").as("a_id"), col("fp").as("a_fp"))
    val b = banded.select(col("band"), col("bits"),
      col("doc_id").as("b_id"), col("fp").as("b_fp"))

    a.join(b, Seq("band", "bits"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long").as("hamming"))
      // verify-then-dedup: the hamming filter runs inside the join stage and
      // shrinks the distinct's shuffle to true near-dups only
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Distinct word sets per document, lexicographically sorted (the order
    * the SortedIntersectCount verification kernel requires): (doc_id,
    * source, ws, n).
    */
  private[graft] def wordSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      array_sort(array_distinct(split(col("text"), " "))).as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))

  /** Prefix-filtered candidate pairs for Jaccard >= t within each source —
    * the PPJoin/All-Pairs prefix filter (Bayardo et al., WWW'07; Xiao et
    * al., WWW'08). Each document's tokens are ordered by ascending global
    * document frequency (ties by token), and only the first
    * n − ⌈t·n⌉ + 1 tokens join: any pair with J ≥ t must share a prefix
    * token under a common total order, so recall is lossless — and the
    * corpus-wide stopwords sort LAST, which removes exactly the hot tokens
    * from the join key space. Without this, one stopword present in every
    * document of a source makes the token join O(n²) in that source — fine
    * at sf0.1, fatal at 100 TB.
    */
  private[graft] def jaccardCandidates(sets: DataFrame,
                                       minJaccard: Double): DataFrame =
    jaccardCandidatesRaw(sets, minJaccard)
      // distinct BEFORE the least/greatest projection: (s_id, l_id) is
      // already canonical (one orientation per unordered pair), and the
      // distinct keys then include the streamed prefix side's doc_id
      // partition column, so no exchange over the pre-distinct fanout is
      // needed — projecting first would make both keys computed columns
      // and buy a full candidate-fanout shuffle (measured 3x on d4).
      .distinct()
      .select(least(col("s_id"), col("l_id")).as("a_id"),
        greatest(col("s_id"), col("l_id")).as("b_id"))

  /** The candidate join BEFORE the pair distinct — (s_id, l_id) rows, one
    * per shared prefix token that survives the length and positional
    * bounds: the raw fanout the prefix filters admit.
    */
  private[graft] def jaccardCandidatesRaw(sets: DataFrame,
                                          minJaccard: Double): DataFrame = {
    val tok = sets.select(col("doc_id"), col("source"), col("n"),
      explode(col("ws")).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("df"))
    val ranked = tok.join(freq, "w")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("w"))))
    // cached: both self-join sides read it (otherwise the ranking window
    // and everything under it is computed twice)
    val prefix = graft.CacheRegistry.persistTracked(
      ranked
        .filter(col("rnk") <= col("n") - ceil(col("n") * minJaccard) + 1)
        .select("doc_id", "source", "n", "w", "rnk"))

    // Size bound inside the join: J >= t forces |B| within [t*|A|, |A|/t].
    // Positional bound (PPJoin): a token matched at prefix positions
    // (ra, rb) caps the overlap at min(na−ra, nb−rb)+1, which must reach
    // the required overlap ⌈t/(1+t)·(na+nb)⌉ — for a true pair the first
    // common token in the global order always passes, so recall is
    // lossless while the in-join fanout shrinks before the pair distinct.
    //
    // Asymmetric prefixes (round 18 — the All-Pairs index-prefix bound,
    // Bayardo et al. WWW'07 §3.1): orient each unordered pair so the
    // SMALLER word set (ties by doc_id) sits on the s-side. For a true
    // pair with ns ≤ nl, the required overlap α = ⌈t/(1+t)·(ns+nl)⌉ is at
    // least ⌈(2t/(1+t))·ns⌉, and the pair's FIRST common token in the
    // global order lies within position n − α + 1 of BOTH docs — so the
    // s-side only needs its first ns − ⌊(2t/(1+t))·ns⌋ + 1 tokens in the
    // join key space (at t = 0.8: a 0.111·ns prefix instead of 0.2·ns).
    // What this buys, precisely: the POST-positional-filter match set is
    // provably unchanged (the positional bound least(ns−rs, nl−rl)+1 ≥ α
    // already implies rs ≤ ns − α + 1, which subsumes the short bound —
    // the surviving fanout measured identical), so the gain is the
    // s-side FRAME feeding the join: ~44 % fewer rows through the
    // candidate exchange once the prefix frames are past the broadcast
    // threshold (guide §2.3, shuffle fewer bytes), and proportionally
    // fewer per-key condition evaluations inside the join.
    // floor (not ceil) on the s-bound: the scale factor is a DOUBLE, and
    // floor can never exceed the exact rational α the recall proof needs,
    // whatever direction the literal rounded — one extra prefix token at
    // integer boundaries buys float-proof losslessness. The l-side keeps
    // the standard ⌈t·n⌉ prefix (α ≥ ⌈t·nl⌉ because ns ≥ t·nl). The
    // positional and length bounds are unchanged and pairwise-tight; the
    // candidate set is a SUBSET of the symmetric form's, still a superset
    // of all true pairs, and the exact jaccard verification downstream
    // makes the scored output provably identical.
    val shortScale = lit(2 * minJaccard / (1.0 + minJaccard))
    val s = prefix
      .filter(col("rnk") <= col("n") - floor(col("n") * shortScale) + 1)
      .select(col("source").as("s_source"), col("w").as("s_w"),
        col("doc_id").as("s_id"), col("n").as("ns"), col("rnk").as("rs"))
    val l = prefix.select(col("source").as("l_source"), col("w").as("l_w"),
      col("doc_id").as("l_id"), col("n").as("nl"), col("rnk").as("rl"))
    s.join(l,
        (col("ns") < col("nl") ||
          (col("ns") === col("nl") && col("s_id") < col("l_id"))) &&
          col("s_source") === col("l_source") && col("s_w") === col("l_w") &&
          col("nl") <= floor(col("ns") / minJaccard) &&
          least(col("ns") - col("rs"), col("nl") - col("rl")) + 1 >=
            ceil(lit(minJaccard / (1.0 + minJaccard)) * (col("ns") + col("nl"))))
      .select(col("s_id"), col("l_id"))
  }

  /** d4: exact word-set Jaccard >= 0.8 within each source — prefix-filtered
    * candidate generation (linear in true candidates, stopword-immune), then
    * exact verification by intersecting the two word-set arrays per
    * candidate pair. The SQL-oracle-checkable exact counterpart of d2.
    * Memo-shared on (dir, threshold): d6/d7/g1 all start from this frame,
    * so one harness pass runs the similarity-join chain exactly once.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
                   minJaccard: Double = 0.8): DataFrame =
    graft.CacheRegistry.memoShared(
      s"d4scored:${spark.sparkContext.applicationId}:$dir:$minJaccard")(
      computeNgramJaccard(spark, dir, minJaccard))

  private def computeNgramJaccard(spark: SparkSession, dir: String,
                                  minJaccard: Double): DataFrame = {
    // cached: the candidate generator reads it once and BOTH verification
    // rejoins read it again with different join keys (a_id / b_id), so the
    // split+distinct+sort pass over every document would otherwise run
    // three times
    val sets = graft.CacheRegistry.persistTracked(
      wordSets(Tables.documents(spark, dir)))
    jaccardCandidates(sets, minJaccard)
      .join(sets.select(col("doc_id").as("a_id"), col("ws").as("a_ws"),
        col("n").as("na")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("ws").as("b_ws"),
        col("n").as("nb")), "b_id")
      .withColumn("c", Sketches.sortedIntersectCount(col("a_ws"), col("b_ws")))
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** The x40 threshold grid — one Scala definition interpolated into BOTH
    * the operator's literals and the DuckDB oracle, so the two engines
    * compare jaccard against bit-identical doubles.
    */
  private[graft] def curveTaus(minJaccard: Double = 0.8,
                               steps: Int = 10): Seq[Double] =
    (0 until steps).map(i => minJaccard + i * 0.02)

  /** x40: the dedup threshold operating CURVE — for each candidate
    * threshold τ at or above d4's generation floor, the near-dup pair
    * count, the documents touched, the documents dropped under the
    * keep-smallest rule, and the resulting corpus keep rate. This is the
    * table a curation run reads to CHOOSE its dedup threshold by its
    * data-budget consequence — the k5-elbow / cls4-operating-point
    * analogue for dedup. The drop rule is d7's canonical-keeper rule in
    * DIRECT-PAIR form (a doc is dropped iff some smaller doc_id is a ≥τ
    * near-dup of it); d4 components are near-cliques, so this tracks the
    * transitive d7 decision without re-running connected components once
    * per τ. Rates are exact truncating micro-units (the cls3/x38
    * convention).
    *
    * Scale shape: a pure RIDER on the d4 memo — one pass over the pair
    * list exploded by the |τ|-sized grid (two grid-keyed aggregates onto
    * ≤ |τ| rows) plus one pruned count of `documents`. Nothing beyond
    * d4's own build is data-proportional, and the grid is materialized
    * for ALL τ (a threshold no pair survives still gets its row — the
    * drift1 grid discipline), so the curve's shape never silently
    * truncates.
    */
  def dedupCurve(spark: SparkSession, dir: String,
                 minJaccard: Double = 0.8, steps: Int = 10): DataFrame = {
    val taus = curveTaus(minJaccard, steps)
    val tauCol = explode(array(taus.map(lit(_)): _*)).as("tau")
    // pairStats and docStats each explode the d4 frame — but that frame
    // is ALREADY a tracked persist (the d4 memo), so both passes run off
    // cache. Persisting the exploded grid instead measured WITHIN NOISE
    // of this form at sf0.1 (1.92 vs 1.86 s min-of-5, round 12): the
    // grid is |τ|× wider than the pair list, so materializing it buys
    // nothing over the second cached explode — the oracle's MATERIALIZED
    // grid analogy doesn't transfer (DuckDB has no cached pair frame).
    val grid = ngramJaccard(spark, dir, minJaccard)
      .select(col("a_id"), col("b_id"), col("jaccard"), tauCol)
      .filter(col("jaccard") >= col("tau"))
    val pairStats = grid.groupBy(col("tau")).agg(
      count(lit(1)).as("n_pairs"),
      countDistinct(col("b_id")).as("n_dropped"))
    val docStats = grid
      .select(col("tau"), explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy(col("tau")).agg(countDistinct(col("id")).as("n_docs_in_pairs"))
    val total = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_total"))
    spark.range(1).select(tauCol)
      .join(pairStats, Seq("tau"), "left")
      .join(docStats, Seq("tau"), "left")
      .crossJoin(broadcast(total))
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_in_pairs"), lit(0L)).as("n_docs_in_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_total") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
        expr("(n_total - coalesce(n_dropped, 0)) * 1000000 div n_total")
          .as("keep_micros"))
      .orderBy("tau")
  }

  /** The d4 near-dup pair list d6/d7/g1 start from — a projection of the
    * memo-shared scored frame, so within one harness process the
    * similarity-join chain runs once no matter which family member runs
    * first (per-query correctness is unaffected: the frame is
    * deterministic).
    */
  private[graft] def sharedPairs(spark: SparkSession, dir: String,
                                 minJaccard: Double): DataFrame =
    ngramJaccard(spark, dir, minJaccard).select("a_id", "b_id")

  /** d6: transitive dedup groups — connected components over the d4
    * near-dup pairs, so A~B and B~C land in one group even when A~C was
    * never scored. Pregel-style min-label propagation: each superstep joins
    * labels to the edge list and takes the neighborhood minimum, until a
    * superstep changes nothing. Per-step work is two shuffles proportional
    * to |edges|; the only driver-side value is the scalar convergence count
    * (loop control, not data). Components here are near-cliques, so the
    * iteration count tracks component diameter (small), not corpus size.
    * The converged label frame is memo-shared: d7 projects it directly
    * instead of re-running the whole iteration.
    */
  def dedupGroups(spark: SparkSession, dir: String,
                  minJaccard: Double = 0.8, maxIters: Int = 20): DataFrame =
    graft.CacheRegistry.memoShared(
      s"d6groups:${spark.sparkContext.applicationId}:$dir:$minJaccard:$maxIters")(
      computeDedupGroups(spark, dir, minJaccard, maxIters))

  private def computeDedupGroups(spark: SparkSession, dir: String,
                                 minJaccard: Double, maxIters: Int): DataFrame = {
    val pairs = sharedPairs(spark, dir, minJaccard)
    val edges = pairs
      .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .persist()
    // localCheckpoint (not persist) per superstep: iterative plans grow
    // superlinearly in lineage otherwise — planning alone dominated after a
    // few supersteps. On a cluster this would be a reliable checkpoint dir.
    // Init fuses the first superstep: labels start at min(doc_id, min
    // neighbor) instead of identity — for the near-clique components the
    // d4 pairs produce, that alone is usually the fixpoint, so the loop
    // runs one confirming superstep instead of propagate + confirm.
    //
    // The iterated label frame holds PAIR VERTICES ONLY (round 18, guide
    // §2.3/§5): a doc with no near-dup edge is its own singleton group
    // forever, and no pair vertex's label can ever point at it (labels
    // take values only from their own component's member ids). Iterating
    // over the corpus frame made every superstep's joins, checkpoints and
    // convergence probe CORPUS-sized; over the dup graph they are
    // |pairs|-sized, and the corpus pays exactly one left join at the end
    // to re-attach singletons — the same cost the old init join paid once,
    // with every per-superstep corpus cost gone.
    val vertexMin = edges.groupBy(col("a_id")).agg(min(col("b_id")).as("nmin0"))
    var labels = vertexMin
      .select(col("a_id").as("doc_id"),
        least(col("a_id"), col("nmin0")).as("group_id"))
      .localCheckpoint()
    // Convergence signal: labels only ever decrease, so the label sum is
    // strictly monotone until the fixpoint — an unchanged sum IS
    // convergence. One scalar aggregate over the checkpointed labels per
    // superstep, instead of a join-based changed-row count. (coalesce: an
    // edgeless corpus has an EMPTY label frame, and sum(empty) is null.)
    var prevSum = labels.agg(coalesce(sum(col("group_id")), lit(0L)))
      .first().getLong(0)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels, edges("b_id") === labels("doc_id"))
        .groupBy(edges("a_id").as("n_id"))
        .agg(min(col("group_id")).as("nmin"))
      // checkpointed before the self-join below — both sides of the
      // pointer-double would otherwise recompute the two joins above
      val propagated = labels
        .join(neighborMin, labels("doc_id") === neighborMin("n_id"), "left")
        .select(col("doc_id"),
          least(col("group_id"), coalesce(col("nmin"), col("group_id")))
            .as("group_id"))
        .localCheckpoint()
      // pointer-doubling shortcut (group_id := label of my label) turns
      // linear chain propagation into logarithmic convergence
      val updated = propagated.as("x")
        .join(propagated.select(col("doc_id").as("g_id"), col("group_id").as("g_gid")),
          col("x.group_id") === col("g_id"), "left")
        .select(col("x.doc_id").as("doc_id"),
          least(col("x.group_id"), coalesce(col("g_gid"), col("x.group_id")))
            .as("group_id"))
        .localCheckpoint()
      val newSum = updated.agg(coalesce(sum(col("group_id")), lit(0L)))
        .first().getLong(0)
      converged = newSum == prevSum
      prevSum = newSum
      labels = updated
      iter += 1
    }
    edges.unpersist(blocking = false)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"dedupGroups stopped at maxIters=$maxIters without converging — " +
          "group labels may be partially propagated; raise maxIters " +
          "(pointer doubling needs ~log2(component diameter) supersteps)")
    // singletons re-attach once: converged labels cover pair vertices only
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .join(labels.select(col("doc_id").as("l_id"), col("group_id")),
        col("doc_id") === col("l_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
      .orderBy("doc_id")
  }

  /** d7: the dedup *decision* — one row per document with its transitive
    * group and whether it is the group's canonical keeper (the smallest
    * doc_id). This is the frame a pipeline actually filters training input
    * with; d6 is its group-label substrate.
    */
  def keepList(spark: SparkSession, dir: String,
               minJaccard: Double = 0.8): DataFrame =
    dedupGroups(spark, dir, minJaccard)
      .select(col("doc_id"), col("group_id"),
        (col("doc_id") === col("group_id")).as("keep"))
      .orderBy("doc_id")

  /** Degree-oriented directed edge list from an undirected pair list
    * (a_id < b_id, each pair once): every edge points from its
    * lower-degree endpoint to its higher-degree endpoint, ties broken by
    * id, so (deg, id) is a total order and each edge appears exactly once.
    * Emits (src, dst, dd) where dd is dst's (deg, id) rank carrier —
    * wedge enumeration needs it to order a source's out-neighbors without
    * re-joining degrees.
    */
  private[graft] def orientByDegree(pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("a_id").as("v"))
      .union(pairs.select(col("b_id").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val flip = col("db") < col("da") ||
      (col("db") === col("da") && col("b_id") < col("a_id"))
    pairs
      .join(deg.select(col("v").as("a_id"), col("deg").as("da")), "a_id")
      .join(deg.select(col("v").as("b_id"), col("deg").as("db")), "b_id")
      .select(
        when(flip, col("b_id")).otherwise(col("a_id")).as("src"),
        when(flip, col("a_id")).otherwise(col("b_id")).as("dst"),
        when(flip, col("da")).otherwise(col("db")).as("dd"))
  }

  /** Wedges (u; v ≺ w) over a degree-oriented edge list: two out-edges of a
    * common source, the out-neighbors ordered by the same (deg, id) total
    * order the orientation used. Each triangle {a ≺ b ≺ c} yields exactly
    * one wedge (a; b, c), closed by the oriented edge b → c.
    */
  private[graft] def wedgesOf(oriented: DataFrame): DataFrame =
    oriented.select(col("src").as("u"), col("dst").as("v"), col("dd").as("dv"))
      .join(oriented.select(col("src").as("u"), col("dst").as("w"), col("dd").as("dw")),
        Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select("u", "v", "w")

  /** Triangle participation counts from an undirected pair list — the
    * degree-oriented wedge join (Suri & Vassilvitskii, WWW'11 "Counting
    * triangles and the curse of the last reducer"). Orienting every edge
    * low-degree → high-degree caps each vertex's out-degree at O(√m), so
    * wedge volume is O(m^1.5) even on skewed graphs: a hub of degree d
    * contributes 0 wedges (all its edges point IN) instead of the C(d, 2)
    * an id orientation can produce when the hub draws a low id.
    */
  private[graft] def triangleCountsFromPairs(pairs: DataFrame): DataFrame = {
    // both wedge-join branches and the closing semi-join read the oriented
    // edge list; materialize it once (degree agg + two joins otherwise
    // recompute three times)
    val oriented = graft.CacheRegistry.persistTracked(orientByDegree(pairs))
    wedgesOf(oriented)
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
      .select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** g1: per-document triangle participation over the d4 near-dup graph —
    * the local-density signal that separates tight duplicate cliques from
    * incidental pairwise matches (a doc in many triangles is inside a
    * near-clique; a doc in none hangs off a chain). Triangle enumeration is
    * the graph-analytics shuffle pattern CC doesn't exercise: an edge-edge
    * wedge join closed by a second edge semi-join, with edges DEGREE-
    * oriented (see triangleCountsFromPairs) so wedge fanout stays bounded
    * on the near-clique-heavy graphs dedup produces. Triangle counts are
    * orientation-invariant, so the output is identical to the id-oriented
    * round-3 plan — only the worst-case shuffle volume changed.
    */
  def triangleCounts(spark: SparkSession, dir: String,
                     minJaccard: Double = 0.8): DataFrame =
    // the orientation join and both wedge-join branches read the pair
    // list; the shared memo materializes it once per process
    triangleCountsFromPairs(sharedPairs(spark, dir, minJaccard))

  /** Block assignment for the d5 pair join: (label, cell, vec_id,
    * embedding, nrm). Labels at or under `maxBlockSize` keep one block
    * (cell 0) and the output is identical to plain label blocking; a HOT
    * label — one whose population would make the within-label self-join
    * quadratic-explode — is sub-bucketed by nearest-centroid assignment
    * (the k1/SemDedup quantizer): its `subCells` lowest-id vectors seed
    * the cells, every member lands in its argmax-cosine cell, and the
    * pair join keys on (label, cell). Candidate volume per hot label
    * drops from C(n,2) to Σ C(cell,2); the trade is SemDedup's — a
    * cross-cell near-dup inside a hot label is missed by design, which
    * is the published recipe's accepted recall bound (Abbas et al.,
    * 2023). Seeds come from a per-label row_number capped at `subCells`,
    * which Spark plans as WindowGroupLimit — partial top-k per partition
    * before the shuffle, so no hot label is ever sorted whole.
    */
  private[graft] def blockedEmbeddings(emb: DataFrame, maxBlockSize: Int,
                                       subCells: Int): DataFrame = {
    val e0 = emb.select(col("label"), col("vec_id"), col("embedding"),
      VectorFunctions.normD(col("embedding")).as("nrm"))
    val hot = e0.groupBy("label").agg(count(lit(1)).as("block_n"))
      .filter(col("block_n") > maxBlockSize)
      .select(col("label"), lit(true).as("is_hot"))
    // three readers below (cold branch, seed extraction, hot assignment);
    // label cardinality is tiny next to the corpus, so the hot list
    // broadcasts
    val e = graft.CacheRegistry.persistTracked(
      e0.join(broadcast(hot), Seq("label"), "left")
        .withColumn("is_hot", coalesce(col("is_hot"), lit(false))))
    val cold = e.filter(!col("is_hot"))
      .select(col("label"), lit(0).as("cell"), col("vec_id"),
        col("embedding"), col("nrm"))
    val seeds = e.filter(col("is_hot"))
      .withColumn("srnk", row_number().over(
        Window.partitionBy("label").orderBy("vec_id")))
      .filter(col("srnk") <= subCells)
      .select(col("label"), (col("srnk") - 1).as("cell"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    // cell assignment quantized at round-6 like k1/s3's, so the hot path
    // is replayable by a DuckDB oracle (d5_hot_guard) — raw-double argmax
    // would make cross-engine cell flips possible at ulp-level ties.
    // Round-17: the argmax is per row over a PER-LABEL seed table (the
    // k1/s3 shuffle-free form) — the previous groupBy(label, vec_id)
    // shuffled every hot label's population (embeddings riding) to pick
    // a winner a bounded-seed projection decides in place; ties still
    // break to the smallest cell (table sorted cell-ascending, first max
    // wins).
    val seedTabs = seeds.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(
        col("cell").cast("long").as("centroid_id"),
        col("c_emb"), col("c_nrm")))).as("cent_tab"))
    val hotAssigned = e.filter(col("is_hot"))
      .join(broadcast(seedTabs), Seq("label"))
      .withColumn("coss",
        VectorFunctions.centCosines(col("embedding"), col("nrm"), 6))
      .select(col("label"),
        VectorFunctions.argmaxCentroidId(col("coss")).cast("int").as("cell"),
        col("vec_id"), col("embedding"), col("nrm"))
    cold.unionByName(hotAssigned)
  }

  /** d5 core on an arbitrary embeddings frame — see blockedEmbeddings for
    * the hot-label guard; the exact double cosine re-scores every
    * candidate, so precision is exact regardless of blocking.
    */
  private[graft] def embeddingNearDupFrom(emb: DataFrame, minCosine: Double,
                                          maxBlockSize: Int,
                                          subCells: Int): DataFrame = {
    val e = blockedEmbeddings(emb, maxBlockSize, subCells)
    val a = e.select(col("label"), col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = e.select(col("label"), col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, Seq("label", "cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosim",
        round(VectorFunctions.cosineWithNorms(
          VectorFunctions.dotD(col("a_emb"), col("b_emb")),
          col("a_nrm"), col("b_nrm")), 6))
      .filter(col("cosim") >= minCosine)
      .select("a_id", "b_id", "cosim")
      .orderBy("a_id", "b_id")
  }

  /** d5: embedding-cosine near-dup pairs, blocked by label (the coarse
    * cluster id); cosine computed in double so it hash-matches the DuckDB
    * oracle after round(6). Labels larger than `maxBlockSize` are
    * sub-bucketed by centroid cell before the pair join (see
    * blockedEmbeddings) so one hot label can never make the self-join
    * quadratic — at sf scales no label crosses the default cap and the
    * output is bit-identical to plain label blocking, which keeps the
    * exact SQL oracle. At 100 TB the label/cell key becomes an LSH/IVF
    * bucket (see Similarity.annIvf) with the same guard.
    */
  /** Default d5 hot-label cap — shared with Verify's attribution guard:
    * the DuckDB oracle models PLAIN label blocking, so at any scale where
    * a label crosses this cap the guard (not a bug) explains a mismatch.
    */
  val D5MaxBlockSize = 4096

  def embeddingNearDup(spark: SparkSession, dir: String,
                       minCosine: Double = 0.4, maxBlockSize: Int = D5MaxBlockSize,
                       subCells: Int = 16): DataFrame =
    embeddingNearDupFrom(Tables.embeddings(spark, dir), minCosine,
      maxBlockSize, subCells)

  /** g2: PageRank over the near-dup graph — a centrality score for the d4
    * pair graph (reference analog: the "how templated is this document"
    * signal a curation stack derives from the dup graph's hubs; high-rank
    * docs sit in dense template clusters, isolated docs never enter).
    *
    * All arithmetic is INTEGER: ranks live in micro-units of 1e12 and the
    * damping update is `(15 * (SCALE div n)) div 100 + (85 * sum) div 100`
    * with `div` (truncating integer division, positive-only here) — so
    * every engine computes bit-identical ranks regardless of aggregation
    * order, and the DuckDB oracle unrolls the same three supersteps
    * exactly. Per iteration: one shuffle keyed on the edge source (rank
    * join) and one on the destination (in-sum aggregate) — shuffle volume
    * ∝ |edges|, the fleet-scale PageRank cost model. The vertex set is the
    * docs that appear in ≥1 pair (symmetric edges ⇒ every vertex has
    * deg ≥ 1 and receives contributions; no dangling-mass term needed);
    * the corpus-count `n` travels as a one-row broadcast, never a driver
    * collect. Three fixed iterations keep the oracle unrollable; pass
    * `iters = Dedup.PageRankAuto` for the production mode: supersteps
    * until the L1 rank delta (an exact integer sum, so the stop decision
    * is engine-deterministic) over a probe block falls under a tolerance,
    * with localCheckpoint every block (the d6 discipline).
    */
  val PageRankAuto: Int = -1

  def pageRank(spark: SparkSession, dir: String,
               minJaccard: Double = 0.8, iters: Int = 3): DataFrame = {
    // only -1 is the auto sentinel: any other non-positive value would
    // fold zero supersteps and return the uniform init ranks as if they
    // were real PageRank output — fail fast on the typo instead
    require(iters == PageRankAuto || iters >= 1,
      s"iters must be >= 1 or Dedup.PageRankAuto (-1); got $iters")
    if (iters == PageRankAuto)
      pageRankFromPairsAuto(sharedPairs(spark, dir, minJaccard))._1
    else pageRankFromPairs(sharedPairs(spark, dir, minJaccard), iters)
  }

  /** The shared PageRank machinery: snapshot the pair list, build the
    * degree-decorated symmetric edge frame and the broadcast vertex count,
    * then hand the initial rank frame + one-superstep function to the
    * caller's loop policy and finalize its result.
    */
  private def pageRankCore(rawPairs: DataFrame)(
      loop: (DataFrame, DataFrame => DataFrame) => DataFrame): DataFrame = {
    if (rawPairs.schema("a_id").dataType ==
        org.apache.spark.sql.types.StringType)
      return pageRankCoreRelabeled(rawPairs)(loop)
    // Snapshot the pair list ONCE (it is referenced by both union arms and,
    // through deg, by every superstep): without the cut, each of the ~6
    // plan references re-carries d4's whole PPJoin lineage through
    // analysis/AQE and planning overhead dominates the tiny actual joins
    // (measured 4.5 s -> 1.7 s at sf0.1). On a cluster this would be a
    // reliable checkpoint; the pair list is |pairs|-sized, not corpus-sized.
    val pairs = rawPairs.select(col("a_id"), col("b_id")).localCheckpoint()
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nRow = deg.agg(count(lit(1)).as("n"))
    // The rank frame is kept MINIMAL (id, pr) and referenced exactly ONCE
    // per superstep: the contribution join reads it, and the update
    // re-attaches deg/n from the persisted vertex frame instead of a
    // second pr self-join. One reference per superstep means the lineage
    // grows linearly (no 2^iters plan blowup); the two frames every
    // superstep shares (vertex metadata, degree-decorated edges) persist
    // once via the registry and release with the query.
    val degN = graft.CacheRegistry.persistTracked(
      deg.crossJoin(broadcast(nRow)))
    val withDeg = graft.CacheRegistry.persistTracked(edges.join(deg, "src"))
    val init = degN.select(col("src").as("id"),
      expr("1000000000000 div n").as("pr"))
    def superstep(pr: DataFrame): DataFrame = {
      val inSum = withDeg
        .join(pr, col("src") === col("id"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      inSum.join(degN, col("dst") === col("src"))
        .select(col("src").as("id"),
          expr("(15 * (1000000000000 div n)) div 100 + (85 * s) div 100")
            .as("pr"))
    }
    // no round: one correctly-rounded IEEE division on identical integer
    // inputs is bit-deterministic across engines; a round() at a half
    // boundary would be the only way to diverge
    loop(init, superstep)
      .join(degN, col("id") === col("src"))
      .select(col("id").as("doc_id"), col("deg"), col("pr").as("pr_micros"),
        (col("pr").cast("double") / lit(1000000000000.0)).as("pagerank"))
      .orderBy("doc_id")
  }

  /** pageRankCore for STRING-keyed vertices (g3's canonical URLs): every
    * superstep shuffles a 16 B (two-xxhash64) vertex key instead of the
    * URL string (round 18, guide §2.3 — the round-17 relabel experiment
    * re-built in a form with NO dictionary pass: the per-vertex URL rides
    * the degree aggregate the kernel already runs, as min(src)). Keys are
    * the pair (xxhash64(u), xxhash64(u, u)) — 128 bits, so a key collision
    * between distinct URLs needs ~2^64 vertices — and correctness is not
    * probabilistic-silent: the degree aggregate also carries max(src), and
    * the output projection raises an error if any key group ever held two
    * distinct URLs, so the query either returns the exact string-keyed
    * result or fails loudly. Same exchange COUNT as the string form (one
    * src-keyed join + one dst-keyed aggregate per superstep, one degree
    * aggregate — which still carries the string once, as the old
    * groupBy(src) did); only the per-superstep key WIDTH changes.
    */
  private def pageRankCoreRelabeled(rawPairs: DataFrame)(
      loop: (DataFrame, DataFrame => DataFrame) => DataFrame): DataFrame = {
    val pairs = rawPairs.select(col("a_id"), col("b_id")).localCheckpoint()
    val edges = pairs.select(col("a_id").as("su"), col("b_id").as("du"))
      .union(pairs.select(col("b_id").as("su"), col("a_id").as("du")))
      .select(xxhash64(col("su")).as("sh1"), xxhash64(col("su"), col("su")).as("sh2"),
        xxhash64(col("du")).as("dh1"), xxhash64(col("du"), col("du")).as("dh2"),
        col("su"))
    val deg = edges.groupBy(col("sh1"), col("sh2"))
      .agg(count(lit(1)).as("deg"),
        min(col("su")).as("u_min"), max(col("su")).as("u_max"))
    val nRow = deg.agg(count(lit(1)).as("n"))
    val degN = graft.CacheRegistry.persistTracked(
      deg.crossJoin(broadcast(nRow)))
    val withDeg = graft.CacheRegistry.persistTracked(
      edges.join(deg.select(col("sh1"), col("sh2"), col("deg")),
        Seq("sh1", "sh2"))
        .select(col("sh1"), col("sh2"), col("dh1"), col("dh2"), col("deg")))
    val init = degN.select(col("sh1").as("ih1"), col("sh2").as("ih2"),
      expr("1000000000000 div n").as("pr"))
    def superstep(pr: DataFrame): DataFrame = {
      val inSum = withDeg
        .join(pr, col("sh1") === col("ih1") && col("sh2") === col("ih2"))
        .select(col("dh1"), col("dh2"), expr("pr div deg").as("c"))
        .groupBy(col("dh1"), col("dh2")).agg(sum(col("c")).as("s"))
      inSum.join(degN, col("dh1") === col("sh1") && col("dh2") === col("sh2"))
        .select(col("sh1").as("ih1"), col("sh2").as("ih2"),
          expr("(15 * (1000000000000 div n)) div 100 + (85 * s) div 100")
            .as("pr"))
    }
    loop(init, superstep)
      .join(degN, col("ih1") === col("sh1") && col("ih2") === col("sh2"))
      .select(
        when(col("u_min") === col("u_max"), col("u_min"))
          .otherwise(raise_error(concat(
            lit("pagerank 128-bit vertex key collision between '"),
            col("u_min"), lit("' and '"), col("u_max"), lit("'"))))
          .as("doc_id"),
        col("deg"), col("pr").as("pr_micros"),
        (col("pr").cast("double") / lit(1000000000000.0)).as("pagerank"))
      .orderBy("doc_id")
  }

  /** Fixed-superstep run (the g2 oracle form): `iters` lazy supersteps,
    * the whole run is ONE action — no checkpoints, linear lineage.
    */
  private[graft] def pageRankFromPairs(rawPairs: DataFrame, iters: Int): DataFrame =
    pageRankCore(rawPairs) { (init, superstep) =>
      (1 to iters).foldLeft(init)((pr, _) => superstep(pr))
    }

  /** Convergence-terminated run (the production mode the fixed-3 scaladoc
    * promises): supersteps in blocks of `probeEvery`, localCheckpoint at
    * each block boundary (bounded plan depth, one materialization per
    * block), then ONE scalar action probes the L1 rank delta across the
    * block — an exact integer sum, so the termination decision cannot
    * drift with aggregation order. Stops when the block's total rank
    * movement falls under `tolMicros` (default 1e6 micro-units = 1e-6 of
    * the total rank mass; with 0.85 damping the per-step delta decays by
    * ~0.85x, so that tolerance costs ~60-80 supersteps from a cold
    * start — hence the 100-cap) or at `maxIters`. Returns (ranks,
    * supersteps actually run) — the count is what the convergence spec
    * pins.
    */
  private[graft] def pageRankFromPairsAuto(
      rawPairs: DataFrame, tolMicros: Long = 1000000L,
      maxIters: Int = 100, probeEvery: Int = 3): (DataFrame, Int) = {
    require(probeEvery >= 1 && maxIters >= 1,
      s"probeEvery ($probeEvery) and maxIters ($maxIters) must be >= 1")
    var used = 0
    val ranks = pageRankCore(rawPairs) { (init, superstep) =>
      var pr = init.localCheckpoint()
      var prev = pr
      var delta = Long.MaxValue
      while (used < maxIters && delta > tolMicros) {
        for (_ <- 1 to probeEvery.min(maxIters - used)) {
          pr = superstep(pr); used += 1
        }
        pr = pr.localCheckpoint()
        // key-agnostic delta probe: the rank frame's key is every column
        // but "pr" — one long id in the g2 form, the (ih1, ih2) hash pair
        // in the relabeled string form
        val keyCols = pr.columns.filterNot(_ == "pr").toSeq
        delta = pr.withColumnRenamed("pr", "pr_new")
          .join(prev.withColumnRenamed("pr", "pr_old"), keyCols)
          .agg(coalesce(sum(abs(col("pr_new") - col("pr_old"))), lit(0L)))
          .first().getLong(0)
        prev = pr
      }
      pr
    }
    (ranks, used)
  }

  /** d9: soft dedup — duplicate-aware REWEIGHTING instead of dropping
    * (the SoftDeDup posture: keep every copy, scale its training weight by
    * 1/|transitive dup group| so each near-dup cluster contributes one
    * document's worth of gradient). Rides d6's converged group labels (the
    * memo-shared frame d7 also projects): one count aggregate keyed on the
    * group label + one join back on the same key — co-partitioned, so the
    * second exchange is the label shuffle d6 already paid.
    */
  def dupWeights(spark: SparkSession, dir: String,
                 minJaccard: Double = 0.8): DataFrame =
    dupWeightsFromLabels(dedupGroups(spark, dir, minJaccard))

  private[graft] def dupWeightsFromLabels(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("group_id")).agg(count(lit(1)).as("group_size"))
    labels.join(sizes, "group_id")
      .select(col("doc_id"), col("group_id"), col("group_size"),
        // raw IEEE division, not round(): 1/n on identical integers is
        // bit-deterministic; 1/1024-style half-boundary cases make round
        // the only divergence risk
        (lit(1.0) / col("group_size")).as("weight"))
      .orderBy("doc_id")
  }
}
