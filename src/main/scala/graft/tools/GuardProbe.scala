package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup

/** Reports whether the scale guards would ACTIVATE at a given data dir:
  * the d2 LSH bucket-cap (overfull band buckets dropped by broadcast
  * anti-join) and the d5 hot-label sub-bucketing cap, so a scale check can
  * assert activation counts rather than assume the guards held. Run it by
  * hand on a MakeScale slice; no script runs it.
  *
  *   sbt "runMain graft.tools.GuardProbe /tmp/scale10 2000,500,200,100"
  */
object GuardProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val caps = args.lift(1).map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(2000, 500, 200, 100))
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    // d2: band-bucket sizes under the production banding (32 hashes, 8 bands)
    val docs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 1)
      .select(col("doc_id"),
        Dedup.minHashSignature(Dedup.shingles(col("text"), 1), 32).as("sig"))
    val banded = docs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(7)),
        b => struct(b.as("band"), slice(col("sig"), b * 4 + 1, lit(4)).as("bucket"))))
        .as("bb"))
      .select(col("bb.band"), col("bb.bucket"))
    val sizes = banded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .persist()
    val maxBucket = sizes.agg(max(col("n"))).first().getLong(0)
    println(s"GUARD d2 dir=$dir max_bucket=$maxBucket")
    caps.foreach { c =>
      val over = sizes.filter(col("n") > c)
      val row = over.agg(
        count(lit(1)).as("k"),
        coalesce(sum((col("n") * (col("n") - 1) / 2).cast("long")), lit(0L)).as("pairs_capped"))
        .first()
      println(s"GUARD d2 dir=$dir cap=$c overfull_buckets=${row.getLong(0)} " +
        s"in_bucket_pairs_dropped=${row.getLong(1)}")
    }
    sizes.unpersist(blocking = false)

    // m9: aHash band-bucket sizes vs the over-full-bucket cap (perceptual
    // hashes are SKEWED — degenerate content piles one band value — so
    // unlike d2's near-uniform minhash bands, these buckets grow with the
    // corpus; the cap is what linearizes the audit's candidate volume)
    val m9Sizes = graft.operators.Multimodal.imageHashes(spark, dir)
      .select(col("doc_id"), col("ahash64"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("ahash64"), b * 16).bitwiseAND(0xFFFFL).as("bits"))): _*))
          .as("bb"))
      .groupBy(col("bb.band"), col("bb.bits")).agg(count(lit(1)).as("n"))
      .persist()
    val m9Max = m9Sizes.agg(max(col("n"))).first().getLong(0)
    println(s"GUARD m9 dir=$dir max_bucket=$m9Max")
    caps.foreach { c =>
      val row = m9Sizes.filter(col("n") > c).agg(
        count(lit(1)).as("k"),
        coalesce(sum((col("n") * (col("n") - 1) / 2).cast("long")), lit(0L)).as("pairs_capped"))
        .first()
      println(s"GUARD m9 dir=$dir cap=$c overfull_buckets=${row.getLong(0)} " +
        s"in_bucket_pairs_dropped=${row.getLong(1)}")
    }
    m9Sizes.unpersist(blocking = false)

    // d5: label block sizes vs the hot-label sub-bucket cap
    val lbl = Tables.embeddings(spark, dir)
      .groupBy("label").agg(count(lit(1)).as("n")).persist()
    val maxLabel = lbl.agg(max(col("n"))).first().getLong(0)
    println(s"GUARD d5 dir=$dir max_label=$maxLabel default_cap=${Dedup.D5MaxBlockSize}")
    caps.foreach { c =>
      val k = lbl.filter(col("n") > c).count()
      println(s"GUARD d5 dir=$dir cap=$c hot_labels=$k")
    }
    lbl.unpersist(blocking = false)
    spark.stop()
  }
}
