package graft.tools

import org.apache.spark.sql.functions._

/** Synthesizes an m-fold documents+embeddings slice from a base SF dir for
  * scaling-curve measurements (the driver's generator tops out at 5k docs,
  * which cannot distinguish linear from quadratic).
  *
  * Replication is NAMESPACE-DISJOINT so the near-dup structure scales the
  * way a real corpus grows instead of manufacturing m-1 exact duplicates
  * of every document: replica k prefixes every token with "rk·" (disjoint
  * vocabularies → zero cross-replica shingle/token/band collisions, so d2/
  * d3/d4/c1 candidate volume scales like m independent corpora), offsets
  * doc_id/vec_id far past the base range (ANN query vectors vec_id<5 stay
  * exactly the original five), and offsets embedding labels (d5 block
  * count scales, block SIZE stays constant — the guarded design's
  * assumption). Embedding values are reused unchanged: identical point
  * clouds mean k-means cells keep constant population when the seed count
  * scales with m, which is how SemDedup is provisioned at fleet scale.
  *
  * EVENTS MODE (optional 4th arg `events`): writes an m-fold events.parquet
  * instead, the way a real event stream grows — SAME wall-clock span with
  * m× the traffic. Replica k offsets user_id by k·10⁷ and event_id by k·10⁸
  * (namespace-disjoint keys: per-user run/session/pair structure scales
  * like m independent tenants, never manufacturing cross-replica
  * consecutive pairs), keeps event_type/value/props unchanged (per-type
  * distributions — the drift triad's support — gain m× the mass at the
  * same shape), and shifts ts by k microseconds (replicas stay inside the
  * same windows while exact global-timestamp ties never collide). The
  * default mode (`docs`) is unchanged; symlink whichever tables a slice
  * does not synthesize.
  *
  * FACTS MODE (4th arg `facts`): writes m-fold lineitem+orders — same
  * catalog and date span, m× the order traffic; only o_orderkey/
  * l_orderkey are offset (k·10⁶ disjoint order books) so every dim
  * foreign key stays valid against the base-linked customer/part/
  * supplier tables. See the in-line rationale below.
  *
  *   sbt "runMain graft.tools.MakeScale /root/testdata/sf0.1 /tmp/sfx10 10"
  *   sbt "runMain graft.tools.MakeScale /root/testdata/sf0.1 /tmp/evx10 10 events"
  *   sbt "runMain graft.tools.MakeScale /root/testdata/sf0.1 /tmp/lix10 10 facts"
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir, mStr) = args.take(3)
    val m = mStr.toInt
    val mode = args.lift(3).getOrElse("docs")
    require(Set("docs", "events", "facts")(mode),
      s"unknown MakeScale mode '$mode' — expected 'docs', 'events' or " +
        "'facts' (a typo here would silently measure a base-linked table)")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    if (mode == "events") {
      // Tables.events normalizes the base table's INT64-nanos parquet ts
      // to a real micro-precision TIMESTAMP; the slice writes plain
      // micros, which every reader (Tables.events case _, DuckDB) takes
      // as-is.
      val ev = graft.Tables.events(spark, baseDir)
      // the fixed replica offsets below ARE the namespace-disjoint
      // invariant — a base that outgrows them (e.g. events mode chained
      // on an already-scaled slice) would silently merge replicas into
      // the same users and manufacture cross-replica runs/sessions
      // max() over an empty table is NULL; an unchecked unbox would read
      // it as 0L and silently write m empty replicas — require a
      // non-empty base instead
      val aggRow = ev.agg(max(col("event_id")), max(col("user_id")))
        .collect().head
      require(!aggRow.isNullAt(0) && !aggRow.isNullAt(1),
        s"base events table at $baseDir is empty — nothing to scale")
      val (maxEv, maxUser) = (aggRow.getLong(0), aggRow.getLong(1))
      require(maxEv < 100000000L && maxUser < 10000000L,
        s"events-mode replica offsets (1e8/1e7) would collide: base has " +
          s"max event_id=$maxEv, max user_id=$maxUser — scale a base " +
          "slice, not an already-scaled one")
      (0 until m).map { k =>
        ev.select(
          (col("event_id") + lit(k.toLong * 100000000L)).as("event_id"),
          timestamp_micros(unix_micros(col("ts")) + lit(k.toLong)).as("ts"),
          (col("user_id") + lit(k.toLong * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      println(s"[make-scale] wrote $outDir at ${m}x $baseDir (events mode)")
      spark.stop()
      return
    }

    if (mode == "facts") {
      // FACTS MODE: m-fold lineitem+orders, the way a transactional fact
      // table grows — the SAME catalog (customer/part/supplier base-linked,
      // so every foreign key stays valid and referential-integrity queries
      // keep zero orphans) taking m× the order traffic over the same date
      // span. Replica k offsets ONLY the order key by k·10⁶ (disjoint
      // order books: per-order line structure — quantity rollups, the
      // multi-supplier EXISTS chains, semi/anti joins on orderkey — scales
      // like m independent ledgers, never manufacturing cross-replica
      // orders), and keeps custkey/partkey/suppkey/dates/prices unchanged
      // (each dim row sees m× the facts: per-customer/part/supplier
      // distributions gain m× the mass at the same shape).
      val orders = spark.read.parquet(s"$baseDir/orders.parquet")
      val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
      val aggRow = orders.agg(max(col("o_orderkey"))).collect().head
      require(!aggRow.isNullAt(0),
        s"base orders table at $baseDir is empty — nothing to scale")
      val maxOk = aggRow.getLong(0)
      require(maxOk < 1000000L,
        s"facts-mode replica offset (1e6) would collide: base has max " +
          s"o_orderkey=$maxOk — scale a base slice, not an already-scaled one")
      // lineitem is offset by the same constant — an orphan l_orderkey
      // >= 1e6 (no matching order, so unseen by the check above) would
      // silently collide replicas; validate it independently.
      val liRow = li.agg(max(col("l_orderkey"))).collect().head
      require(!liRow.isNullAt(0),
        s"base lineitem table at $baseDir is empty — nothing to scale")
      val maxLk = liRow.getLong(0)
      require(maxLk < 1000000L,
        s"facts-mode replica offset (1e6) would collide: base has max " +
          s"l_orderkey=$maxLk — scale a base slice, not an already-scaled one")
      (0 until m).map { k =>
        orders.withColumn("o_orderkey",
          col("o_orderkey") + lit(k.toLong * 1000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      (0 until m).map { k =>
        li.withColumn("l_orderkey",
          col("l_orderkey") + lit(k.toLong * 1000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      println(s"[make-scale] wrote $outDir at ${m}x $baseDir (facts mode)")
      spark.stop()
      return
    }

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val replicas = (0 until m).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(
          transform(split(col("text"), " "), t => concat(lit(s"r${k}q"), t)), " ")
      docs.select(
        (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        text.as("text"),
        col("lang"),
        col("source"),
        length(text).cast("long").as("n_chars"))
    }
    replicas.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    (0 until m).map { k =>
      emb.select(
        (col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
        col("embedding"),
        (col("label") + lit(k * 100000)).as("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    println(s"[make-scale] wrote $outDir at ${m}x $baseDir")
    spark.stop()
  }
}
