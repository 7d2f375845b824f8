package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Curation
import graft.sinks.Sinks

/** The PipelineE2ESpec composition (dedup keep-list ∧ CCNet verdict ∧
  * token budget → reproducible training shards) driven at a SCALE slice —
  * the gate artifact that says the end-to-end pipeline's reproducibility
  * and shard discipline hold past fixture size, not just at sf0.001.
  * Runs the pipeline twice, asserts the loader contract (same partition
  * layout, same per-file row order, no dup docs, size bound, within-shard
  * sort), and writes a one-line JSON artifact.
  *
  *   sbt "runMain graft.tools.PipelineScale /tmp/sfx10b /root/repo/E2E_scale10.json 1500000 4096"
  */
object PipelineScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sfx10b")
    val outJson = args.lift(1).getOrElse("E2E_scale.json")
    val budget = args.lift(2).map(_.toLong).getOrElse(1500000L)
    val maxRows = args.lift(3).map(_.toInt).getOrElse(4096)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def shardFiles(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally walk.close()
    }

    def run(out: String): Double = {
      val t0 = System.nanoTime()
      Sinks.writeShards(Curation.curatedCorpus(spark, dir, budget = budget),
        out, partitionCol = "source",
        sortCols = Seq("shuffle_key", "doc_id"), maxRecordsPerFile = maxRows)
      graft.CacheRegistry.releaseAll()
      graft.CacheRegistry.releaseShared()
      (System.nanoTime() - t0) / 1e9
    }

    def contents(out: String): Seq[(String, Seq[(Long, Long)])] =
      shardFiles(Paths.get(out)).map { f =>
        val rel = Paths.get(out).relativize(f).getParent.toString
        val rows = spark.read.parquet(f.toString)
          .select("doc_id", "shuffle_key").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        (rel, rows)
      }

    val base = Files.createTempDirectory("e2e-scale-").toString
    val sec1 = run(s"$base/r1")
    val sec2 = run(s"$base/r2")
    val c1 = contents(s"$base/r1")
    val c2 = contents(s"$base/r2")

    val total = graft.Tables.documents(spark, dir).count()
    val all = c1.flatMap(_._2)
    def check(cond: Boolean, what: String): Unit =
      if (!cond) { System.err.println(s"[e2e-scale] FAIL: $what"); sys.exit(1) }
    check(c1.map(_._1) == c2.map(_._1), "partition layout must reproduce")
    check(c1.map(_._2) == c2.map(_._2), "per-file row order must reproduce")
    check(all.nonEmpty, "pipeline must keep something")
    check(all.size < total, s"pipeline must drop something (${all.size}/$total)")
    check(all.map(_._1).distinct.size == all.size, "no doc written twice")
    c1.foreach { case (part, rows) =>
      check(rows.size <= maxRows, s"$part shard over maxRecordsPerFile")
      check(rows.map(_._2) == rows.map(_._2).sorted, s"$part not key-sorted")
    }
    val parts = c1.map(_._1).distinct.size

    // Phase 2 — the maintenance cycle at scale: three small daily-ingest
    // appends land in run 1's largest partition as under-sized files,
    // compactShards re-bins them, and the loader contract must survive:
    // identical row content, per-file size bound, within-shard sort.
    import org.apache.spark.sql.functions.col
    val tableDir = s"$base/r1"
    val hotSrc = c1.groupBy(_._1).view.mapValues(_.map(_._2.size).sum)
      .maxBy(_._2)._1.stripPrefix("source=")
    val maxId = all.map(_._1).max
    import spark.implicits._
    // appends carry the full shard schema: fill the non-key columns with
    // typed nulls from the table's own schema so parquet unions cleanly
    val template = spark.read.parquet(tableDir).limit(0)
    val keyCols = Set("doc_id", "shuffle_key", "source")
    (1 to 3).foreach { k =>
      val ids = (1 to 40).map(i => maxId + k * 1000L + i)
      val extra = template.schema.fields.filterNot(f => keyCols(f.name))
      val base0 = ids.toDF("doc_id")
        .withColumn("shuffle_key", col("doc_id") * 7919L)
        .withColumn("source", org.apache.spark.sql.functions.lit(hotSrc))
      val withAll = extra.foldLeft(base0)((df, f) =>
        df.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
      withAll.select(template.columns.map(col).toIndexedSeq: _*)
        .repartition(1)
        .write.mode("append").partitionBy("source").parquet(tableDir)
    }
    val preCompact = spark.read.parquet(tableDir)
      .select("doc_id", "shuffle_key", "source").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._3, x._1)).toSeq
    val tCompact = System.nanoTime()
    val compacted = Sinks.compactShards(spark, tableDir, "source",
      Seq("shuffle_key", "doc_id"), maxRows)
    val secCompact = (System.nanoTime() - tCompact) / 1e9
    val postCompact = spark.read.parquet(tableDir)
      .select("doc_id", "shuffle_key", "source").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._3, x._1)).toSeq
    check(compacted >= 1, "the appended partition must be selected")
    check(postCompact == preCompact, "compaction must not change content")
    shardFiles(Paths.get(tableDir)).foreach { f =>
      val rows = spark.read.parquet(f.toString)
        .select("shuffle_key", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      check(rows.length <= maxRows, s"$f over maxRecordsPerFile after compaction")
      check(rows.sameElements(rows.sorted), s"$f lost its within-shard sort")
    }

    // Phase 3 — the round-9 composition at scale: classifier-gated
    // (cls1 train + cls2 Pareto routing), split-assigned (x36),
    // Z-order-clustered (Morton + doc_id tie-break) shard write,
    // partitioned by split. Same loader contract, run twice.
    def runV2(out: String): Double = {
      val t0 = System.nanoTime()
      Sinks.writeShardsZOrdered(
        Curation.curatedTrainingSet(spark, dir, budget = budget),
        out, partitionCol = "split", zorderCols = ("q_bin", "len_bin"),
        maxRecordsPerFile = maxRows, tieCols = Seq("doc_id"))
      graft.CacheRegistry.releaseAll()
      graft.CacheRegistry.releaseShared()
      (System.nanoTime() - t0) / 1e9
    }
    def contentsV2(out: String): Seq[(String, Seq[(Long, Long)])] =
      shardFiles(Paths.get(out)).map { f =>
        val rel = Paths.get(out).relativize(f).getParent.toString
        val rows = spark.read.parquet(f.toString)
          .select(col("doc_id"),
            graft.functions.ZOrder.mortonKey(col("q_bin"), col("len_bin")).as("zk"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        (rel, rows)
      }
    val secV2a = runV2(s"$base/v2r1")
    val secV2b = runV2(s"$base/v2r2")
    val v1 = contentsV2(s"$base/v2r1")
    val v2 = contentsV2(s"$base/v2r2")
    check(v1.map(_._1) == v2.map(_._1), "v2 partition layout must reproduce")
    check(v1.map(_._2) == v2.map(_._2), "v2 per-file row order must reproduce")
    val vAll = v1.flatMap(_._2)
    check(vAll.nonEmpty, "v2 pipeline must keep something")
    check(vAll.size < total, s"v2 pipeline must drop something (${vAll.size}/$total)")
    check(vAll.map(_._1).distinct.size == vAll.size, "v2: doc written twice")
    val vParts = v1.map(_._1).distinct.sorted
    check(vParts == Seq("split=test", "split=train", "split=val"),
      s"v2 must write all three splits, got $vParts")
    v1.foreach { case (part, rows) =>
      check(rows.size <= maxRows, s"v2 $part shard over maxRecordsPerFile")
      val key = rows.map(r => (r._2, r._1))
      check(key == key.sorted, s"v2 $part not Morton-clustered with tie-break")
    }

    // Phase 4 — the round-12 ONE-QUERY production verdict at scale:
    // p1's composed decision (x42 blocklist → dedup → length/quality/
    // lang heuristics → c1 contamination → cls1/cls2 Pareto gate) run
    // twice with the memo caches dropped in between; the reason
    // histogram must reproduce exactly, cover every document, and keep
    // a non-empty corpus — the verdict frame a pipeline ships next to
    // the shard lists the earlier phases wrote.
    def p1Counts(): Map[String, Long] = {
      val m = Curation.pipelineDecision(spark, dir)
        .groupBy(col("reason")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.CacheRegistry.releaseAll()
      graft.CacheRegistry.releaseShared()
      m
    }
    val tP1 = System.nanoTime()
    val p1a = p1Counts()
    val secP1 = (System.nanoTime() - tP1) / 1e9
    val p1b = p1Counts()
    check(p1a == p1b, "p1 verdict histogram must reproduce")
    check(p1a.getOrElse("ok", 0L) > 0, "p1 must keep something")
    check(p1a.values.sum == total, "p1 must verdict every doc")
    val p1Json = p1a.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    // Phase 5 — the round-13 composed WEB verdict at scale: p2 chains
    // the crawl funnel (robots gate -> URL dedup -> extraction yield)
    // onto p1's content stack; same discipline — run twice with the memo
    // caches dropped, the full-funnel reason histogram must reproduce
    // exactly, cover every document, and keep a non-empty corpus.
    def p2Counts(): Map[String, Long] = {
      val m = Curation.webPipelineDecision(spark, dir)
        .groupBy(col("reason")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.CacheRegistry.releaseAll()
      graft.CacheRegistry.releaseShared()
      m
    }
    val tP2 = System.nanoTime()
    val p2a = p2Counts()
    val secP2 = (System.nanoTime() - tP2) / 1e9
    val p2b = p2Counts()
    check(p2a == p2b, "p2 verdict histogram must reproduce")
    check(p2a.getOrElse("ok", 0L) > 0, "p2 must keep something")
    check(p2a.values.sum == total, "p2 must verdict every doc")
    check(p2a.getOrElse("robots_disallowed", 0L) > 0
      && p2a.getOrElse("url_duplicate", 0L) > 0,
      "p2's frontier stages must fire at scale")
    val p2Json = p2a.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    // Phase 6 — the round-15 FILE-BACKED ingest at scale: the corpus
    // staged to disk as real .warc containers, the p2 frontier stages
    // (canonical URL, robots, extraction yield) running off what the
    // files actually say, and the full-funnel histogram must equal the
    // in-flight pipeline's EXACTLY — the reproducibility contract that
    // says transport (filesystem vs in-flight bytes) changes nothing.
    val warcDir = s"$base/warc"
    val tW = System.nanoTime()
    val nWarc = graft.sources.Warc.writeWarcFiles(spark, dir, warcDir)
    val p2f = {
      val m = Curation.webPipelineDecisionFromWarc(spark, dir, warcDir)
        .groupBy(col("reason")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.CacheRegistry.releaseAll()
      graft.CacheRegistry.releaseShared()
      m
    }
    val secP2F = (System.nanoTime() - tW) / 1e9
    check(p2f == p2a, s"file-backed p2 must reproduce the in-flight " +
      s"histogram (files=$p2f inflight=$p2a)")
    check(nWarc > 0, "warc stage must write containers")

    val line =
      s"""{"dir":"$dir","docs_total":$total,"kept":${all.size},""" +
        s""""partitions":$parts,"files":${c1.size},"max_file_rows":$maxRows,""" +
        s""""budget":$budget,"reproducible":true,"sorted":true,""" +
        s""""compacted_partitions":$compacted,"compaction_content_stable":true,""" +
        f""""sec_run1":$sec1%.1f,"sec_run2":$sec2%.1f,"sec_compact":$secCompact%.1f,""" +
        s""""v2_kept":${vAll.size},"v2_files":${v1.size},"v2_splits":3,""" +
        s""""v2_reproducible":true,"v2_zorder_total":true,""" +
        f""""sec_v2_run1":$secV2a%.1f,"sec_v2_run2":$secV2b%.1f,""" +
        f""""p1_reasons":$p1Json%s,"p1_reproducible":true,"sec_p1":$secP1%.1f,""" +
        f""""p2_reasons":$p2Json%s,"p2_reproducible":true,"sec_p2":$secP2%.1f,""" +
        f""""warc_files":$nWarc,"p2_warc_reproducible":true,"sec_p2_warc":$secP2F%.1f}"""
    Files.write(Paths.get(outJson), (line + "\n").getBytes)
    println(s"E2ESCALE $line")
    spark.stop()
  }
}
