package graft

import java.nio.file.Files

import graft.sinks.Sinks
import graft.sources.EventSources

/** End-to-end source → operator → CSV sink, batch and streaming. */
class SinksSpec extends SparkSpec {

  test("batch: telemetry csv in, speeding fines csv out, single file") {
    import graft.operators.LinearRoad
    val in = Files.createTempFile("cars-", ".csv")
    Files.writeString(in, "10,1,95,1,0,0,50,1000\n11,2,80,1,0,0,50,2000")
    val out = Files.createTempDirectory("fines-").toString
    Sinks.writeCsvSingle(
      LinearRoad.speedFines(EventSources.carDataCsv(spark, in.toString)), out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, "parallelism-1 sink writes exactly one part file")
    val content = Files.readString(files.head.toPath).trim
    assert(content == "10,1,1,50,0,95")
  }

  test("shard writer bounds file size and sorts within each shard") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val out = tempSfDir() + "/shards"
    // two sources, 250 rows each, written in descending-id order so the
    // within-shard sort has real work to do
    val df = (1L to 500L).reverse
      .map(i => (i, s"text_$i", if (i % 2 == 0) "web" else "books"))
      .toDF("doc_id", "text", "source")
    Sinks.writeShards(df, out, "source", Seq("doc_id"), maxRecordsPerFile = 100)

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("source=web", "source=books"))
    // 250 rows / 100 cap -> at least 3 shard files per source, none over cap
    dirs.foreach { d =>
      val files = new java.io.File(s"$out/$d").listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(files.length >= 3, s"$d: expected >=3 shards, got ${files.length}")
      files.foreach { f =>
        val rows = spark.read.parquet(f.getPath)
        assert(rows.count() <= 100, s"${f.getName} exceeds maxRecordsPerFile")
        // reproducible layout: rows inside each shard are doc_id-sorted
        val ids = rows.select(col("doc_id")).collect().map(_.getLong(0))
        assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted")
      }
    }
    // nothing lost or duplicated across shards
    assert(spark.read.parquet(out).count() == 500)
  }

  test("z-ordered shards skip files on BOTH dimensions; linear sort only on its leading one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a full 64x64 grid: 4096 rows, maxRecordsPerFile 256 -> 16 files.
    // Morton order makes each 256-row slice an aligned 16x16 block, so
    // every file is narrow in x AND y; the linear-by-x layout makes each
    // file a 4-column stripe spanning ALL of y.
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong * 64 + y, x, y, "s0")).toSeq
      .toDF("id", "x", "y", "source")
    val zOut = tempSfDir() + "/zorder"
    val linOut = tempSfDir() + "/linear"
    Sinks.writeShardsZOrdered(grid, zOut, "source", ("x", "y"), 256)
    Sinks.writeShards(grid, linOut, "source", Seq("x", "y"), 256)

    // footer-stat geometry: per-file (min,max) of both dims via the file
    // the row actually landed in — the stats a lakehouse skipper reads
    def fileRanges(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    val zRanges = fileRanges(zOut)
    val linRanges = fileRanges(linOut)
    assert(zRanges.length == 16 && linRanges.length == 16,
      s"expected 16 files each, got z=${zRanges.length} lin=${linRanges.length}")
    // predicate on the SECOND dimension: y in [8, 15]
    def hitsY(rs: Seq[(Int, Int, Int, Int)]) =
      rs.count { case (_, _, y0, y1) => y0 <= 15 && y1 >= 8 }
    assert(hitsY(linRanges) == 16,
      "a linear sort's trailing column spans every file - nothing skippable")
    assert(hitsY(zRanges) <= 4,
      s"z-order should confine y in [8,15] to <=4 of 16 files, hit ${hitsY(zRanges)}")
    // box predicate on both dimensions hits at most 2 z-files
    val boxHits = zRanges.count { case (x0, x1, y0, y1) =>
      x0 <= 15 && x1 >= 8 && y0 <= 15 && y1 >= 8 }
    assert(boxHits <= 2, s"box should hit <=2 z-files, hit $boxHits")

    // LIVE skipping: parquet row-group stats + the pushed y-predicate make
    // the scan emit only the surviving files' rows (each file is one row
    // group here), not the whole table
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("y").between(8, 15))
      // execute THIS plan (metrics are per-execution; count() would build
      // and run a different one), then read the leaf scan's row metric
      assert(q.collect().length == 64 * 8)
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val zScan = scanRows(zOut)
    val linScan = scanRows(linOut)
    assert(zScan <= 4 * 256,
      s"z-ordered scan should read <=4 row groups (1024 rows), read $zScan")
    assert(linScan == 4096,
      s"linear layout cannot skip on y - expected a full 4096-row read, got $linScan")
  }

  test("shard compaction re-bins small appended files, preserves content, sort and untouched bytes") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val out = tempSfDir() + "/shards"
    def mk(ids: Seq[Long], src: String) =
      ids.map(i => (i, s"text_$i", src)).toDF("doc_id", "text", "source")
    // base table: two sources x 200 rows, clean 100-row shards
    Sinks.writeShards(
      mk(1L to 200L, "web").unionByName(mk(1L to 200L, "books")),
      out, "source", Seq("doc_id"), maxRecordsPerFile = 100)
    // daily-ingest aftermath: three small appends land in web only, each
    // as its own under-sized part file, out of doc_id order
    Seq(201L to 230L, 231L to 260L, 261L to 290L).foreach { ids =>
      mk(ids.reverse, "web").repartition(1)
        .write.mode("append").partitionBy("source").parquet(out)
    }
    def files(src: String) = new java.io.File(s"$out/source=$src")
      .listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(files("web").length == 5, "2 shards + 3 appended smalls")
    val booksBefore = files("books").map(f => f.getName -> f.length()).toSeq
    val contentBefore = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(r => (r._3, r._1)).toSeq

    val compacted = Sinks.compactShards(spark, out, "source",
      Seq("doc_id"), maxRecordsPerFile = 100)
    assert(compacted == 1, "only web exceeds its needed file count")

    // content identical row-for-row
    val contentAfter = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(r => (r._3, r._1)).toSeq
    assert(contentAfter == contentBefore, "compaction must not change content")
    // web re-binned to the minimal file count, bounded and sorted per file
    val webAfter = files("web")
    assert(webAfter.length == 3, s"290 rows / 100 cap -> 3 shards, got ${webAfter.length}")
    webAfter.foreach { f =>
      val rows = spark.read.parquet(f.getPath)
      assert(rows.count() <= 100, s"${f.getName} exceeds maxRecordsPerFile")
      val ids = rows.select(col("doc_id")).collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted")
    }
    // books untouched byte-for-byte: same files, same sizes
    assert(files("books").map(f => f.getName -> f.length()).toSeq == booksBefore,
      "an already-compact partition must not be rewritten")
    // idempotent: a second pass finds nothing to do
    assert(Sinks.compactShards(spark, out, "source", Seq("doc_id"), 100) == 0)

    // the OTHER contract violation: one oversized file (a writer that
    // skipped maxRecordsPerFile) in a partition whose file COUNT looks
    // fine — selection must fire on the per-file bound too
    mk(301L to 550L, "books").repartition(1)
      .write.mode("append").partitionBy("source").parquet(out)
    assert(files("books").exists(f =>
      spark.read.parquet(f.getPath).count() > 100), "setup: oversize file")
    assert(Sinks.compactShards(spark, out, "source", Seq("doc_id"), 100) == 1,
      "an in-bound file count must not hide an over-bound file")
    files("books").foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 100,
        s"${f.getName} still exceeds maxRecordsPerFile")
    }
    assert(spark.read.parquet(s"$out/source=books").count() == 450,
      "books content preserved through the oversize rewrite")
  }

  test("jsonl round-trips the documents schema losslessly") {
    import org.apache.spark.sql.types._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val jd = Files.createTempDirectory("jsonl-").toString
    Sinks.writeJsonl(docs, jd)
    val backJ = EventSources.jsonl(spark, jd, docSchema)
    assert(backJ.count() == docs.count())
    assert(backJ.exceptAll(docs).isEmpty && docs.exceptAll(backJ).isEmpty,
      "jsonl round-trip must be lossless")
  }

  test("streaming: csv file source -> radar -> csv sink") {
    val inDir = Files.createTempDirectory("stream-in-")
    val outDir = Files.createTempDirectory("stream-out-").toString
    val cpDir = Files.createTempDirectory("stream-cp-").toString
    Files.writeString(inDir.resolve("batch1.csv"),
      "10,1,95,1,0,0,50,1000\n11,2,80,1,0,0,50,2000")
    val events = EventSources.carDataAsEvents(
      EventSources.carDataCsvStream(spark, inDir.toString))
    val q = Sinks.streamToCsv(
      graft.streaming.StreamOps.speedRadar(events), outDir, cpDir)
    try q.processAllAvailable() finally q.stop()
    val rows = spark.read.csv(outDir).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(4) == "95.0")
  }

  test("checkpoint recovery: a restarted query resumes without reprocessing") {
    val inDir = Files.createTempDirectory("ckpt-in-")
    val outDir = Files.createTempDirectory("ckpt-out-").toString
    val cpDir = Files.createTempDirectory("ckpt-cp-").toString
    def run(): Unit = {
      val events = EventSources.carDataAsEvents(
        EventSources.carDataCsvStream(spark, inDir.toString))
      val q = Sinks.streamToCsv(
        graft.streaming.StreamOps.speedRadar(events), outDir, cpDir)
      try q.processAllAvailable() finally q.stop()
    }
    Files.writeString(inDir.resolve("a.csv"), "10,1,95,1,0,0,50,1000")
    run()
    assert(spark.read.csv(outDir).count() == 1)
    // second lifecycle: same checkpoint, one new file — the old file's
    // offsets are committed, so only the new row is processed
    Files.writeString(inDir.resolve("b.csv"), "11,2,97,1,0,0,50,2000")
    run()
    val rows = spark.read.csv(outDir).collect().map(_.getString(4)).sorted
    assert(rows.toSeq == Seq("95.0", "97.0"),
      s"exactly one output row per input event, got ${rows.toSeq}")
  }

  test("idempotent batch sink: replaying a batch overwrites, never duplicates") {
    import spark.implicits._
    val out = Files.createTempDirectory("idem-out-").toString
    Sinks.writeBatchIdempotent(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, out)
    Sinks.writeBatchIdempotent(Seq((3L, "c")).toDF("id", "v"), 1L, out)
    assert(spark.read.parquet(out).count() == 3)
    // a restart re-delivers batch 1 (possibly with recomputed content):
    // its partition is overwritten in place, batch 0 is untouched
    Sinks.writeBatchIdempotent(Seq((3L, "c2")).toDF("id", "v"), 1L, out)
    val rows = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"))).sorted
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c2")))
  }

  test("streaming: foreachBatch idempotent parquet sink partitions by batch id") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("idem-stream-").toString
    val cp = Files.createTempDirectory("idem-cp-").toString
    val input = MemoryStream[Long]
    val q = Sinks.streamIdempotentParquet(input.toDS().toDF("id"), out, cp)
    try {
      input.addData(1L, 2L)
      q.processAllAvailable()
      input.addData(3L)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("batch_id"))).sorted
    assert(got.toSeq == Seq((1L, 0), (2L, 0), (3L, 1)))
  }
}
