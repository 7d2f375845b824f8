package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.zip.CRC32

import org.apache.spark.sql.{Dataset, SaveMode}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.{Curation, Html, Urls}
import graft.sources.Warc
import graft.streaming.StreamOps

/** w1 — the zero-dep WARC record reader: Content-Length framing (never a
  * delimiter scan), loud failure on malformed containers, byte-exact
  * round-trip against the builder, and the p2 ingest funnel running off
  * parsed records end-to-end.
  */
class WarcSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempSfDir()
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  private def crc(b: Array[Byte]): Long = {
    val c = new CRC32(); c.update(b); c.getValue
  }

  test("warc round-trip: records parse back byte-exact, framing by Content-Length") {
    // doc 2's text embeds the record separator AND the WARC magic inside
    // the payload: a delimiter-scanning reader would mis-split here; the
    // Content-Length reader must not
    val docs = Seq(
      (1L, "plain text long enough to make a couple of chunks maybe"),
      (2L, "trap \r\n\r\nWARC/1.0\r\n payload with embedded separators"),
      (3L, ""))
    val container = Warc.buildContainer(docs)
    val recs = Warc.parseWarc(container)
    assert(recs.length == 3)
    // offsets tile the container exactly: contiguous, full coverage
    recs.zipWithIndex.foreach { case (r, i) =>
      val expectOff = recs.take(i).map(_.recLen).sum
      assert(r.offset == expectOff, s"record $i offset")
    }
    assert(recs.map(_.recLen).sum == container.length.toLong)
    recs.zip(docs).foreach { case (r, (id, text)) =>
      assert(r.headers("warc-type") == "response")
      assert(r.headers("warc-record-id") == s"<urn:graft:doc-$id>")
      assert(r.headers("warc-target-uri") == Urls.buildUrl(id))
      val (status, body) = Warc.parseHttp(r.payload)
      assert(status == 200)
      assert(new String(body, UTF_8) == Html.buildHtml(id, text),
        s"doc $id body must round-trip byte-exact")
    }
  }

  test("warc reader fails loudly on malformed containers") {
    val good = Warc.buildContainer(Seq((7L, "some perfectly fine text")))
    // truncated mid-payload
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - 10)
    val e1 = intercept[IllegalArgumentException](Warc.parseWarc(truncated))
    assert(e1.getMessage.contains("truncated"))
    // bad magic
    val bad = good.clone(); bad(0) = 'X'
    val e2 = intercept[IllegalArgumentException](Warc.parseWarc(bad))
    assert(e2.getMessage.contains("bad WARC version"))
    // a record whose trailer was corrupted
    val noTrailer = good.clone(); noTrailer(good.length - 1) = 'Z'
    val e3 = intercept[IllegalArgumentException](Warc.parseWarc(noTrailer))
    assert(e3.getMessage.contains("CRLF"))
  }

  test("warc Content-Length counts BYTES: non-ASCII payloads round-trip") {
    // "café" is 4 chars but 5 UTF-8 bytes — a char-counted header would
    // truncate the payload and fail the trailer check for the container
    val docs = Seq(
      (1L, "café au lait €2 — servi très vite"),
      (2L, "plain ascii companion record"))
    val container = Warc.buildContainer(docs)
    val recs = Warc.parseWarc(container)
    assert(recs.length == 2)
    recs.zip(docs).foreach { case (r, (id, text)) =>
      val (status, body) = Warc.parseHttp(r.payload)
      assert(status == 200)
      assert(new String(body, java.nio.charset.StandardCharsets.UTF_8) ==
        graft.operators.Html.buildHtml(id, text),
        s"doc $id non-ASCII body must round-trip byte-exact")
    }
    assert(recs.map(_.recLen).sum == container.length.toLong)
  }

  test("warc reader rejects an implausible Content-Length as corruption, not incompleteness") {
    // flip the record's Content-Length to an absurd value: without the
    // bound this reads as "more bytes needed" and a stream reassembler
    // would buffer forever; with it, the reader fails loudly
    val good = Warc.buildContainer(Seq((7L, "some perfectly fine text")))
    val s = new String(good, java.nio.charset.StandardCharsets.UTF_8)
    val m = "Content-Length: (\\d+)\r\n\r\nHTTP".r.findFirstMatchIn(s).get
    val corrupt = s.replace(s"Content-Length: ${m.group(1)}\r\n\r\nHTTP",
      "Content-Length: 4700000000\r\n\r\nHTTP")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val e = intercept[IllegalArgumentException](Warc.parseWarc(corrupt))
    assert(e.getMessage.contains("implausible Content-Length"))
    // negative is corruption too
    val neg = s.replace(s"Content-Length: ${m.group(1)}\r\n\r\nHTTP",
      "Content-Length: -1\r\n\r\nHTTP")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val e2 = intercept[IllegalArgumentException](Warc.parseWarc(neg))
    assert(e2.getMessage.contains("implausible Content-Length"))
  }

  test("w1 audit rows pin the framing against independent arithmetic") {
    val dir = writeDocs(Seq(
      (1L, "hello world of warc framing today", "s0"),
      (2L, "", "s0"),
      (51L, "second shard starts here with doc fifty one", "s0")))
    val got = Warc.warcIngest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getInt(5), r.getLong(6), r.getLong(7)))
    def rec(id: Long, text: String) = Warc.buildRecord(id, text)
    val r1 = rec(1L, "hello world of warc framing today")
    val r2 = rec(2L, "")
    val r51 = rec(51L, "second shard starts here with doc fifty one")
    def html(id: Long, t: String) = Html.buildHtml(id, t)
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, r1.length.toLong, Urls.buildUrl(1L), 200,
        html(1L, "hello world of warc framing today").length.toLong,
        crc(html(1L, "hello world of warc framing today").getBytes(UTF_8))),
      (2L, 0L, r1.length.toLong, r2.length.toLong, Urls.buildUrl(2L), 200,
        html(2L, "").length.toLong, crc(html(2L, "").getBytes(UTF_8))),
      (51L, 1L, 0L, r51.length.toLong, Urls.buildUrl(51L), 200,
        html(51L, "second shard starts here with doc fifty one").length.toLong,
        crc(html(51L, "second shard starts here with doc fifty one")
          .getBytes(UTF_8)))), s"got ${got.toSeq}")
  }

  test("w2 WET conversion round-trips and pins the same bytes as x41's extraction") {
    // doc 30's page extracts to NOTHING (text under the content floor):
    // the conversion record must still frame, with Content-Length 0
    val dir = writeDocs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today again and again", "s0"),
      (30L, "tiny", "s0"),
      (51L, "second shard doc with plenty of text to clear the content floor", "s0")))
    val got = Warc.wetExtract(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6))).toSeq
    // independent expectation: x41's audit pins main_len/main_crc32 for
    // the same docs — w2's text columns must agree exactly
    val x41 = graft.operators.Html.htmlExtract(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("main_len"), r.getAs[Long]("main_crc32")))).toMap
    got.foreach { case (id, _, _, _, uri, textLen, textCrc) =>
      assert((textLen, textCrc) == x41(id),
        s"doc $id WET text must pin the same bytes as x41's extraction")
      assert(uri == Urls.buildUrl(id))
    }
    assert(got.find(_._1 == 30L).get._6 == 0L, "empty extraction frames")
    // offsets tile each shard's container: doc 1 then 30 in shard 0
    val r1len = got.find(_._1 == 1L).get._4
    assert(got.find(_._1 == 30L).get._3 == r1len)
    assert(got.find(_._1 == 51L).get._3 == 0L, "second shard starts at 0")
  }

  test("warc record stream reassembles chunked containers exactly as batch w1") {
    // a 3-record container split into brutal 7-byte chunks (boundaries
    // mid-magic, mid-header, mid-payload, mid-trailer), delivered over
    // TWO micro-batches with the cut mid-record: nothing may emit for
    // the straddling record until its bytes complete, offsets/lengths
    // must match the batch audit, and the trap doc's embedded
    // \r\n\r\n + magic must not mis-split (the Content-Length seam)
    val docs = Seq(
      (1L, "plain text long enough to make a couple of chunks maybe"),
      (2L, "trap \r\n\r\nWARC/1.0\r\n payload with embedded separators"),
      (3L, ""))
    val container = Warc.buildContainer(docs)
    val chunks = container.grouped(7).toSeq
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val all = chunks.zipWithIndex.map { case (b, i) =>
      StreamOps.WarcChunk(9L, ts, i.toLong, b)
    }
    // cut inside record 2 (record 1 ends well before half the container)
    val (batch1, batch2) = all.splitAt(all.length / 2)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.WarcChunk]
      val q = StreamOps.warcRecordStream(spark, input.toDS())
        .writeStream.format("memory").queryName("warc_stream_out")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      try {
        input.addData(batch1)
        q.processAllAvailable()
        val partial = spark.table("warc_stream_out").collect()
        assert(partial.length < 3, "the straddling record must not emit early")
        input.addData(batch2)
        q.processAllAvailable()
        val got = spark.table("warc_stream_out").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rec_offset"),
            r.getAs[Long]("rec_len"), r.getAs[String]("target_uri"),
            r.getAs[Int]("http_status"), r.getAs[Long]("html_len"),
            r.getAs[Long]("html_crc32"))).sortBy(_._1).toSeq
        // independent expectation from the BATCH parser over the whole
        // container — stream reassembly must agree record-for-record
        val want = Warc.parseWarc(container).map { r =>
          val id = r.headers("warc-record-id")
            .stripPrefix("<urn:graft:doc-").stripSuffix(">").toLong
          val (status, body) = Warc.parseHttp(r.payload)
          (id, r.offset, r.recLen, r.headers("warc-target-uri"), status,
            body.length.toLong, crc(body))
        }.sortBy(_._1)
        assert(got == want, s"got=$got want=$want")
      } finally q.stop()
    }
  }

  test("tryInflateMemberAt: every truncation is -1 (more bytes), every corruption throws") {
    val rec = Warc.buildRecord(4L, "try-inflate fixture body text")
    val member = Warc.gzipMember(rec)
    def sink() = new java.io.ByteArrayOutputStream()
    // truncation at EVERY byte — header, deflate stream, trailer — is
    // incompleteness for the stream, never a throw
    (0 until member.length).foreach { cut =>
      val s = sink()
      assert(Warc.tryInflateMemberAt(
        java.util.Arrays.copyOf(member, cut), 0, s) == -1L,
        s"cut@$cut must signal more-bytes-needed")
    }
    // the complete member walks to its end and inflates exactly
    val s = sink()
    assert(Warc.tryInflateMemberAt(member, 0, s) == member.length)
    assert(java.util.Arrays.equals(s.toByteArray, rec))
    // corruption classes still throw: magic, method, reserved flags,
    // CRC trailer, broken deflate
    def loud(mut: Array[Byte] => Unit, what: String): Unit = {
      val m = member.clone(); mut(m)
      val e = intercept[Exception](Warc.tryInflateMemberAt(m, 0, sink()))
      assert(e.isInstanceOf[IllegalArgumentException] ||
        e.getClass == classOf[RuntimeException], s"$what: $e")
    }
    loud(m => m(0) = 0x1e, "bad magic")
    loud(m => m(2) = 7, "non-deflate method")
    loud(m => m(3) = (m(3) | 0x80).toByte, "reserved FLG")
    loud(m => m(m.length - 8) = (m(m.length - 8) ^ 1).toByte, "CRC flip")
    loud(m => m(12) = (m(12) ^ 0xff).toByte, "deflate corruption")
  }

  test("gz warc record stream reassembles .warc.gz chunk transfers exactly as batch") {
    // the gz transport twin of the plain chunk-stream pin: per-record
    // gzip members split into brutal 7-byte chunks (boundaries mid gzip
    // header, mid deflate block, inside the 8-byte trailer), delivered
    // over THREE micro-batches with cuts mid-member — nothing may emit
    // for a member whose trailer hasn't arrived, and the final audit
    // must equal the batch parse of the PLAIN container (offsets
    // describe the uncompressed stream: gz is pure transport)
    val docs = Seq(
      (1L, "plain text long enough to make a couple of chunks maybe"),
      (2L, "trap \r\n\r\nWARC/1.0\r\n payload with embedded separators"),
      (3L, ""))
    val gz = Warc.buildGzContainer(docs)
    val plain = Warc.buildContainer(docs)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:02:00")
    val all = gz.grouped(7).toSeq.zipWithIndex.map { case (b, i) =>
      StreamOps.WarcChunk(11L, ts, i.toLong, b)
    }
    val third = all.length / 3
    val batches = Seq(all.take(third), all.slice(third, 2 * third),
      all.drop(2 * third))
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.WarcChunk]
      val q = StreamOps.warcGzRecordStream(spark, input.toDS())
        .writeStream.format("memory").queryName("warc_gz_stream_out")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      try {
        input.addData(batches(0))
        q.processAllAvailable()
        assert(spark.table("warc_gz_stream_out").count() < 3,
          "a member whose trailer hasn't arrived must not emit")
        input.addData(batches(1))
        q.processAllAvailable()
        input.addData(batches(2))
        q.processAllAvailable()
        val got = spark.table("warc_gz_stream_out").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rec_offset"),
            r.getAs[Long]("rec_len"), r.getAs[String]("target_uri"),
            r.getAs[Int]("http_status"), r.getAs[Long]("html_len"),
            r.getAs[Long]("html_crc32"))).sortBy(_._1).toSeq
        val want = Warc.parseWarc(plain).map { r =>
          val id = r.headers("warc-record-id")
            .stripPrefix("<urn:graft:doc-").stripSuffix(">").toLong
          val (status, body) = Warc.parseHttp(r.payload)
          (id, r.offset, r.recLen, r.headers("warc-target-uri"), status,
            body.length.toLong, crc(body))
        }.sortBy(_._1)
        assert(got == want, s"got=$got want=$want")
      } finally q.stop()
    }
    // corruption mid-stream is loud, not a silent resync: a flipped
    // deflate byte fails the query (the batch parser's contract lifted
    // to the transport)
    val bad = gz.clone()
    bad(12) = (bad(12) ^ 0xff).toByte
    withRocksDb {
      val input2 = MemoryStream[StreamOps.WarcChunk]
      val q2 = StreamOps.warcGzRecordStream(spark, input2.toDS())
        .writeStream.format("memory").queryName("warc_gz_bad_out")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      try {
        input2.addData(bad.grouped(64).toSeq.zipWithIndex.map { case (b, i) =>
          StreamOps.WarcChunk(12L, ts, i.toLong, b)
        })
        val e = intercept[Exception](q2.processAllAvailable())
        assert(e.getMessage != null)
      } finally q2.stop()
    }
  }

  test("streaming WET conversion equals batch w2 per closed record") {
    // the same brutal 7-byte chunking as the reassembly pin, but the
    // emitted rows are WET audits: per completed response record, the
    // SHARED conversion (x41 extraction + WET re-frame) must produce
    // exactly what batch w2 frames for the same docs — offsets included
    // (stream = running WET offset per container in completion order,
    // batch = per-shard running sum over doc_id order; containers are
    // built in doc_id order, so the two agree)
    val docs = Seq(
      (1L, "plain text long enough to make a couple of chunks maybe"),
      (2L, "trap \r\n\r\nWARC/1.0\r\n payload with embedded separators"),
      (3L, ""))
    val dir = writeDocs(docs.map { case (id, t) => (id, t, "s0") })
    val container = Warc.buildContainer(docs)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val all = container.grouped(7).toSeq.zipWithIndex.map { case (b, i) =>
      StreamOps.WarcChunk(0L, ts, i.toLong, b)
    }
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.WarcChunk]
      val q = StreamOps.wetRecordStream(spark, input.toDS())
        .writeStream.format("memory").queryName("wet_stream_out")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      try {
        input.addData(all)
        q.processAllAvailable()
        val got = spark.table("wet_stream_out").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("container_id"),
            r.getAs[Long]("rec_offset"), r.getAs[Long]("rec_len"),
            r.getAs[String]("target_uri"), r.getAs[Long]("text_len"),
            r.getAs[Long]("text_crc32"))).sortBy(_._1).toSeq
        // batch w2 over the same docs in ONE shard (shardSize covers all)
        val want = Warc.wetExtract(spark, dir, shardSize = 50)
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard_id"),
            r.getAs[Long]("rec_offset"), r.getAs[Long]("rec_len"),
            r.getAs[String]("target_uri"), r.getAs[Long]("text_len"),
            r.getAs[Long]("text_crc32"))).sortBy(_._1).toSeq
        assert(got == want, s"got=$got want=$want")
      } finally q.stop()
    }
  }

  test("warc record stream starts and emits under the non-zero-TTL dial") {
    // the TTL path needs TimeMode.ProcessingTime (a non-NONE TTLConfig
    // under TimeMode.None dies at query start) — this pins the mode
    // wiring the zero-default call sites never exercise
    val docs = Seq((1L, "ttl path doc with enough text to parse"))
    val container = Warc.buildContainer(docs)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a start() that throws (the TimeMode wiring reverted) still leaves
    // the provider restored: withRocksDb restores it on the way out
    withRocksDb {
      val input = MemoryStream[StreamOps.WarcChunk]
      input.addData(Seq(StreamOps.WarcChunk(3L, ts, 0L, container)))
      // ONE micro-batch then stop: under ProcessingTime the engine keeps
      // scheduling batches for TTL expiry, so processAllAvailable (and
      // AvailableNow) never converge — Trigger.Once is the terminating
      // form for this mode (the StreamBench firstSeenTws exclusion)
      val q = StreamOps.warcRecordStream(spark, input.toDS(),
          ttl = java.time.Duration.ofHours(1))
        .writeStream.format("memory").queryName("warc_ttl_out")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      try {
        q.awaitTermination(120000L)
        val got = spark.table("warc_ttl_out").collect()
        assert(got.length == 1 && got.head.getAs[Long]("doc_id") == 1L)
      } finally q.stop()
    }
  }

  test("w3 file round-trip: .warc files land byte-identical and read back as w1's audit") {
    // 7 docs across 3 shards (shardSize=3); doc 4 carries the separator
    // trap so the FILE path exercises the same framing discipline
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "s0"),
      (1L, "plain text long enough to fill a record", "s0"),
      (2L, "", "s0"),
      (3L, "another document body", "s0"),
      (4L, "trap \r\n\r\nWARC/1.0\r\n embedded separators", "s0"),
      (5L, "short", "s0"),
      (6L, "last shard single doc", "s0"))
    val dir = writeDocs(docs)
    val out = java.nio.file.Files.createTempDirectory("w3spec-").toString
    val nFiles = Warc.writeWarcFiles(spark, dir, out, shardSize = 3)
    assert(nFiles == 3)
    // each file's bytes must equal buildContainer over its shard's docs —
    // the write stage adds transport, never changes a byte
    (0 to 2).foreach { shard =>
      val f = java.nio.file.Paths.get(out, f"shard-$shard%05d.warc")
      val onDisk = java.nio.file.Files.readAllBytes(f)
      val expect = Warc.buildContainer(
        docs.collect { case (id, t, _) if id / 3 == shard => (id, t) })
      assert(java.util.Arrays.equals(onDisk, expect),
        s"shard $shard file bytes diverge from the in-flight container")
    }
    // the binaryFile read-back audits exactly what in-flight w1 audits
    val fromFiles = Warc.warcFileIngest(spark, out)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val inFlight = Warc.warcIngest(spark, dir, shardSize = 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fromFiles == inFlight)
    // re-staging is overwrite-idempotent: same bytes, same audit
    assert(Warc.writeWarcFiles(spark, dir, out, shardSize = 3) == 3)
    val again = Warc.warcFileIngest(spark, out)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(again == inFlight)
  }

  test("warc file STREAM audits new containers exactly as batch, as they land") {
    // the archive-drop posture: two containers present at start, a third
    // landing mid-stream — every record must audit identically to the
    // batch file reader, and the late file's records appear only after
    // it lands (whole files are the atomic streaming unit)
    val docs = Seq(
      (0L, "first shard doc zero body text", "s0"),
      (1L, "first shard doc one body text", "s0"),
      (2L, "second shard doc two body text", "s0"),
      (3L, "second shard doc three body text", "s0"),
      (4L, "third shard doc four body text", "s0"))
    val dir = writeDocs(docs)
    val out = java.nio.file.Files.createTempDirectory("w3stream-").toString
    // stage shards 0 and 1 (docs 0-3) by writing a 4-doc corpus first
    val dirA = writeDocs(docs.take(4))
    Warc.writeWarcFiles(spark, dirA, out, shardSize = 2)
    val ckpt = java.nio.file.Files.createTempDirectory("w3ck-").toString
    val q = Warc.warcFileStream(spark, out)
      .writeStream.format("memory").queryName("w3_stream_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val early = spark.table("w3_stream_out").collect()
      assert(early.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L),
        "only the landed containers' records may emit")
      // the third shard lands: write the FULL corpus (shards 0/1 rewrite
      // byte-identically and are already-seen files; shard 2 is new)
      Warc.writeWarcFiles(spark, dir, out, shardSize = 2)
      q.processAllAvailable()
      val got = spark.table("w3_stream_out").collect()
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      val want = Warc.warcFileIngest(spark, out)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(got == want, s"got=$got want=$want")
    } finally q.stop()
  }

  test("file-backed p2 funnel verdicts equal the in-flight pipeline's") {
    // same fixture shape as the streaming-gate agreement test: a keeper,
    // a too-short doc, a wrong-source doc, a blocked-word doc, a second
    // keeper — here the frontier stages read the .warc FILES on disk
    val docs = Seq(
      (1L, "the a fast w1 w2 w3 w4 w5 the a fast w6", "s0"),
      (30L, "tiny", "s0"),
      (24L, "the a fast w1 w2 w3 w4 w5 the a fast w6", "src7"),
      (25L, "this doc mentions dup once it does", "s0"),
      (26L, "the a fast v1 v2 v3 v4 v5 the a fast v6", "s0"))
    val dir = writeDocs(docs)
    val out = java.nio.file.Files.createTempDirectory("w3p2-").toString
    Warc.writeWarcFiles(spark, dir, out, shardSize = 3)
    val batch = Curation.webPipelineDecision(spark, dir,
        minQuality = 0.0, positiveSources = Seq("s0"))
      .collect().map(_.toSeq).toSeq
    val fromFiles = Curation.webPipelineDecisionFromWarc(spark, dir, out,
        minQuality = 0.0, positiveSources = Seq("s0"))
      .collect().map(_.toSeq).toSeq
    assert(fromFiles == batch)
  }

  test("p2 ingest funnel runs off parsed WARC records end-to-end") {
    // the p2-agreement fixture: WARC-synthesize, parse back through the
    // seam, feed the PARSED records (URI + HTTP body) into the streaming
    // ingest gate — verdicts must equal batch p2's per-page stages
    val docs = Seq(
      (1L, "the a fast w1 w2 w3 w4 w5 the a fast w6", "s0"),
      (30L, "tiny", "s0"),
      (24L, "the a fast w1 w2 w3 w4 w5 the a fast w6", "src7"),
      (25L, "this doc mentions dup once it does", "s0"),
      (26L, "the a fast v1 v2 v3 v4 v5 the a fast v6", "s0"))
    val dir = writeDocs(docs)
    val batch = Curation.webPipelineDecision(spark, dir,
        minQuality = 0.0, positiveSources = Seq("s0"))
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    val srcOf = docs.map { case (id, _, s) => id -> s }.toMap
    val container = Warc.buildContainer(docs.map { case (id, t, _) => (id, t) })
    val fetches = Warc.parseWarc(container).map { r =>
      val id = r.headers("warc-record-id")
        .stripPrefix("<urn:graft:doc-").stripSuffix(">").toLong
      val (_, body) = Warc.parseHttp(r.payload)
      StreamOps.FetchEvent(id, Timestamp.valueOf("2024-01-01 00:01:00"),
        r.headers("warc-target-uri"), srcOf(id), new String(body, UTF_8))
    }
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.FetchEvent]
    val q = StreamOps.webIngestGateStream(spark, input.toDS())
      .writeStream.format("memory").queryName("warc_gate_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(fetches)
      q.processAllAvailable()
      val stream = spark.table("warc_gate_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("reason"))).toMap
      assert(stream == batch, s"stream=$stream batch=$batch")
    } finally q.stop()
  }

  test("a large record in tiny chunks reassembles once its bytes complete (resume-offset path)") {
    // a ~300 KiB record delivered in 1 KiB chunks: the resume hint means
    // chunks append without re-parsing the pending prefix; the record
    // must emit exactly once, only after its last byte, and match batch
    val big = "lorem ipsum " * 25000 // ~300 KB payload
    val docs = Seq((42L, big), (43L, "small trailer doc"))
    val container = Warc.buildContainer(docs)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    val all = container.grouped(1024).zipWithIndex.map { case (b, i) =>
      StreamOps.WarcChunk(3L, ts, i.toLong, b)
    }.toSeq
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.WarcChunk]
      val q = StreamOps.warcRecordStream(spark, input.toDS()).toDF()
        .writeStream.format("memory").queryName("warc_big_out")
        .outputMode(OutputMode.Append).start()
      try {
        // all but the straddling record's final chunk first: nothing for
        // doc 42 may emit while its payload is incomplete
        val cut = all.length * 2 / 3
        input.addData(all.take(cut))
        q.processAllAvailable()
        assert(spark.table("warc_big_out").count() == 0)
        input.addData(all.drop(cut))
        q.processAllAvailable()
        val got = spark.table("warc_big_out").orderBy("doc_id").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rec_offset"),
            r.getAs[Long]("rec_len"), r.getAs[Long]("html_crc32"))).toSeq
        val want = Warc.parseWarc(container).map { r =>
          val id = r.headers("warc-record-id")
            .stripPrefix("<urn:graft:doc-").stripSuffix(">").toLong
          val (_, body) = Warc.parseHttp(r.payload)
          (id, r.offset, r.recLen, crc(body))
        }.sortBy(_._1)
        assert(got == want)
      } finally q.stop()
    }
  }

  test("a head that never completes within 64 KiB fails loudly as corruption") {
    // headerless byte stream (no CRLF-terminated blank line): once the
    // pending buffer passes MaxWarcHeaderBytes without a complete head
    // the reassembler must call it corruption, not keep buffering
    val junk = ("WARC/1.0\r\n" + "X-Pad: y\r\n" * 20).getBytes(UTF_8)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    // ~80 KiB of endless header lines, never a blank line
    val chunks = (0 until 400).map { i =>
      StreamOps.WarcChunk(4L, ts, i.toLong,
        if (i == 0) junk else (s"X-Pad-$i: zzzzzzzz\r\n" * 20).getBytes(UTF_8))
    }
    // the same junk once more through the gz transport, as ONE gzip
    // member: its inflated bytes reach the framing gate in one piece
    val gzChunks = Seq(StreamOps.WarcChunk(4L, ts, 0L,
      Warc.gzipMember(chunks.flatMap(_.bytes).toArray)))
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    type Transport = Dataset[StreamOps.WarcChunk] => Dataset[StreamOps.WarcRecordRow]
    Seq[(String, Transport, Seq[StreamOps.WarcChunk])](
      ("warc_junk_out", StreamOps.warcRecordStream(spark, _), chunks),
      ("warc_gz_junk_out", StreamOps.warcGzRecordStream(spark, _), gzChunks)
    ).foreach { case (name, transport, in) =>
      withRocksDb {
        val input = MemoryStream[StreamOps.WarcChunk]
        val q = transport(input.toDS()).toDF()
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append).start()
        try {
          input.addData(in)
          val e = intercept[Exception](q.processAllAvailable())
          val msgs = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null)
            .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
          assert(msgs.contains("no complete header block") ||
            msgs.contains("unframeable"), msgs)
        } finally q.stop()
      }
    }
  }

  test("streaming composed funnel maintains batch p2's verdicts per closed container") {
    // the p2-agreement fixture: docs 1/24 share a norm group ACROSS the
    // two waves' boundary question is avoided by recompute-over-seen —
    // after each closed container the maintained verdict table must
    // equal the batch FILE-BACKED p2 over exactly the landed files, and
    // after the last file the in-flight batch p2 over the whole corpus
    val docs = Seq(
      (1L, "the a fast w1 w2 w3 w4 w5 the a fast w6", "s0"),
      (30L, "tiny", "s0"),
      (24L, "the a fast w1 w2 w3 w4 w5 the a fast w6", "src7"),
      (25L, "this doc mentions dup once it does", "s0"),
      (26L, "the a fast v1 v2 v3 v4 v5 the a fast v6", "s0"))
    val dir = writeDocs(docs)
    // wave A: only shard 0's docs (doc_id div 25 == 0 → ids 1, 24)
    val dirA = writeDocs(docs.filter(d => Seq(1L, 24L).contains(d._1)))
    val out = java.nio.file.Files.createTempDirectory("wfunnel-").toString
    assert(Warc.writeWarcFiles(spark, dirA, out, shardSize = 25) == 1)
    val state = new StreamOps.WebFunnelState(spark, dir,
      minQuality = 0.0, positiveSources = Seq("s0"))
    val ckpt = java.nio.file.Files.createTempDirectory("wfunnelck-").toString
    val q = StreamOps.webPipelineVerdictStream(
        Warc.warcRecordFileStream(spark, out), state)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      // per closed file: the batch file-backed p2 over the SAME landed
      // containers (captured before wave B mutates the directory)
      val wantA = rows(Curation.webPipelineDecisionFromWarc(spark, dir, out,
        minQuality = 0.0, positiveSources = Seq("s0")))
      assert(rows(state.verdicts) == wantA)
      assert(wantA.map(_.head) == Seq(1L, 24L))
      // wave B: the full corpus lands — shard 0 rewrites byte-identical
      // (already-seen path, never re-read), shard 1 (ids 25/26/30) is new
      assert(Warc.writeWarcFiles(spark, dir, out, shardSize = 25) == 2)
      q.processAllAvailable()
      val wantAll = rows(Curation.webPipelineDecision(spark, dir,
        minQuality = 0.0, positiveSources = Seq("s0")))
      assert(rows(state.verdicts) == wantAll,
        "after the last container the maintained table must equal in-flight batch p2")
    } finally q.stop()
  }

  test("incremental keeper maintenance equals the full recompute after every batch prefix") {
    // adversarial group dynamics: a later-arriving SMALLER doc_id steals
    // the norm keeper (1 joins 2's group), a canon group gains a
    // smaller fetch copy (3 joins 7's URL), a robots-disallowed copy
    // lands next to an allow-override sibling (8 vs 4), a replayed
    // batch must be a no-op, and an untouched group (5/6 forming late)
    // must keep every earlier verdict row byte-identical. After EVERY
    // batch prefix the incremental MERGE must equal the full recompute.
    val textX1 = "Same Norm Text here with words enough to pass!"
    val textX2 = "same norm TEXT here with words enough to pass"
    val textY1 = "Another Shared Normal body of words to pass."
    val textY2 = "another shared NORMAL body of words to pass"
    val docs = Seq(
      (1L, textX1, "s0"), (2L, textX2, "s0"),
      (3L, "unique text aaa with enough words to pass", "s0"),
      (4L, "unique text bbb with enough words to pass", "s0"),
      (5L, textY1, "s0"), (6L, textY2, "s0"),
      (7L, "unique text ccc with enough words to pass", "s0"),
      (8L, "unique text ddd with enough words to pass", "s0"))
    val dir = writeDocs(docs)
    import spark.implicits._
    def page(id: Long): Array[Byte] =
      graft.operators.Html.buildHtml(id, docs.find(_._1 == id).get._2)
        .getBytes(UTF_8)
    val uris = Map(
      1L -> "https://site3.example.com/d1",
      2L -> "https://site3.example.com/d2",
      3L -> "https://site1.example.com/pageq",          // canon group C1
      7L -> "https://site1.example.com/pageq#frag",     // canon group C1
      4L -> "https://site2.example.com/a/b23/z",        // allow override
      8L -> "https://site2.example.com/a/b2/z",         // robots-disallowed
      5L -> "https://site3.example.com/d5",
      6L -> "https://site3.example.com/d6")
    def records(ids: Long*) =
      ids.map(id => (id, uris(id), page(id)))
        .toDF("doc_id", "target_uri", "body")
    val inc = new StreamOps.WebFunnelState(spark, dir,
      minQuality = 0.0, positiveSources = Seq("s0"), incremental = true)
    val full = new StreamOps.WebFunnelState(spark, dir,
      minQuality = 0.0, positiveSources = Seq("s0"), incremental = false)
    def check(tag: String): Unit = {
      val a = inc.verdicts.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val b = full.verdicts.orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(a == b, s"$tag: incremental=$a full=$b")
    }
    val batches = Seq(
      records(7L, 2L, 8L),   // first landing: groups form
      records(3L, 1L),       // keeper steals: canon (3<7), norm (1<2)
      records(3L, 1L),       // exact replay: must be a no-op
      records(5L),           // fresh group, untouched elsewhere
      records(6L, 4L))       // 6 joins 5's norm group; 4 = allow override
    batches.zipWithIndex.foreach { case (b, i) =>
      inc.applyBatch(b); full.applyBatch(b); check(s"after batch $i")
    }
    // the gate-rows instrument (the StreamBench corpus-independence
    // evidence) pins exactly: full recompute runs the gates over the
    // WHOLE frontier every batch (3,5,5,6,8 — the replay adds nothing
    // but still recomputes all 5); incremental runs them over the
    // batch-touched group closure only — batch 1's R is {1,2,3,7}
    // (1 pulls 2's norm group, 3 pulls 7's canon group), the replay
    // batch is FREE (R empty), and batch 4's R is {4,5,6} however
    // many rows have accumulated
    assert(full.batchGateRows.toSeq == Seq(3L, 5L, 5L, 6L, 8L),
      full.batchGateRows.toString)
    assert(inc.batchGateRows.toSeq == Seq(3L, 4L, 0L, 1L, 3L),
      inc.batchGateRows.toString)
    // the dynamics actually fired: 7 lost its URL keeper to 3, 2 lost
    // its norm keeper to 1, 8 is robots-disallowed while 4 passed
    val m = inc.verdicts.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(m(7L) == "url_duplicate", m.toString)
    assert(m(2L) == "duplicate", m.toString)
    assert(m(8L) == "robots_disallowed", m.toString)
    assert(m(1L) == "ok" && m(3L) == "ok" && m(4L) == "ok", m.toString)
    assert(m(6L) == "duplicate" && m(5L) == "ok", m.toString)
  }

  test("w4 gz round-trip: per-record gzip members inflate back to w1's audit") {
    // doc 1 carries the separator trap, doc 2 non-ASCII (multi-byte
    // UTF-8 through the compressed transport), doc 3 an empty body
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "s0"),
      (1L, "trap \r\n\r\nWARC/1.0\r\n embedded separators", "s0"),
      (2L, "café naïve 日本語 non-ascii bytes", "s0"),
      (3L, "", "s0"),
      (4L, "last shard single doc", "s0"))
    val dir = writeDocs(docs)
    val out = java.nio.file.Files.createTempDirectory("w4spec-").toString
    val nFiles = Warc.writeWarcFiles(spark, dir, out, shardSize = 2, gz = true)
    assert(nFiles == 3)
    (0 to 2).foreach { shard =>
      val f = java.nio.file.Paths.get(out, f"shard-$shard%05d.warc.gz")
      val onDisk = java.nio.file.Files.readAllBytes(f)
      val shardDocs =
        docs.collect { case (id, t, _) if id / 2 == shard => (id, t) }
      assert(java.util.Arrays.equals(onDisk, Warc.buildGzContainer(shardDocs)),
        s"shard $shard gz file bytes diverge from the in-flight gz container")
      // the member walk inverts the member build: inflating the gz
      // container yields the PLAIN container byte-for-byte, so offsets
      // recorded downstream describe the uncompressed WARC frame
      assert(java.util.Arrays.equals(Warc.gunzipMembers(onDisk),
        Warc.buildContainer(shardDocs)),
        s"shard $shard members must inflate to the plain container")
      // one gzip member PER RECORD (offset addressability): member count
      // == record count, counted by walking the compressed headers
      var members = 0
      var pos = 0
      while (pos < onDisk.length) {
        assert(onDisk(pos) == 0x1f.toByte && onDisk(pos + 1) == 0x8b.toByte)
        val one = Warc.gzipMember(Warc.buildRecord(shardDocs(members)._1,
          shardDocs(members)._2))
        pos += one.length
        members += 1
      }
      assert(members == shardDocs.length, s"shard $shard member count")
    }
    // the gz read-back audits exactly what in-flight w1 audits
    val fromFiles = Warc.warcFileIngest(spark, out)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val inFlight = Warc.warcIngest(spark, dir, shardSize = 2)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fromFiles == inFlight)
    // and the public w4 key (own staging) matches too
    val w4 = Warc.warcGzRoundTrip(spark, dir, shardSize = 2)
      .collect().map(_.toSeq).toSeq
    assert(w4 == inFlight)
  }

  test("mixed-type containers: non-response records skip and count, responses audit unchanged") {
    // the real-container shape (ISO 28500 §6.2): warcinfo opens the
    // file, request/metadata/revisit interleave with the responses —
    // the reader must consume the responses and COUNT the rest, never
    // fail on them
    val docs = Seq(
      (10L, "response doc ten body text", "s0"),
      (11L, "response doc eleven body", "s0"))
    val dir = writeDocs(docs)
    val parts: Seq[Array[Byte]] = Seq(
      Warc.buildAuxRecord("warcinfo", 0L,
        "software: graft-fixture".getBytes(UTF_8)),
      Warc.buildAuxRecord("request", 10L,
        "GET /10 HTTP/1.1\r\nHost: h\r\n\r\n".getBytes(UTF_8)),
      Warc.buildRecord(10L, docs(0)._2),
      Warc.buildAuxRecord("metadata", 10L,
        "fetchTimeMs: 12".getBytes(UTF_8)),
      Warc.buildRecord(11L, docs(1)._2),
      Warc.buildAuxRecord("revisit", 11L, Array.empty[Byte]))
    val container = parts.reduce(_ ++ _)
    val out = java.nio.file.Files.createTempDirectory("wmixedtype-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "shard-00000.warc"), container)
    val rows = Warc.warcFileIngest(spark, out).orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 11L),
      "only the two response records may audit")
    // offsets are ABSOLUTE container positions — skipped records leave
    // visible gaps, they do not renumber the frame
    val off10 = (parts(0).length + parts(1).length).toLong
    val off11 = off10 + parts(2).length + parts(3).length
    assert(rows(0).getAs[Long]("rec_offset") == off10)
    assert(rows(1).getAs[Long]("rec_offset") == off11)
    // body accounting equals the response-only audit for the same docs
    val pure = Warc.warcIngest(spark, dir, shardSize = 50)
      .orderBy("doc_id").collect()
    rows.zip(pure).foreach { case (m, p) =>
      Seq("rec_len", "target_uri", "http_status", "html_len", "html_crc32")
        .foreach { c =>
          assert(m.getAs[Any](c) == p.getAs[Any](c), s"column $c")
        }
    }
    // the skipped-records ledger counts every type with its frame bytes
    val audit = Warc.warcTypeAudit(spark, out).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(audit == Set(
      ("warcinfo", 1L, parts(0).length.toLong),
      ("request", 1L, parts(1).length.toLong),
      ("response", 2L, (parts(2).length + parts(4).length).toLong),
      ("metadata", 1L, parts(3).length.toLong),
      ("revisit", 1L, parts(5).length.toLong)), audit.toString)
    // the gz transport of the SAME mixed container behaves identically
    val outGz = java.nio.file.Files.createTempDirectory("wmixedgz-").toString
    val gzContainer = parts.map(Warc.gzipMember).reduce(_ ++ _)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outGz, "shard-00000.warc.gz"), gzContainer)
    val gzRows = Warc.warcFileIngest(spark, outGz)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(gzRows == rows.map(_.toSeq).toSeq)
    // and the STREAMING reassembler skips the same records: chunk the
    // mixed container arbitrarily, expect exactly the response audits
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[StreamOps.WarcChunk]
      val chunks = container.grouped(97).zipWithIndex.map { case (b, i) =>
        StreamOps.WarcChunk(0L, Timestamp.valueOf("2024-01-01 00:01:00"),
          i.toLong, b)
      }.toSeq
      val q = StreamOps.warcRecordStream(spark, input.toDS()).toDF()
        .writeStream.format("memory").queryName("wmixed_stream_out")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(chunks)
        q.processAllAvailable()
        val got = spark.table("wmixed_stream_out")
          .orderBy("doc_id").collect()
        assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L, 11L))
        assert(got.map(_.getAs[Long]("rec_offset")).toSeq == Seq(off10, off11))
      } finally q.stop()
    }
  }

  test("gz member index makes containers offset-addressable: one ranged read = one record") {
    // the CDX posture: index the compressed container once, then fetch
    // any single record by its compressed offset without inflating any
    // other byte — the read path a 1 GB crawl segment is served by
    val docs = Seq(
      (0L, "first doc body with some text"),
      (1L, "second doc \r\n\r\nWARC/1.0\r\n trap"),
      (2L, "café 日本語 multi-byte doc"),
      (3L, ""))
    val gz = Warc.buildGzContainer(docs)
    val idx = Warc.gzMemberIndex(gz)
    assert(idx.length == docs.length, "one member per record")
    // members tile the compressed container exactly
    idx.zipWithIndex.foreach { case (m, i) =>
      val expectOff = idx.take(i).map(_.compLen).sum
      assert(m.compOffset == expectOff, s"member $i offset")
    }
    assert(idx.map(_.compLen).sum == gz.length.toLong)
    // plain lengths equal the uncompressed record lengths
    val plain = Warc.buildContainer(docs)
    val plainRecs = Warc.parseWarc(plain)
    assert(idx.map(_.plainLen) == plainRecs.map(_.recLen))
    // random-access: each member inflates to exactly its record's bytes
    idx.zip(plainRecs).foreach { case (m, r) =>
      val got = Warc.readGzMemberAt(gz, m.compOffset)
      val want = java.util.Arrays.copyOfRange(plain,
        r.offset.toInt, (r.offset + r.recLen).toInt)
      assert(java.util.Arrays.equals(got, want))
      // and the member parses as exactly ONE record with the right id
      val recs = Warc.parseWarc(got)
      assert(recs.length == 1)
      assert(Warc.docIdOf(recs.head) == Warc.docIdOf(r))
    }
    // a mid-member offset is loud (the magic check), never a resync
    val e = intercept[Exception](Warc.readGzMemberAt(gz, idx(1).compOffset + 3))
    assert(e.getMessage.contains("bad gzip magic"), e.getMessage)
    val e2 = intercept[Exception](Warc.readGzMemberAt(gz, gz.length.toLong))
    assert(e2.getMessage.contains("outside container"), e2.getMessage)
  }

  test("w5 point reads serve w1's audit through the member index, offsets plain-frame") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "s0"),
      (1L, "trap \r\n\r\nWARC/1.0\r\n embedded separators", "s0"),
      (2L, "café naïve 日本語 non-ascii bytes", "s0"),
      (3L, "", "s0"),
      (4L, "last shard single doc", "s0"))
    val dir = writeDocs(docs)
    val got = Warc.warcGzPointReads(spark, dir, shardSize = 2)
      .collect().map(_.toSeq).toSeq
    val want = Warc.warcIngest(spark, dir, shardSize = 2)
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      "the point-read path must audit exactly the whole-scan frame")
    // offset accounting survives interleaved non-response members: a
    // warcinfo member before the responses shifts their plain offsets
    // exactly like the whole-scan parse sees them
    val aux = Warc.buildAuxRecord("warcinfo", 0L,
      "software: graft-fixture".getBytes(UTF_8))
    val r10 = Warc.buildRecord(10L, "mixed container response ten")
    val r11 = Warc.buildRecord(11L, "mixed container response eleven")
    val gzMixed = Warc.gzipMember(aux) ++ Warc.gzipMember(r10) ++
      Warc.gzipMember(r11)
    val out = java.nio.file.Files.createTempDirectory("w5mixed-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "shard-00000.warc.gz"), gzMixed)
    val idx = Warc.gzMemberIndex(gzMixed)
    assert(idx.length == 3)
    val fetched10 = Warc.readGzMemberAt(gzMixed, idx(1).compOffset)
    assert(java.util.Arrays.equals(fetched10, r10))
    // drive the SERVE BODY ITSELF over the mixed container: the two
    // response rows must come back with plain offsets that include the
    // skipped warcinfo member's bytes, identical to the whole-scan audit
    val served = Warc.pointReadFile(s"$out/shard-00000.warc.gz", gzMixed)
      .toSeq.sortBy(_._1)
    assert(served.map(t => (t._1, t._3)) == Seq(
      (10L, aux.length.toLong),
      (11L, (aux.length + r10.length).toLong)),
      s"point-read offsets must include skipped members: $served")
    val whole = Warc.warcFileIngest(spark, out)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(served.map(_.productIterator.toSeq) == whole,
      "the serve body must audit exactly the whole-scan frame on a mixed container")
    // the shared name contract applies to the point-read path too:
    // plain bytes under a .gz name stay loud
    val e3 = intercept[Exception](
      Warc.pointReadFile("x/shard-00001.warc.gz", r10).toSeq)
    assert(e3.getMessage.contains("extension says gzip"), e3.getMessage)
  }

  /** An in-memory positioned-readable stream that records every ranged
    * read — the instrument that makes "bytes-read-per-fetch == compLen"
    * an ASSERTION instead of prose.
    */
  private class CountingSeekableBytes(data: Array[Byte])
      extends java.io.ByteArrayInputStream(data)
      with org.apache.hadoop.fs.Seekable
      with org.apache.hadoop.fs.PositionedReadable {
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    override def seek(p: Long): Unit = { pos = p.toInt }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = {
      val n = math.min(length, data.length - position.toInt)
      if (n <= 0) -1
      else {
        System.arraycopy(data, position.toInt, buffer, offset, n)
        reads += ((position, n)); n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      require(position >= 0 && position + length <= data.length,
        s"read past EOF: $position+$length of ${data.length}")
      System.arraycopy(data, position.toInt, buffer, offset, length)
      reads += ((position, length))
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }

  test("w6 persisted-CDX serve equals w1's audit; sidecars committed at stage time") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "s0"),
      (1L, "trap \r\n\r\nWARC/1.0\r\n embedded separators", "s0"),
      (2L, "café naïve 日本語 non-ascii bytes", "s0"),
      (3L, "", "s0"),
      (4L, "last shard single doc", "s0"))
    val dir = writeDocs(docs)
    val got = Warc.warcCdxLookup(spark, dir, shardSize = 2)
      .collect().map(_.toSeq).toSeq
    val want = Warc.warcIngest(spark, dir, shardSize = 2)
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      "the persisted-CDX serve must audit exactly the whole-scan frame")
    // the gz stage wrote one COMPLETE sidecar per container, and the
    // sidecar round-trips to exactly the index derived from the
    // container bytes — the stage-time index can never drift from what
    // a reader of the container would frame
    val staged = Warc.stagedWarcDir(spark, dir, shardSize = 2, gz = true)
    val files = new java.io.File(staged).listFiles().map(_.getName).sorted
    assert(files.count(_.endsWith(".cdx")) == 3, files.mkString(","))
    assert(files.count(_.endsWith(".warc.gz")) == 3, files.mkString(","))
    files.filter(_.endsWith(".cdx")).foreach { name =>
      val sidecar = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(staged, name))
      val container = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(staged, name.stripSuffix(".cdx") + ".warc.gz"))
      val parsed = Warc.parseCdx(name, new String(sidecar, UTF_8))
      assert(parsed == Warc.cdxEntries(container),
        s"$name must round-trip to the container-derived index")
      // and the sidecar coordinates agree with the member walk
      val idx = Warc.gzMemberIndex(container)
      assert(parsed.map(e => (e.compOffset, e.compLen, e.plainLen)) ==
        idx.map(m => (m.compOffset, m.compLen, m.plainLen)))
    }
    // naming contract: sidecar -> (shard, container path)
    assert(Warc.cdxShardOf("/a/b/shard-00042.cdx") ==
      (42L, "/a/b/shard-00042.warc.gz"))
    intercept[Exception](Warc.cdxShardOf("/a/b/shard-00042.warc.gz"))
    intercept[Exception](Warc.cdxShardOf("/a/b/shard-12f.cdx"))
  }

  test("w6 fetches exactly compLen bytes per looked-up record; non-response members cost zero reads") {
    val aux = Warc.buildAuxRecord("warcinfo", 0L,
      "software: graft-fixture".getBytes(UTF_8))
    val r10 = Warc.buildRecord(10L, "mixed container response ten")
    val r11 = Warc.buildRecord(11L, "mixed container response eleven")
    val gzMixed = Warc.gzipMember(aux) ++ Warc.gzipMember(r10) ++
      Warc.gzipMember(r11)
    val entries = Warc.cdxEntries(gzMixed)
    assert(entries.map(_.warcType) == Seq("warcinfo", "response", "response"))
    val counting = new CountingSeekableBytes(gzMixed)
    val in = new org.apache.hadoop.fs.FSDataInputStream(counting)
    val served = Warc.serveCdxEntries(in, "shard-00000.warc.gz", 0L, entries)
      .toVector
    // every ranged read is EXACTLY one looked-up member: (compOffset,
    // compLen) pairs of the response entries, in offset order, nothing
    // else — the warcinfo member never costs a byte of traffic
    val wantReads = entries.filter(_.warcType == "response")
      .map(e => (e.compOffset, e.compLen.toInt))
    assert(counting.reads.toSeq == wantReads,
      s"ranged reads ${counting.reads} != member coordinates $wantReads")
    // and the served rows are the whole-scan audit of the container
    val out = java.nio.file.Files.createTempDirectory("w6mixed-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "shard-00000.warc.gz"), gzMixed)
    val whole = Warc.warcFileIngest(spark, out)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(served.sortBy(_._1).map(_.productIterator.toSeq) == whole,
      "the CDX serve must audit exactly the whole-scan frame")
    // plain offsets include the skipped warcinfo member's bytes
    assert(served.map(t => (t._1, t._3)).sortBy(_._1) == Seq(
      (10L, aux.length.toLong),
      (11L, (aux.length + r10.length).toLong)))
  }

  test("a CDX sidecar drifted from its container is loud, never a mis-framed serve") {
    val r = Warc.buildRecord(5L, "drift fixture body")
    val gz = Warc.gzipMember(r)
    val good = Warc.cdxEntries(gz).head
    def serve(e: Warc.CdxEntry): Unit = {
      val in = new org.apache.hadoop.fs.FSDataInputStream(
        new CountingSeekableBytes(gz ++ Warc.gzipMember(
          Warc.buildRecord(6L, "padding member so longer lens have bytes"))))
      Warc.serveCdxEntries(in, "f", 0L, Seq(e)).toVector: Unit
    }
    serve(good) // sanity: the unmodified entry serves
    // compLen one byte long: the inflate consumes only the true member
    val e1 = intercept[Exception](serve(good.copy(compLen = good.compLen + 1)))
    assert(e1.getMessage.contains("index drifted"), e1.getMessage)
    // compLen one byte short: the deflate stream truncates loudly
    val e2 = intercept[Exception](serve(good.copy(compLen = good.compLen - 1)))
    assert(e2.getMessage != null)
    // plainLen wrong: the frame cross-check fires
    val e3 = intercept[Exception](serve(good.copy(plainLen = good.plainLen + 2)))
    assert(e3.getMessage.contains("index drifted"), e3.getMessage)
    // a mid-member compOffset hits the magic check
    val e4 = intercept[Exception](serve(good.copy(compOffset = 3L,
      compLen = good.compLen)))
    assert(e4.getMessage.contains("bad gzip magic"), e4.getMessage)
    // sidecar text: header and line shape are required
    intercept[Exception](Warc.parseCdx("f", "not a header\na b c 1 2 3 4\n"))
    intercept[Exception](
      Warc.parseCdx("f", Warc.CdxHeader + "\nonly three fields\n"))
    // write-time field discipline: whitespace in a field is unwritable
    intercept[Exception](Warc.cdxBytes(Seq(good.copy(targetUri = "a b"))))
    // LINE-boundary truncation is loud: well-formed surviving lines
    // with the tail (and terminator) sliced off at a newline must not
    // parse as a complete smaller index
    val fullText = new String(Warc.cdxBytes(Seq(good, good.copy(
      recordId = "urn:graft:doc-6", plainOffset = good.plainLen))), UTF_8)
    assert(Warc.parseCdx("f", fullText).length == 2)
    val atLineBoundary = fullText.split("\n", -1).toSeq
    val e6 = intercept[Exception](Warc.parseCdx("f",
      atLineBoundary.take(2).mkString("", "\n", "\n"))) // header + 1 line
    assert(e6.getMessage.contains("CDX-END"), e6.getMessage)
    // a terminator whose declared count disagrees with the lines is loud
    val e7 = intercept[Exception](Warc.parseCdx("f",
      (atLineBoundary.take(2) :+ "CDX-END 2").mkString("", "\n", "\n")))
    assert(e7.getMessage.contains("CDX-END declares"), e7.getMessage)
    // content after the terminator is loud
    val e8 = intercept[Exception](Warc.parseCdx("f", fullText + "stray\n"))
    assert(e8.getMessage.contains("after the CDX-END"), e8.getMessage)
    // a multi-record member breaks the point-read layout contract loudly
    val two = Warc.gzipMember(r ++ Warc.buildRecord(7L, "second in member"))
    val e5 = intercept[Exception](Warc.cdxEntries(two))
    assert(e5.getMessage.contains("per-record-member"), e5.getMessage)
  }

  test("WARC digest headers: written on build, verified on read, loud on mismatch, sha1:BASE32 speaks too") {
    // synthesized records carry sha256 digests (ISO 28500 §5.8 labelled
    // form) over block (HTTP message) and payload (entity body)
    val rec = Warc.parseWarc(Warc.buildRecord(3L, "digest pinned body")).head
    assert(rec.headers.contains("warc-block-digest"))
    assert(rec.headers("warc-payload-digest").startsWith("sha256:"))
    Warc.parseHttpVerified(rec) // verifies both, must not throw
    // a flipped PAYLOAD byte is loud on the plain transport — the
    // integrity check the gzip CRC only gave the gz path
    val bytes = Warc.buildRecord(3L, "digest pinned body")
    val bodyAt = bytes.length - 5 // inside the html payload
    bytes(bodyAt) = (bytes(bodyAt) ^ 0x01).toByte
    val corrupt = Warc.parseWarc(bytes).head
    val e = intercept[Exception](Warc.parseHttpVerified(corrupt))
    assert(e.getMessage.contains("Digest mismatch") ||
      e.getMessage.contains("mismatch"), e.getMessage)
    // sha1:BASE32 — the Common Crawl convention — verifies against
    // python-pinned values (hashlib + base64.b32encode), and a wrong
    // base32 digest is loud
    val body = "<html><body>digest fixture page</body></html>".getBytes(UTF_8)
    val http = (s"HTTP/1.1 200 OK\r\nContent-Length: ${body.length}\r\n\r\n")
      .getBytes(UTF_8) ++ body
    def ccRecord(payloadDigest: String, blockDigest: String): Warc.WarcRecord = {
      val r = ("WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:0b8261bc-bd27-4d5c-8cdb-1a08d24b1e2f>\r\n" +
        "WARC-Target-URI: https://example.com/cc\r\n" +
        s"WARC-Payload-Digest: $payloadDigest\r\n" +
        s"WARC-Block-Digest: $blockDigest\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
        http ++ "\r\n\r\n".getBytes(UTF_8)
      Warc.parseWarc(r).head
    }
    Warc.parseHttpVerified(ccRecord(
      "sha1:JVSEUTZ4EJXASJ2GMOFKHSDH6Z5MC3TW",
      "sha1:K4IBKXWKDKK5N5SPWDCDEDXGIWHA44OW"))
    val e2 = intercept[Exception](Warc.parseHttpVerified(ccRecord(
      "sha1:AAAAUTZ4EJXASJ2GMOFKHSDH6Z5MC3TW",
      "sha1:K4IBKXWKDKK5N5SPWDCDEDXGIWHA44OW")))
    assert(e2.getMessage.contains("WARC-Payload-Digest mismatch"), e2.getMessage)
    // base32 itself pins against RFC 4648 vectors
    assert(Warc.base32("".getBytes(UTF_8)) == "")
    assert(Warc.base32("f".getBytes(UTF_8)) == "MY======")
    assert(Warc.base32("fo".getBytes(UTF_8)) == "MZXQ====")
    assert(Warc.base32("foo".getBytes(UTF_8)) == "MZXW6===")
    assert(Warc.base32("foob".getBytes(UTF_8)) == "MZXW6YQ=")
    assert(Warc.base32("fooba".getBytes(UTF_8)) == "MZXW6YTB")
    assert(Warc.base32("foobar".getBytes(UTF_8)) == "MZXW6YTBOI======")
    // unknown algorithm labels are tolerated (foreign-namespace
    // discipline); a missing label separator is not
    Warc.parseHttpVerified(ccRecord("md5:ignored", "blake3:ignored"))
    val e3 = intercept[Exception](Warc.parseHttpVerified(
      ccRecord("nodigestlabel", "sha1:K4IBKXWKDKK5N5SPWDCDEDXGIWHA44OW")))
    assert(e3.getMessage.contains("no algorithm label"), e3.getMessage)
    // WET conversion records carry a verifying block digest
    val wet = Warc.parseWarc(Warc.buildWetRecord(9L, "wet digest text")).head
    assert(wet.headers("warc-block-digest").startsWith("sha256:"))
    Warc.verifyDigests(wet, wet.payload)
  }

  test("chunked transfer-encoding captures de-chunk byte-exact; malformed chunking is loud") {
    // real crawls store responses AS CAPTURED, chunk framing included —
    // the reader must split a chunked message without a Content-Length.
    // Body crosses a hex-size boundary (>9 = 'a'+), carries a chunk
    // extension and a trailer field, and embeds CRLF inside chunk data.
    val part1 = "hello chunked "          // 14 = 0xe
    val part2 = "world\r\nwith crlf inside" // 23 = 0x17
    val body = (part1 + part2).getBytes(UTF_8)
    val msg = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" +
      "e;ext=1\r\n" + part1 + "\r\n" +
      "17\r\n" + part2 + "\r\n" +
      "0\r\n" +
      "X-Trailer: done\r\n\r\n").getBytes(UTF_8)
    val (status, got) = Warc.parseHttp(msg)
    assert(status == 200)
    assert(java.util.Arrays.equals(got, body),
      new String(got, UTF_8))
    // chunked wins over a (wrong) Content-Length per RFC 7230 §3.3.3
    val both = ("HTTP/1.1 200 OK\r\nContent-Length: 3\r\n" +
      "Transfer-Encoding: gzip, chunked\r\n\r\n" +
      "5\r\nabcde\r\n0\r\n\r\n").getBytes(UTF_8)
    assert(new String(Warc.parseHttp(both)._2, UTF_8) == "abcde")
    // and a chunked record audits end-to-end through the file reader
    val http = msg
    val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:11111111-2222-3333-4444-555555555555>\r\n" +
      "WARC-Target-URI: https://example.com/chunked\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
      http ++ "\r\n\r\n".getBytes(UTF_8)
    val out = java.nio.file.Files.createTempDirectory("wchunked-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "shard-00000.warc"), rec)
    val row = Warc.warcFileIngest(spark, out).collect().head
    assert(row.getAs[Long]("html_len") == body.length.toLong)
    assert(row.getAs[Long]("html_crc32") == crc(body))
    // the digest-convention split: wget/warcio-style writers digest the
    // RAW stored payload (chunk framing included), not the decoded
    // entity — an intact capture of THAT convention must verify through
    // the fallback, while a digest matching NEITHER coverage stays loud
    def hx(b: Array[Byte]): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    val headerEnd = msg.indexOfSlice("\r\n\r\n".getBytes(UTF_8)) + 4
    val rawTail = msg.drop(headerEnd)
    def recWithDigest(d: String): Array[Byte] =
      ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:11111111-2222-3333-4444-666666666666>\r\n" +
        "WARC-Target-URI: https://example.com/chunked\r\n" +
        s"WARC-Payload-Digest: sha256:$d\r\n" +
        s"Content-Length: ${msg.length}\r\n\r\n").getBytes(UTF_8) ++
        msg ++ "\r\n\r\n".getBytes(UTF_8)
    val rawConv = Warc.parseWarc(recWithDigest(hx(rawTail))).head
    assert(java.util.Arrays.equals(Warc.parseHttpVerified(rawConv)._2, body))
    val decConv = Warc.parseWarc(recWithDigest(hx(body))).head
    assert(java.util.Arrays.equals(Warc.parseHttpVerified(decConv)._2, body))
    val neither = Warc.parseWarc(recWithDigest(hx("flip".getBytes(UTF_8)))).head
    val eD = intercept[Exception](Warc.parseHttpVerified(neither))
    assert(eD.getMessage.contains("both the decoded body and the raw"),
      eD.getMessage)
    // corruption classes stay loud
    def loud(m: String): Unit = {
      val e = intercept[Exception](Warc.parseHttp(m.getBytes(UTF_8)))
      assert(e.isInstanceOf[IllegalArgumentException] ||
        e.getClass == classOf[RuntimeException], e.toString)
    }
    loud("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nab\r\n0\r\n\r\n") // bad hex
    loud("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nff\r\nshort\r\n0\r\n\r\n") // overrun
    loud("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n5\r\nabcde\r\n") // no last chunk
    // residue past the trailer: the decode must consume the ENTIRE
    // record payload — trailing garbage is corruption, not padding
    loud("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
      "5\r\nabcde\r\n0\r\n\r\ngarbage")
    loud("HTTP/1.1 200 OK\r\n\r\nno framing at all") // neither CL nor chunked
  }

  test("foreign record-ids (urn:uuid) audit with a stable hashed identity, not a crash") {
    // a REAL crawl's response record carries <urn:uuid:...>, not the
    // graft urn — the reader must map it to a stable opaque 64-bit id
    // and audit, never NumberFormatException on file one
    val body = "<html><body>real crawl page</body></html>".getBytes(UTF_8)
    val http = (s"HTTP/1.1 200 OK\r\nContent-Length: ${body.length}\r\n\r\n")
      .getBytes(UTF_8) ++ body
    val uuid = "<urn:uuid:0b8261bc-bd27-4d5c-8cdb-1a08d24b1e2f>"
    val rec = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      s"WARC-Record-ID: $uuid\r\n" +
      "WARC-Target-URI: https://example.com/page\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8) ++
      http ++ "\r\n\r\n".getBytes(UTF_8)
    val out = java.nio.file.Files.createTempDirectory("wforeign-").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "shard-00000.warc"), rec)
    val rows = Warc.warcFileIngest(spark, out).collect()
    assert(rows.length == 1)
    val id = rows(0).getAs[Long]("doc_id")
    // stable across reads, and equal to the documented SQL-reproducible
    // form: Spark SQL's xxhash64 (seed 42) over the raw id string — a
    // NON-linear 64-bit hash, so structured id families (sequential
    // uuids) can't collide the way the old GF(2)-linear CRC pair could
    val sqlHash = spark.sql(
      s"select xxhash64('${uuid.replace("'", "''")}')").head().getLong(0)
    assert(id == sqlHash)
    assert(rows(0).getAs[String]("target_uri") == "https://example.com/page")
    assert(rows(0).getAs[Long]("html_len") == body.length.toLong)
    // graft-synthesized ids still audit as the numeric oracle key
    val g = Warc.parseWarc(Warc.buildRecord(7L, "graft doc")).head
    assert(Warc.docIdOf(g) == 7L)
    // and a corrupt id in OUR namespace stays LOUD — hashing it would
    // turn container corruption into silent row loss at the metadata join
    val e = intercept[RuntimeException](Warc.docIdOf(
      g.copy(headers = g.headers + ("warc-record-id" -> "<urn:graft:doc-12f>"))))
    assert(e.getMessage.contains("corrupt graft record-id"), e.getMessage)
  }

  test("plain and gz containers coexist in one archive dir; mislabeled files fail loudly") {
    val docs = Seq(
      (0L, "doc zero body text here", "s0"),
      (1L, "doc one body text here", "s0"))
    val dir = writeDocs(docs)
    val out = java.nio.file.Files.createTempDirectory("w4mixed-").toString
    def writeFile(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(out, name), bytes)
    // shard 0 plain, shard 1 gz — a real archive dir mid-migration
    writeFile("shard-00000.warc", Warc.buildContainer(Seq(docs(0)._1 -> docs(0)._2)))
    writeFile("shard-00001.warc.gz", Warc.buildGzContainer(Seq(docs(1)._1 -> docs(1)._2)))
    val mixed = Warc.warcFileIngest(spark, out)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val inFlight = Warc.warcIngest(spark, dir, shardSize = 1)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(mixed == inFlight, "mixed-transport archive must audit as w1")
    // a PLAIN container mislabeled .warc.gz is a staging error, not a
    // guessing game — offsets mean different things in the two framings
    writeFile("shard-00002.warc.gz",
      Warc.buildContainer(Seq(5L -> "mislabeled plain bytes")))
    val e = intercept[Exception] {
      Warc.warcFileIngest(spark, out).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("extension says gzip but content is plain"), msgs)
  }
}
